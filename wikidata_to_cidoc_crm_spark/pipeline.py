"""End-to-end KG-construction pipeline with per-stage checkpoints + lineage.

Stage layout (SURVEY.md §7.1):

    corpusgen → ingest (span invariant) → link (pandas UDF) →
    authors/works/relations mapping → merge → write

Each stage can checkpoint its output as a parquet *stage table* with a
``_metrics`` row (stage, row_count, input fingerprint); a re-run with the
same fingerprint reuses the stage table — the north rule's resumability.
On a cluster the stage tables are Iceberg (`writeTo(...).createOrReplace`);
parquet is the sandbox stand-in (same layout, partitioned by subject hash
bucket on the triple tables).
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .fixtures import interleaved_corpus, make_world_scaled, world_to_spark
from .invariants import assert_span_invariant
from .linking import detect_mentions, linked_qids
from .plans.align import align_stage
from .plans.authors import authors_stage
from .plans.canonicalize import canonicalize_stage
from .plans.merge import merge_stage
from .plans.relations import relations_stage
from .plans.works import works_stage
from .session import lazy_checkpoint

TRIPLE_BUCKETS = 64


def _read_meta(path: str) -> dict | None:
    """A stage's checkpoint metadata, or None when it is missing, torn or
    malformed — the stage then rebuilds as on a cache miss."""
    try:
        with open(path) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) else None


class StageRunner:
    """Checkpointed stage execution with lineage metrics.

    When ``pipelined`` (default, in-memory mode only), each stage's
    distributed execution is forced from a background thread while the
    driver goes on to build the NEXT stage's plan — driver-side plan
    construction (py4j round-trips + Catalyst analysis, a fixed cost
    independent of data volume) overlaps with cluster execution instead of
    serializing with it. Correctness is unaffected: the lazy local
    checkpoint is materialized under Spark's per-block locks, so a
    downstream action that reaches it first simply computes it once and
    the background ``count`` finds the blocks cached. Call :meth:`wait`
    (or run any action on the final stage) before reading ``exec_sec``
    metrics.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None,
                 pipelined: bool = True):
        self.spark = spark
        self.dir = checkpoint_dir
        self.metrics: list[dict] = []
        self._pool = (ThreadPoolExecutor(max_workers=2, thread_name_prefix="stage-exec")
                      if pipelined and checkpoint_dir is None else None)
        self._pending: list = []
        # run() is called concurrently from the mapping-stage plan pool, so
        # _pending mutations must be atomic: two threads snapshotting the
        # same done future would double-remove (ValueError) without the lock
        self._pending_lock = threading.Lock()

    @staticmethod
    def _force(df: DataFrame, metric: dict, t_submit: float) -> None:
        df.count()  # first action materializes the lazy local checkpoint
        metric["exec_sec"] = round(time.time() - t_submit, 2)
        metric["wall_sec"] = round(metric["plan_sec"] + metric["exec_sec"]
                                   + metric.get("exec_embedded_sec", 0.0), 2)

    def wait(self) -> None:
        """Block until every background stage materialization finished.

        MANDATORY before treating a pipelined run as successful: executor
        failures in background ``_force`` calls surface only here (or via
        the next :meth:`run`). Terminal for pipelining — the pool is shut
        down; later stages on this runner execute synchronously.
        """
        with self._pending_lock:
            snapshot = list(self._pending)
            self._pending.clear()
        try:
            errors = []
            for fut in snapshot:
                try:
                    fut.result()
                except BaseException as e:  # noqa: BLE001 — re-raised below
                    errors.append(e)
            if len(errors) == 1:
                raise errors[0]
            if errors:  # surface EVERY root cause, not just the first
                raise ExceptionGroup("pipelined stage failures", errors)
        finally:
            if self._pool is not None:
                self._pool.shutdown(wait=True)
                self._pool = None

    def _raise_pending_failures(self) -> None:
        """Surface exceptions from already-finished background stages —
        without this, a consumer that never acts on the final stage would
        silently lose executor failures."""
        with self._pending_lock:
            done = [f for f in self._pending if f.done()]
            for fut in done:
                self._pending.remove(fut)
        # collect from EVERY popped future before raising: they are removed
        # from _pending, so an error raised on the first failure would drop
        # the remaining futures' exceptions (wait() would never see them)
        errors = []
        for fut in done:
            try:
                fut.result()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
        if len(errors) == 1:
            raise errors[0]
        if errors:
            raise ExceptionGroup("pipelined stage failures", errors)

    def run(self, name: str, fingerprint: str, build, lazy: bool = True) -> DataFrame:
        """``lazy=False`` keeps AQE for the stage's checkpoint: under AQE the
        checkpoint call executes every non-result stage synchronously, so use
        it ONLY for the final stage — its execution cannot overlap anything
        downstream, and AQE's runtime coalescing makes the many small
        dimension-sized shuffles cheaper than a fixed-width static plan."""
        t0 = time.time()
        self._raise_pending_failures()
        if self.dir:
            path = os.path.join(self.dir, name)
            meta_path = os.path.join(self.dir, f"{name}._metrics.json")
            from .sources.sinks import read_triples_table, write_triples

            meta = _read_meta(meta_path)
            if meta is not None and meta.get("fingerprint") == fingerprint:
                # resume from the recorded target — an Iceberg table id
                # when a catalog was configured, the parquet path
                # otherwise (reading `path` unconditionally would fail
                # on Iceberg runs: no parquet was ever written there)
                df = read_triples_table(self.spark, meta.get("target", path))
                self.metrics.append({**meta, "reused": True})
                return df
            df = build()
            # partition triple-shaped outputs by subject hash bucket
            # (north rule: repartition by subject-hash). write_triples uses
            # Iceberg's bucket(64, subj) transform when a catalog is
            # configured; parquet with an explicit subj_bucket otherwise.
            target = write_triples(df, name, path)
            out = read_triples_table(self.spark, target)
            meta = {
                "stage": name,
                "fingerprint": fingerprint,
                "target": target,
                "row_count": out.count(),
                "wall_sec": round(time.time() - t0, 2),
                "reused": False,
            }
            # write-then-rename: a crash mid-write leaves the old file or
            # none, never a torn one
            tmp = f"{meta_path}.tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, meta_path)
            self.metrics.append(meta)
            return out.drop("subj_bucket") if "subj_bucket" in out.columns else out
        # no checkpoint dir: truncate lineage in memory so downstream plans
        # stay small (Catalyst analysis cost grows with plan depth) and each
        # stage materializes exactly once. plan_sec = driver-side plan
        # construction (fixed cost, amortizes at scale); exec_sec = the
        # stage's distributed execution (the BASELINE.md-protocol number;
        # overlapped with the next stage's plan_sec when pipelined).
        df = build()
        t_built = time.time()
        df = df.transform(lazy_checkpoint) if lazy \
            else df.localCheckpoint(eager=False)
        t1 = time.time()
        metric = {"stage": name, "fingerprint": fingerprint,
                  "plan_sec": round((t1 - t0) if lazy else (t_built - t0), 2),
                  "reused": False}
        if not lazy:
            # under AQE the checkpoint call itself executes every
            # non-result stage — attribute that to exec, not planning
            metric["exec_embedded_sec"] = round(t1 - t_built, 2)
        self.metrics.append(metric)
        if self._pool is not None:
            with self._pending_lock:
                self._pending.append(
                    self._pool.submit(self._force, df, metric, t1))
        else:
            self._force(df, metric, t1)
        return df


def world_scale_for(sf_dir: str) -> int:
    """Deterministic world scale ∝ scale factor (sf0.001→1, sf0.01→2,
    sf0.1→20): the entity dimension grows with the corpus so pipeline
    output volume scales with input volume."""
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.001
    return max(1, round(sf * 200))


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str | None = None,
    check_invariant: bool = True,
    mentions_per_doc: int = 3,
    world_scale: int | None = None,
) -> DataFrame:
    """documents.parquet at ``sf_dir`` → merged CIDOC-CRM/LRMoo/INTRO triples.

    The Wikidata dimensions come from the deterministic fixture world (the
    engine's stand-in for the SPARQL endpoint, FIXTURES.md §2).
    """
    runner = StageRunner(spark, checkpoint_dir)
    scale = world_scale if world_scale is not None else world_scale_for(sf_dir)
    fp = f"{sf_dir}:{mentions_per_doc}:{scale}"

    world = make_world_scaled(scale)
    dims = world_to_spark(spark, world)
    for name in ("wd_statements", "wd_labels", "wd_subclass_closure",
                 "wd_property_closure", "wd_entities"):
        dims[name].cache()
    # size the label dimension ONCE per run and hand the broadcast decision
    # to all three mapping stages — three per-stage recounts of the same
    # cached dimension would serialize with the parallel plan construction.
    # The count itself (first action on the cached dim: parquet read + cache
    # fill, ~1.4 s) is independent of the corpus/mentions builds, so it runs
    # on a background thread and is resolved only where the mapping stages
    # need the flag — off the driver's serial critical path.
    from .plans.relations import LABEL_BROADCAST_MAX

    label_pool = ThreadPoolExecutor(max_workers=1,
                                    thread_name_prefix="label-count")
    f_broadcast_labels = label_pool.submit(
        lambda: dims["wd_labels"].count() <= LABEL_BROADCAST_MAX)
    try:
        corpus = runner.run(
            "corpus", fp,
            lambda: interleaved_corpus(
                spark, os.path.join(sf_dir, "documents.parquet"),
                dims["wd_entities"], mentions_per_doc=mentions_per_doc),
        )
        docs = corpus.select("doc_id", "spans")

        if check_invariant:
            # ingest must not disturb the span sequence (BASELINE.json input_hint)
            assert_span_invariant(corpus.select("doc_id", "spans"), docs)

        mentions = runner.run(
            "mentions", fp,
            lambda: detect_mentions(spark, docs, dims["wd_entities"]),
        )
        # LAZY checkpoints: the mapping stages' first background action
        # materializes these (once — per-block locks), so the corpus→mentions→
        # link chain executes off the driver's plan-construction critical path
        persons = linked_qids(mentions, dims["wd_entities"], "person").transform(lazy_checkpoint)
        works = linked_qids(mentions, dims["wd_entities"], "work").transform(lazy_checkpoint)
        broadcast_labels = f_broadcast_labels.result()
    finally:
        # on an early failure too: wait out the count and join its thread,
        # so no Spark job outlives the failed run
        label_pool.shutdown(wait=True, cancel_futures=True)

    # dedupe per stage BEFORE the checkpoint: the relation families emit
    # quadratically many duplicate triples on hub features (C(n,2) pairs
    # per feature re-emit the same feature/expression/interpretation
    # nodes), so materializing the raw emission wastes ~4x the I/O that
    # the deduped stage table needs. The merge dedup still runs (set
    # semantics across stages), but on already-compacted inputs.
    #
    # The three mapping stages are mutually independent (each reads only
    # the linked QIDs + dims), so their plan CONSTRUCTION runs in parallel
    # threads: driver-side Catalyst/py4j work is the pipeline's dominant
    # serial cost (the executors would otherwise idle while the driver
    # builds the ~90-rule relations DAG), and multi-threaded plan building
    # against one SparkSession is supported — each thread gets its own
    # py4j connection, analysis is JVM-side and parallel.
    with ThreadPoolExecutor(max_workers=3,
                            thread_name_prefix="stage-plan") as plan_pool:
        f_authors = plan_pool.submit(
            runner.run, "authors_triples", fp,
            lambda: authors_stage(spark, persons, dims["wd_statements"],
                                  dims["wd_labels"], dedupe=True,
                                  broadcast_labels=broadcast_labels))
        f_works = plan_pool.submit(
            runner.run, "works_triples", fp,
            lambda: works_stage(spark, works, dims["wd_statements"],
                                dims["wd_labels"], dedupe=True,
                                broadcast_labels=broadcast_labels))
        f_relations = plan_pool.submit(
            runner.run, "relations_triples", fp,
            lambda: relations_stage(
                spark, works, dims["wd_statements"], dims["wd_labels"],
                dims["wd_subclass_closure"], dims["wd_property_closure"],
                dedupe=True, broadcast_labels=broadcast_labels))
        authors_t = f_authors.result()
        works_t = f_works.result()
        relations_t = f_relations.result()
    merged = runner.run(
        "merged", fp,
        lambda: merge_stage(spark, [authors_t, works_t, relations_t]),
    )
    canonical = runner.run(
        "canonicalized", fp,
        lambda: canonicalize_stage(spark, merged),
    )
    # final stage: nothing downstream to overlap, so keep AQE (lazy=False)
    # — its runtime coalescing beats a static plan on the many
    # dimension-sized shuffles at small scale
    aligned = runner.run(
        "aligned", fp,
        lambda: align_stage(spark, canonical, dims["wd_external_ids"]),
        lazy=False,
    )
    aligned._pipeline_metrics = runner.metrics  # introspection for bench
    aligned._pipeline_runner = runner  # callers: runner.wait() before reading exec_sec
    return aligned


def main() -> None:
    """spark-submit entry point: run the pipeline and report metrics."""
    from .session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("wiki2crm-pipeline")
    t0 = time.time()
    out = run_pipeline(spark, sf_dir)
    n = out.count()
    wall = time.time() - t0
    print(json.dumps({"triples": n, "wall_sec": round(wall, 2),
                      "triples_per_sec": round(n / wall, 1)}))


if __name__ == "__main__":
    main()
