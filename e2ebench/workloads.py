"""What one execution of each workload runs, and how its output is checked.

Runs inside the benchmark's Spark process (``worker.py``). ``execute`` is
the timed unit; ``observe`` runs after the clock stops and reduces the
output to row counts and digests, which ``run.py`` compares with the
reference (``expected.mismatches``).
"""

from __future__ import annotations

import contextlib

from expected import APPROXIMATE, digest, lines

# the slowest leaves of __spark_entry__.queries(), each a fixpoint or a
# pair generator that no pipeline stage calls
LEAVES = ["cc_components", "dedup_token_jaccard", "dedup_simhash",
          "closure_transitive", "dedup_minhash_lsh", "j8_pair_join",
          "ann_lsh_topk", "text_quality"]

# StageRunner stage → the traced function that builds its plan
STAGE_BUILDS = {
    "corpus": "fixtures.interleaved_corpus.build",
    "mentions": "linking.detect_mentions.build",
    "authors_triples": "plans.authors.build",
    "works_triples": "plans.works.build",
    "relations_triples": "plans.relations.build",
    "merged": "plans.merge.build",
    "canonicalized": "plans.canonicalize.build",
    "aligned": "plans.align.build",
}


class Pipeline:
    """``run_pipeline`` over the seeded documents, in memory and pipelined."""

    def __init__(self, spark, data_dir: str, world_scale: int):
        self.spark = spark
        self.data_dir = data_dir
        self.world_scale = world_scale

    def prepare(self) -> None:
        """Fill the world cache, so no timed execution populates it."""
        from wikidata_to_cidoc_crm_spark.fixtures import make_world_scaled, world_to_spark

        world_to_spark(self.spark, make_world_scaled(self.world_scale))

    def execute(self):
        from wikidata_to_cidoc_crm_spark.pipeline import run_pipeline

        out = run_pipeline(self.spark, self.data_dir, world_scale=self.world_scale)
        n = out.count()
        runner = getattr(out, "_pipeline_runner", None)
        if runner is not None:
            runner.wait()  # background stage failures surface here
        return out, n

    def observe(self, result) -> dict:
        """What the output check needs: rows and digest of the triples."""
        out, n = result
        rows = out.collect()
        return {"pipeline": {"rows": n, "collected": len(rows),
                             "digest": digest(rows, out.columns)}}


class Operators:
    """The slow operator leaves, each collected to the driver."""

    def __init__(self, spark, data_dir: str, tracer=None):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer

    def prepare(self) -> None:
        import __spark_entry__  # noqa: F401 — import cost belongs to set-up

    def execute(self):
        import __spark_entry__ as entry

        queries = entry.queries()
        out = {}
        for leaf in LEAVES:
            span = (self.tracer.span(f"operators.{leaf}") if self.tracer
                    else contextlib.nullcontext())
            with span:
                df = queries[leaf](self.spark, self.data_dir)
                out[leaf] = (df.columns, df.collect())
        return out

    def observe(self, result) -> dict:
        obs = {}
        for leaf, (cols, rows) in result.items():
            obs[leaf] = {"rows": len(rows), "digest": digest(rows, cols)}
            if leaf in APPROXIMATE:
                obs[leaf]["lines"] = lines(rows, cols)
        return obs
