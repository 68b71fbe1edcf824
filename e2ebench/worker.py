"""One benchmark process: set up, one cold execution, then warm executions.

Started by ``run.py`` as ``python3 worker.py <config.json>``; writes its
samples to the config's ``result`` path. Untraced runs time the program
with nothing rebound. Traced runs (``trace``: true) alternate untraced and
traced warm executions. Only the traced ones record spans through the
program's rebound entry points and write Spark's event log, for the
per-layer totals; the untraced ones are the baseline of ``trace.overhead_s``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback


def _rebind(tracer) -> None:
    """Rebind the public entry points ``run_pipeline`` calls."""
    from wikidata_to_cidoc_crm_spark import pipeline

    for attr, name in [
        ("make_world_scaled", "fixtures.make_world_scaled"),
        ("world_to_spark", "fixtures.world_to_spark"),
        ("interleaved_corpus", "fixtures.interleaved_corpus.build"),
        ("detect_mentions", "linking.detect_mentions.build"),
        ("authors_stage", "plans.authors.build"),
        ("works_stage", "plans.works.build"),
        ("relations_stage", "plans.relations.build"),
        ("merge_stage", "plans.merge.build"),
        ("canonicalize_stage", "plans.canonicalize.build"),
        ("align_stage", "plans.align.build"),
    ]:
        tracer.wrap(pipeline, attr, name)
    tracer.wrap(pipeline.StageRunner, "run",
                lambda self, name, *a, **k: f"stage.run:{name}")
    tracer.wrap(pipeline.StageRunner, "_force",
                lambda df, metric, t_submit: f"stage.exec:{metric['stage']}")


class Recorder:
    """Captures what a traced pipeline execution builds, for the untimed
    per-layer extras that follow it (stage row counts, relations raw rows)."""

    def __init__(self, pipeline_module):
        self.stage_dfs: dict[str, object] = {}
        self.lazy: dict[str, bool] = {}
        self.relations_call = None
        self.active = False
        run, relations = pipeline_module.StageRunner.run, pipeline_module.relations_stage
        rec = self

        def run_hook(runner, name, fingerprint, build, lazy=True):
            df = run(runner, name, fingerprint, build, lazy=lazy)
            if rec.active:
                rec.stage_dfs[name], rec.lazy[name] = df, lazy
            return df

        def relations_hook(*args, **kwargs):
            if rec.active:
                rec.relations_call = (args, kwargs)
            return relations(*args, **kwargs)

        pipeline_module.StageRunner.run = run_hook
        pipeline_module.relations_stage = relations_hook
        self.raw_relations = relations


def main(config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)
    import host

    trace = cfg["trace"]
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={cfg['tmp']} -XX:-UsePerfData"}
    from wikidata_to_cidoc_crm_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("e2ebench", cores=cfg["cores"],
                      shuffle_partitions=cfg["cores"], extra_conf=conf)
    get_spark_s = time.perf_counter() - t0

    tracer = recorder = None
    if trace:
        from spans import Tracer

        tracer = Tracer()
        if cfg["workload"] == "pipeline":
            from wikidata_to_cidoc_crm_spark import pipeline as pipeline_module

            _rebind(tracer)
            recorder = Recorder(pipeline_module)

    import workloads

    if cfg["workload"] == "pipeline":
        wl = workloads.Pipeline(spark, cfg["data_dir"], cfg["world_scale"])
    else:
        wl = workloads.Operators(spark, cfg["data_dir"], tracer)
    wl.prepare()
    setup_s = time.time() - cfg["spawn_time"]
    print(f"[e2ebench] setup {setup_s:.3f}s (get_spark {get_spark_s:.3f}s)",
          file=sys.stderr, flush=True)

    import evlog

    me = os.getpid()
    executions = []

    @contextlib.contextmanager
    def traced_run(run_id: str):
        log_dir = os.path.join(cfg["event_log_dir"], run_id)
        os.makedirs(log_dir)
        with evlog.attached(spark, log_dir), tracer.run(run_id):
            yield

    def execute(kind: str, traced: bool) -> dict:
        run_id = f"{kind}{len(executions)}"
        steal0, cpu0 = host.steal_s(), host.tree_cpu_s(me)
        start_ms = time.time() * 1000
        t = time.perf_counter()
        result, reason = None, ""
        if recorder is not None:
            recorder.active = traced
        try:
            with traced_run(run_id) if traced else contextlib.nullcontext():
                result = wl.execute()
        except Exception:  # noqa: BLE001 — a failed execution is a sample
            reason = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t
        end_ms = time.time() * 1000
        cpu, steal = host.tree_cpu_s(me) - cpu0, host.steal_s() - steal0
        outputs = {}
        if not reason:
            try:
                outputs = wl.observe(result)
            except Exception:  # noqa: BLE001
                reason = traceback.format_exc(limit=3)
        print(f"[e2ebench] {run_id} traced={traced} wall={wall:.3f}s "
              f"cpu={cpu:.2f}s steal={steal:.2f}s {reason or 'ok'}",
              file=sys.stderr, flush=True)
        rec = {"run": run_id, "kind": kind, "traced": traced, "wall_s": wall,
               "cpu_s": cpu, "rows": sum(o["rows"] for o in outputs.values()),
               "outputs": outputs, "error": reason,
               "steal_s": steal, "loadavg_1m": host.loadavg_1m(),
               "start_ms": start_ms, "end_ms": end_ms}
        executions.append(rec)
        return rec

    # measure for at least `seconds` from the start of the cold execution
    # and for at least min_warm warm executions; a traced run needs one
    # untraced and one traced warm execution to price the tracing
    started = time.perf_counter()
    execute("cold", traced=False)
    min_warm = max(cfg["min_warm"], 1) if trace else cfg["min_warm"]
    n_warm = 0
    while n_warm < min_warm or time.perf_counter() - started < cfg["seconds"]:
        if trace:
            # alternate which goes first, so warm-up drift cancels in pairs
            for traced in ((False, True) if n_warm % 2 == 0 else (True, False)):
                execute("warm", traced=traced)
        else:
            execute("warm", traced=False)
        n_warm += 1

    result = {"setup_s": setup_s, "get_spark_s": get_spark_s,
              "executions": executions,
              "peak_rss_mb": host.peak_rss_mb([me] + host.java_pids(me)),
              "measured_end": time.time()}
    if trace:
        t = time.perf_counter()
        result["layers"] = _traced_layers(cfg, spark, tracer, recorder,
                                          executions, get_spark_s)
        result["spans"] = tracer.dump()
        print(f"[e2ebench] per-layer extras {time.perf_counter() - t:.3f}s",
              file=sys.stderr, flush=True)
    # written whole before Spark stops: run.py starts its reference
    # computation as soon as the file appears
    tmp = cfg["result"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.rename(tmp, cfg["result"])
    spark.stop()
    return 0


def _traced_layers(cfg, spark, tracer, recorder, executions, get_spark_s) -> dict:
    """Per-layer metrics of the last traced warm execution."""
    import evlog
    import layers

    warm = [e for e in executions if e["kind"] == "warm"]
    traced = [e for e in warm if e["traced"]]
    last = traced[-1]
    spans = tracer.in_run(last["run"])
    measured = {
        "session.get_spark_s": get_spark_s,
        "host.steal_s": last["steal_s"],
        "host.loadavg_1m": last["loadavg_1m"],
        "trace.overhead_s": statistics.median(e["wall_s"] for e in traced)
        - statistics.median(e["wall_s"] for e in warm if not e["traced"]),
    }
    details = {}
    if cfg["workload"] == "pipeline":
        measured.update(layers.pipeline_layers(spans, recorder.lazy))
        recorder.active = False
        rows = {s: df.count() for s, df in recorder.stage_dfs.items()}
        for stage, n in rows.items():
            measured[f"stage.{stage}.rows"] = n
        args, kwargs = recorder.relations_call
        raw = recorder.raw_relations(*args, **{**kwargs, "dedupe": False}).count()
        measured["plans.relations.useful_ratio"] = rows["relations_triples"] / raw
        measured["plans.merge.useful_ratio"] = rows["merged"] / sum(
            rows[s] for s in ("authors_triples", "works_triples", "relations_triples"))
        measured.update(_sink_layers(spark, recorder.stage_dfs["aligned"],
                                     rows["aligned"], cfg["tmp"]))
        details["plan_sec_program"] = _program_plan_sec(recorder)
    else:
        measured.update(layers.operator_layers(
            spans, {leaf: o["rows"] for leaf, o in last["outputs"].items()}))
    log = evlog.log_file(os.path.join(cfg["event_log_dir"], last["run"]))
    measured.update(evlog.totals(evlog.events(log), last["start_ms"], last["end_ms"]))
    return {"metrics": layers.complete(measured), "details": details}


def _sink_layers(spark, aligned, n_rows: int, tmp: str) -> dict:
    """Write the final triples through the checkpoint sink and read them back."""
    from wikidata_to_cidoc_crm_spark.sources.sinks import read_triples_table, write_triples

    path = os.path.join(tmp, "sink_aligned")
    t = time.perf_counter()
    target = write_triples(aligned, "aligned", path)
    write_s = time.perf_counter() - t
    t = time.perf_counter()
    n = read_triples_table(spark, target).count()
    read_s = time.perf_counter() - t
    if n != n_rows:
        raise RuntimeError(f"sink round trip: wrote {n_rows} rows, read {n}")
    return {"sources.write_triples_s": write_s,
            "sources.write_bytes": sum(os.path.getsize(os.path.join(d, f))
                                       for d, _, files in os.walk(path) for f in files),
            "sources.read_triples_table_s": read_s}


def _program_plan_sec(recorder) -> dict:
    metrics = getattr(recorder.stage_dfs["aligned"], "_pipeline_metrics", None) or []
    return {m["stage"]: m.get("plan_sec") for m in metrics}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
