"""Per-layer metrics of a traced execution, derived from its spans.

Every name in :data:`PER_LAYER` is reported by every traced run. A layer
the workload does not exercise (the operator leaves on ``pipeline``, the
pipeline stages on ``operators``) reads 0.
"""

from __future__ import annotations

from evlog import TOTALS
from spans import Span, union_s
from workloads import LEAVES, STAGE_BUILDS

STAGES = list(STAGE_BUILDS)
PLAN_BUILDS = ["authors", "works", "relations", "merge", "canonicalize", "align"]

PER_LAYER: dict[str, str] = {"session.get_spark_s": "s"}
PER_LAYER.update({
    "fixtures.make_world_scaled_s": "s",
    "fixtures.world_to_spark_s": "s",
    "fixtures.interleaved_corpus.build_s": "s",
    "linking.detect_mentions.build_s": "s",
})
PER_LAYER.update({f"plans.{p}.build_s": "s" for p in PLAN_BUILDS})
for _s in STAGES:
    PER_LAYER[f"stage.{_s}.exec_s"] = "s"
    PER_LAYER[f"stage.{_s}.rows"] = "count"
PER_LAYER.update({"plans.relations.useful_ratio": "1",
                  "plans.merge.useful_ratio": "1",
                  "pipeline.driver_busy_s": "s"})
PER_LAYER.update({f"pipeline.wait_s.{s}": "s" for s in STAGES})
PER_LAYER.update({"sources.write_triples_s": "s", "sources.write_bytes": "bytes",
                  "sources.read_triples_table_s": "s"})
for _leaf in LEAVES:
    PER_LAYER[f"operators.{_leaf}_s"] = "s"
    PER_LAYER[f"operators.{_leaf}.rows"] = "count"
PER_LAYER.update({name: ("count" if name in ("spark.jobs", "spark.tasks")
                         else "bytes" if name.endswith("_bytes") else "s")
                  for name in TOTALS})
PER_LAYER.update({"host.steal_s": "s", "host.loadavg_1m": "1",
                  "trace.overhead_s": "s"})


def _total(spans: list[Span], name: str) -> float:
    return sum(s.duration for s in spans if s.name == name)


def _one(spans: list[Span], name: str) -> Span | None:
    found = [s for s in spans if s.name == name]
    return found[-1] if found else None


def pipeline_layers(spans: list[Span], lazy: dict[str, bool]) -> dict[str, float]:
    """Build, wait and exec seconds per stage from one execution's spans.

    ``lazy`` maps each stage to whether StageRunner checkpointed it lazily.
    A stage's plan time is its ``stage.run`` span (lazy) or the run span up
    to the end of its build (eager: the checkpoint call itself executes).
    Waiting is plan time not covered by the stage's own build span.
    """
    out = {
        "fixtures.make_world_scaled_s": _total(spans, "fixtures.make_world_scaled"),
        "fixtures.world_to_spark_s": _total(spans, "fixtures.world_to_spark"),
    }
    builds = []
    for stage, build_name in STAGE_BUILDS.items():
        run, build = _one(spans, f"stage.run:{stage}"), _one(spans, build_name)
        force = _one(spans, f"stage.exec:{stage}")
        if run is None or build is None or force is None:
            raise RuntimeError(f"stage {stage} left no run/build/exec span")
        builds.append((build.start, build.end))
        out[build_name + "_s"] = build.duration
        plan = run.duration if lazy[stage] else build.end - run.start
        out[f"pipeline.wait_s.{stage}"] = plan - build.duration
        embedded = 0.0 if lazy[stage] else run.end - build.end
        out[f"stage.{stage}.exec_s"] = force.duration + embedded
    out["pipeline.driver_busy_s"] = union_s(builds)
    return out


def operator_layers(spans: list[Span], rows: dict[str, int]) -> dict[str, float]:
    out = {}
    for leaf in LEAVES:
        out[f"operators.{leaf}_s"] = _total(spans, f"operators.{leaf}")
        out[f"operators.{leaf}.rows"] = rows[leaf]
    return out


def complete(measured: dict[str, float]) -> dict[str, float]:
    """Every :data:`PER_LAYER` name, 0 where the workload has no such layer."""
    unknown = set(measured) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {name: float(measured.get(name, 0.0)) for name in PER_LAYER}
