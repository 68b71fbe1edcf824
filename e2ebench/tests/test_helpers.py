"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import evlog  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from expected import digest  # noqa: E402
from spans import Span, Tracer, union_s  # noqa: E402


def test_quartiles_match_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = stats.quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.summarize(values)["n"] == 10


def test_single_sample_is_its_own_quartiles():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.spread([2.5]) == 0.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


def test_tally_counts_raises_and_check_failures():
    t = stats.Tally()
    t.record(True)
    t.record(False, "pipeline: got 6 rows, expected 7")
    t.record(False)
    t.record(True)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert t.failures == ["pipeline: got 6 rows, expected 7", "failed"]


def test_tally_with_nothing_attempted_is_all_failed():
    assert stats.Tally().failed_frac == 1.0


def _event_lines():
    task = {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Finish Time": 1500},
        "Task Metrics": {
            "Executor Run Time": 2000, "Executor CPU Time": 1_500_000_000,
            "JVM GC Time": 100, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
        },
    }
    late = json.loads(json.dumps(task))
    late["Task Info"]["Finish Time"] = 5000
    return [
        json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 1100}),
        json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 900}),
        json.dumps(task), json.dumps(task), json.dumps(late),
        '{"Event": "SparkListenerTaskEnd", "Task Info"',  # torn last line
    ]


def test_event_log_totals_inside_window(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(_event_lines()) + "\n")
    out = evlog.totals(evlog.events(str(path)), 1000, 2000)
    assert out == {
        "spark.jobs": 1, "spark.tasks": 2, "spark.executor_run_s": 4.0,
        "spark.executor_cpu_s": 3.0, "spark.gc_s": 0.2,
        "spark.shuffle_read_bytes": 60, "spark.shuffle_write_bytes": 80,
        "spark.spill_bytes": 20,
    }
    assert evlog.log_file(str(tmp_path)) == str(path)


def test_event_log_window_with_nothing_has_every_key():
    assert evlog.totals([], 0, 1) == dict.fromkeys(evlog.TOTALS, 0.0)


def test_union_of_overlapping_intervals():
    assert union_s([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert union_s([]) == 0.0


def test_tracer_parents_other_threads_to_the_run():
    import threading

    tr = Tracer()

    def pool_work():
        with tr.span("pool"):
            pass

    with tr.run("warm1") as root:
        with tr.span("outer") as outer:
            with tr.span("inner") as inner:
                pass
        t = threading.Thread(target=pool_work)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    pool = next(s for s in tr.spans if s.name == "pool")
    assert inner.parent == outer.id and outer.parent == root.id
    assert pool.parent == root.id and pool.thread != root.thread
    assert {s.run for s in tr.spans} == {"warm1"}


def test_tracer_wrap_records_spans():
    class Box:
        @staticmethod
        def add(a, b):
            return a + b

        def twice(self, x):
            return 2 * x

    tr = Tracer()
    tr.wrap(Box, "add", "box.add")
    tr.wrap(Box, "twice", lambda self, x: f"box.twice:{x}")
    with tr.run("r"):
        assert Box.add(1, 2) == 3
        assert Box().twice(4) == 8
    assert sorted(s.name for s in tr.in_run("r")) == ["box.add", "box.twice:4", "run"]
    assert isinstance(Box.__dict__["add"], staticmethod)


def test_tracer_records_nothing_outside_a_run():
    class Box:
        def twice(self, x):
            return 2 * x

    tr = Tracer()
    tr.wrap(Box, "twice", lambda self, x: f"box.twice:{x}")
    assert Box().twice(3) == 6
    with tr.span("loose") as s:
        assert s is None
    assert tr.spans == []


def _span(name, start, end):
    return Span(0, name, start, end, None, "r", "t")


def test_pipeline_layers_split_plan_into_build_and_wait():
    spans = []
    t = 0.0
    for stage, build in layers.STAGE_BUILDS.items():
        spans += [_span(f"stage.run:{stage}", t, t + 3), _span(build, t + 0.5, t + 2.5),
                  _span(f"stage.exec:{stage}", t + 3, t + 4)]
        t += 3
    lazy = {s: s != "aligned" for s in layers.STAGES}
    out = layers.pipeline_layers(spans, lazy)
    assert out["pipeline.wait_s.corpus"] == pytest.approx(1.0)  # 3 s plan, 2 s build
    assert out["stage.corpus.exec_s"] == pytest.approx(1.0)
    # eager final stage: plan ends with the build, the rest of run() executed
    assert out["pipeline.wait_s.aligned"] == pytest.approx(0.5)
    assert out["stage.aligned.exec_s"] == pytest.approx(1.5)
    assert out["pipeline.driver_busy_s"] == pytest.approx(16.0)
    for stage, build in layers.STAGE_BUILDS.items():
        plan = 3.0 if lazy[stage] else 2.5
        assert out[build + "_s"] + out[f"pipeline.wait_s.{stage}"] == pytest.approx(plan)


def test_pipeline_layers_reject_a_missing_stage():
    with pytest.raises(RuntimeError):
        layers.pipeline_layers([], {s: True for s in layers.STAGES})


def test_complete_fills_every_declared_metric():
    out = layers.complete({"session.get_spark_s": 1.5})
    assert set(out) == set(layers.PER_LAYER) and out["session.get_spark_s"] == 1.5
    assert out["operators.cc_components_s"] == 0.0
    with pytest.raises(KeyError):
        layers.complete({"no.such_metric": 1})


def test_per_layer_names_match_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert declared == layers.PER_LAYER


def test_documents_keep_the_31_token_vocabulary():
    import random

    import inputs

    for seed in (1, 1000, 2009):
        texts = inputs.documents(random.Random(seed)).column("text").to_pylist()
        tokens = {w for t in texts for w in t.split(" ")}
        # at most 63 tokens selects the bitmask path of dedup.jaccard_pairs
        assert tokens == set(inputs.VOCAB) | {"dup"} and len(tokens) == 31


def test_digest_ignores_row_and_column_order():
    a = digest([(1, "x", 0.5), (2, "y", None)], ["id", "s", "f"])
    b = digest([("y", 2, None), ("x", 1, 0.5000001)], ["s", "id", "f"])
    assert a == b
    assert a != digest([(1, "x", 0.5)], ["id", "s", "f"])


def test_mismatches_and_failed_frac_accounting():
    import run
    from expected import lines

    ref_rows = [(1, 2, 0.5), (1, 3, 0.9), (2, 3, 0.75)]
    cols = ["a", "b", "jaccard"]
    reference = {
        "j8_pair_join": [2, digest([(1, 2), (3, 4)], ["p1", "p2"])],
        "dedup_minhash_lsh": [3, lines(ref_rows, cols)],
    }

    def execution(pairs, lsh_rows, error=""):
        return {"error": error, "outputs": {} if error else {
            "j8_pair_join": {"rows": len(pairs), "digest": digest(pairs, ["p1", "p2"])},
            "dedup_minhash_lsh": {"rows": len(lsh_rows), "digest": digest(lsh_rows, cols),
                                  "lines": lines(lsh_rows, cols)}}}

    good = [(3, 4), (1, 2)]
    executions = [
        execution(good, ref_rows[1:]),           # LSH missed a pair: allowed
        execution(good, ref_rows[1:]),
        execution([(1, 2)], ref_rows[1:]),       # wrong row count
        execution(good, [(1, 2, 0.4)]),          # a pair not in the exact set
        execution(good, ref_rows),               # differs from the first execution
        execution(good, ref_rows[1:], error="Traceback: boom"),
    ]
    tally = run.verify(executions, reference)
    assert (tally.attempted, tally.failed) == (6, 4)
    assert tally.failed_frac == pytest.approx(4 / 6)
    assert "j8_pair_join: got 1 rows" in tally.failures[0]
    assert "not in the exact reference" in tally.failures[1]
    assert "differs from the first execution" in tally.failures[2]
    assert tally.failures[3] == "Traceback: boom"


def test_pipeline_count_must_match_collected_rows():
    from expected import mismatches

    d = digest([("s", "p", "o")], ["subj", "pred", "obj"])
    ok = {"pipeline": {"rows": 1, "collected": 1, "digest": d}}
    short = {"pipeline": {"rows": 2, "collected": 1, "digest": d}}
    assert mismatches(ok, {"pipeline": [1, d]}, {}) == []
    assert mismatches(short, {"pipeline": [1, d]}, {})
    assert mismatches({}, {"pipeline": [1, d]}, {}) == ["pipeline: no output"]
