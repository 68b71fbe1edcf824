"""End-to-end benchmark of the wiki2crm Spark engine.

    python3 e2ebench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from ``--seed``,
computes the reference output, then starts one fresh benchmark process
(``worker.py``) on ``local[<cores>]`` that times its set-up, one cold
execution and warm executions for at least ``--seconds``, one call at a
time. Every execution's output is checked. The last line of standard
output is one JSON object::

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced warm execution (``--trace 1``). A readable table of the same numbers,
``failed_frac`` included, goes to standard error. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]  # the benchmark's modules, then the program

import host  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("pipeline", "operators")
PIPELINE_WORLD_SCALE = 1
# warm executions per run. A pipeline execution takes ~20 s warm and ~37 s
# cold at local[4]; the run budget (48 runs of both workloads in 57 min)
# leaves no room for a warm one.
MIN_WARM = {"pipeline": 0, "operators": 2}
DEADLINE_S = 170  # a run must end within 180 s
END_TO_END = {"setup_s": "s", "cold_s": "s", "rows_per_s": "1/s",
              "cpu_s": "s", "peak_rss_mb": "MB"}


class BenchError(RuntimeError):
    pass


def driver_mem_gb() -> int:
    """A quarter of the host's memory, between 1 and 8 GiB (the measured
    sf0.1 pipeline peak fits in an 8g heap); never the program's 48g."""
    return int(max(1, min(8, host.mem_total_gb() // 4)))


def program_present() -> None:
    for rel in ("wikidata_to_cidoc_crm_spark/pipeline.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(REPO, rel)):
            raise BenchError(f"program file {rel} not found under {REPO}")


def worker_env(work: str, cores: int) -> dict[str, str]:
    """The host pinned from the harness: the program's own defaults (32
    cores, 48g) never apply, and every scratch dir is this run's own."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_", "SPARK_LOCAL"))}
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WORLD_CACHE": os.path.join(work, "world-cache"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([REPO, HERE] + (
            [os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])),
    })
    return env


def expected_output(workload: str, data_dir: str):
    import expected

    if workload == "pipeline":
        return expected.pipeline_output(data_dir, PIPELINE_WORLD_SCALE)
    from workloads import LEAVES

    return expected.operator_outputs(data_dir, LEAVES)


def _reap_group(pgid: int) -> None:
    """Stop whatever is left of the worker's process group and wait until
    it is gone (the JVM may outlive the Python driver for a moment)."""
    deadline = time.time() + 10
    sig = signal.SIGTERM
    while time.time() < deadline:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)
        if time.time() > deadline - 5:
            sig = signal.SIGKILL
    raise BenchError(f"processes of group {pgid} did not exit")


def run_worker(cfg: dict, env: dict, log_path: str, deadline: float,
               reference) -> tuple[dict, dict]:
    """Run ``worker.py`` to completion; returns its result and the output of
    ``reference()``, which runs once the measurement is over (while the
    worker stops Spark), so it never competes with a timed execution."""
    cfg_path = os.path.join(cfg["tmp"], "config.json")
    cfg["spawn_time"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    ref = code = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                                cwd=cfg["tmp"], env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            while proc.poll() is None and not os.path.exists(cfg["result"]) \
                    and time.time() < deadline:
                time.sleep(0.2)
            if os.path.exists(cfg["result"]):
                ref = reference()
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _reap_group(proc.pid)
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        raise BenchError(f"benchmark process {'timed out' if code is None else f'exited {code}'}"
                         f"; log: {log_path}")
    with open(cfg["result"]) as f:
        return json.load(f), ref


def verify(executions: list[dict], reference: dict) -> stats.Tally:
    """Count every execution; one that raised or whose output does not
    match the reference is failed, with its reason kept."""
    import expected

    tally, first = stats.Tally(), {}
    for e in executions:
        reasons = [e["error"]] if e["error"] else expected.mismatches(
            e["outputs"], reference, first)
        tally.record(not reasons, "; ".join(reasons))
    return tally


def end_to_end(result: dict) -> dict[str, float]:
    """Throughput and CPU are medians over the warm executions, or come from
    the cold one on a workload that runs none."""
    cold = [e for e in result["executions"] if e["kind"] == "cold"]
    warm = [e for e in result["executions"] if e["kind"] == "warm" and not e["traced"]]
    steady = warm or cold
    wall = stats.median([e["wall_s"] for e in steady])
    return {
        "setup_s": result["setup_s"],
        "cold_s": cold[0]["wall_s"],
        "rows_per_s": stats.median([e["rows"] for e in steady]) / wall,
        "cpu_s": stats.median([e["cpu_s"] for e in steady]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def report(metrics: dict[str, float], units: dict[str, str], result: dict,
           tally: stats.Tally) -> None:
    rows = [(k, v, units[k]) for k, v in metrics.items()]
    rows.append(("failed_frac", tally.failed_frac, "1"))
    for e in result["executions"]:
        sys.stderr.write(f"  {e['run']:<10} wall={e['wall_s']:8.3f}s cpu={e['cpu_s']:8.3f}s "
                         f"rows={e['rows']} steal={e['steal_s']:.2f}s "
                         f"load={e['loadavg_1m']:.2f}\n")
    for reason in tally.failures:
        sys.stderr.write(f"  FAILED: {reason}\n")
    for name, value, unit in rows:
        sys.stderr.write(f"{name:<42} {value:>16.6g} {unit}\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    try:
        program_present()
        import inputs

        out_dir = os.path.join(REPO, ".e2ebench_out", f"{args.workload}-trace{args.trace}")
        work = os.path.join(REPO, ".e2ebench_work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        for sub in ("data", "tmp", "spark-local", "world-cache", "eventlog"):
            os.makedirs(os.path.join(work, sub))
        try:
            data_dir = os.path.join(work, "data")
            inputs.write(args.workload, args.seed, data_dir)
            cores = host.cores()
            cfg = {"workload": args.workload, "data_dir": data_dir,
                   "seconds": args.seconds, "trace": bool(args.trace),
                   "cores": cores, "world_scale": PIPELINE_WORLD_SCALE,
                   "min_warm": MIN_WARM[args.workload],
                   "tmp": os.path.join(work, "tmp"),
                   "event_log_dir": os.path.join(work, "eventlog"),
                   "result": os.path.join(out_dir, "result.json")}
            result, reference = run_worker(
                cfg, worker_env(work, cores), os.path.join(out_dir, "worker.log"),
                started + DEADLINE_S, lambda: expected_output(args.workload, data_dir))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(f"run wall {time.time() - started:.2f}s, of which "
                         f"{time.time() - result['measured_end']:.2f}s after measuring\n")
        tally = verify(result["executions"], reference)
        if args.trace:
            metrics = result["layers"]["metrics"]
            from layers import PER_LAYER as units
        else:
            metrics, units = end_to_end(result), END_TO_END
    except BenchError as e:
        print(f"e2ebench: {e}", file=sys.stderr)
        return 2
    report(metrics, units, result, tally)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
