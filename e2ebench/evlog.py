"""Spark's event log around one execution, and its totals.

:func:`attached` adds Spark's own event-log listener to a running
application for the length of a ``with`` block, so only the traced
executions pay for writing the log. :func:`totals` reads the JSON-lines log
and sums the jobs submitted and the tasks finished inside
``[start_ms, end_ms]`` (epoch milliseconds).
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

TOTALS = ("spark.jobs", "spark.tasks", "spark.executor_run_s",
          "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
          "spark.shuffle_write_bytes", "spark.spill_bytes")


@contextmanager
def attached(spark, log_dir: str):
    """Write the event log of everything ``spark`` runs inside the block to
    ``log_dir``; the log is complete when the block exits."""
    sc, jvm = spark.sparkContext._jsc.sc(), spark.sparkContext._jvm
    conf = sc.getConf().set("spark.eventLog.compress", "false")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(), jvm.scala.Option.apply(None),
        jvm.java.net.URI("file://" + log_dir), conf, sc.hadoopConfiguration())
    listener.start()
    sc.addSparkListener(listener)
    try:
        yield
    finally:
        sc.listenerBus().waitUntilEmpty()  # deliver the block's events first
        sc.removeSparkListener(listener)
        listener.stop()


def events(path: str):
    """Events of one application log: a file, or the directory of rolled
    ``events_<n>_*`` files Spark writes by default."""
    if os.path.isdir(path):
        parts = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in parts]
    else:
        files = [path]
    for name in files:
        with open(name, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of a log still being written
                if isinstance(ev, dict):
                    yield ev


def totals(lines, start_ms: float, end_ms: float) -> dict[str, float]:
    """Per-window totals; every key of :data:`TOTALS` is present."""
    out = dict.fromkeys(TOTALS, 0.0)
    for ev in lines:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if start_ms <= ev.get("Submission Time", -1) <= end_ms:
                out["spark.jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            finish = (ev.get("Task Info") or {}).get("Finish Time", -1)
            if not start_ms <= finish <= end_ms:
                continue
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.tasks"] += 1
            out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
            out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out


def log_file(log_dir: str) -> str:
    """The single application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
