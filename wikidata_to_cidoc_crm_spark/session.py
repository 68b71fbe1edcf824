"""SparkSession construction tuned for the KG-construction workload.

Local mode is the sandbox proxy for a multi-executor cluster: shuffle
partitions scale with cores, AQE handles skew/coalesce at runtime, Arrow is
on for the pandas-UDF linking stage. On a real cluster the same builder is
used via ``spark-submit --py-files`` (see ``pipeline.py`` main).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEM``, else half of the host's physical memory in
    whole GiB (at least 1g): local mode runs every task inside the driver
    JVM, and a fixed size can exceed a small host."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // (2 << 30))}g"


def get_spark(
    app_name: str = "wikidata_to_cidoc_crm_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[default_cores()]``; the driver heap is
    ``default_driver_memory()``.
    ``shuffle_partitions`` defaults to the core count — at cluster scale this
    is instead sized as ~2-3x total executor cores (and AQE coalesces).
    ``master`` overrides the local-mode default — used by the scaling bench
    to run ``local-cluster[N,cores,mem]``, which spawns SEPARATE executor
    JVMs (driver-isolated, the faithful N→4N-executor protocol). In that
    mode executor-side Python workers need the package on their path, so
    PYTHONPATH and the python executable are propagated.
    """
    import sys

    cores = cores or default_cores()
    shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # broadcast builds sit downstream of lazily-checkpointed subtrees,
        # so the first action may compute a long upstream chain inside the
        # broadcast future — at low parallelism that legitimately exceeds
        # the 300 s default and kills the job ("broadcast query has
        # failed"); the dimension relations themselves are small, only
        # their first materialization is slow
        .config("spark.sql.broadcastTimeout", "3600")
        # driver-side plan-construction cost levers (measured on the
        # relations stage build, BENCH/PLANCOST.md):
        # dataFrameDebugging (static conf) gates a per-DataFrame-call
        # inspect stack walk + an extra py4j origin round-trip (~5%);
        # constraint propagation is quadratic-ish on the ~90-rule union
        # plans and buys nothing here — all join keys are explicitly
        # non-null by construction (~25% of plan time)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.constraintPropagation.enabled", "false")
        # generated-code cache (static conf). A pipeline execution is a few
        # hundred small plans, and Spark's default cache of 100 classes
        # holds none of its working set: at local[4] on the e2ebench inputs
        # every warm run_pipeline execution recompiled ~880 classes and
        # every warm operators execution 262. 1000 entries hold both: a
        # warm execution then compiles 16-22 (pipeline) or 4-6 (operators).
        # Class names keep their stage id: dropping it as well
        # (spark.sql.codegen.useIdInClassName=false) also shares classes
        # across plans, but at local[4] it left kg_validate stalled on
        # execution memory for minutes (see CHANGES.md)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # Shuffle/spill scratch on tmpfs — EXPLICIT OPT-IN via
    # SPARK_GRAFT_TMPFS_SCRATCH=1 (the sandbox bench harnesses set it; see
    # BENCH/BASELINE.md). On this single-box sandbox all executors share
    # ONE virtio disk, which a real cluster scales per-node — measured at
    # ws800/local-cluster[4,4] the shared disk cost ~15% of 4x4 wall
    # (210.1s best-of-5 on disk vs 180.2s on tmpfs). It is NOT a general
    # default: /dev/shm is RAM-backed and typically capped at half of
    # physical memory, so any shuffle larger than that ceiling fails with
    # ENOSPC and spill-to-disk no longer relieves memory pressure. Never
    # applied when the deployment already configured scratch space
    # (SPARK_LOCAL_DIRS env or spark.local.dir via extra_conf).
    if (
        os.environ.get("SPARK_GRAFT_TMPFS_SCRATCH") == "1"
        and "SPARK_LOCAL_DIRS" not in os.environ
        and "spark.local.dir" not in (extra_conf or {})
        and os.access("/dev/shm", os.W_OK)
    ):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-scratch")
    if master and master.startswith("local-cluster"):
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder
            .config("spark.executorEnv.PYTHONPATH", repo_root)
            .config("spark.pyspark.python", sys.executable)
            .config("spark.executor.memory",
                    os.environ.get("SPARK_GRAFT_EXEC_MEM", "10g"))
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_aqe_toggle_lock = threading.Lock()
# per-SparkSession {session: [depth, prev]} — a process-wide counter would
# key the toggle to the FIRST caller's session, so a second session's
# checkpoints would silently stay eager (the bug this helper exists to fix)
# and the restore would write to the wrong session
_aqe_state: dict = {}


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` that is ACTUALLY lazy under AQE.

    With adaptive execution enabled, ``Dataset.localCheckpoint`` calls
    ``AdaptiveSparkPlanExec.execute()``, whose ``getFinalPhysicalPlan``
    SUBMITS every intermediate shuffle stage synchronously — so a nominally
    lazy checkpoint executes all but the result stage on the driver's
    plan-construction critical path (measured: job 0 runs during the
    checkpoint call; with AQE off, zero jobs). This helper scopes
    ``spark.sql.adaptive.enabled=false`` around the checkpoint so physical
    planning happens now but execution happens at the first downstream
    action (background-thread pipelined in StageRunner).

    The checkpointed subtree's eventual execution is therefore non-AQE:
    acceptable here because every skew-prone spot has an explicit handler
    (salted pair join, full-key merge dedup, static shuffle sizing — see
    BENCH/SKEW.md) rather than relying on AQE. The conf toggle is tracked
    PER SparkSession (depth + saved value keyed by the session object), so
    interleaved checkpoints from two sessions each get their own AQE-off
    window; it is serialized under a lock, and concurrent plan-building threads in
    run_pipeline only ever compile checkpoint subtrees or trivial counts,
    so a stray non-AQE compile is harmless.

    Concurrent callers (the plan-construction thread pools) must not
    serialize on the expensive planning call itself, so the AQE-off window
    is depth-counted: the first entering thread disables AQE, the last
    leaving thread restores it, and the planning calls run in parallel
    inside the window (JVM-side Catalyst planning of distinct queries is
    thread-safe).
    """
    spark = df.sparkSession
    with _aqe_toggle_lock:
        state = _aqe_state.get(spark)
        if state is None:
            prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            state = _aqe_state[spark] = [0, prev]
        state[0] += 1
    try:
        return df.localCheckpoint(eager=False)
    finally:
        with _aqe_toggle_lock:
            state[0] -= 1
            if state[0] == 0:
                spark.conf.set("spark.sql.adaptive.enabled", state[1])
                del _aqe_state[spark]


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
