"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the configs below are chosen so the same
logical plans scale to a multi-executor cluster: AQE handles skew/join
re-planning at runtime, shuffle partition count is sized to cores locally
(and should be ~2-3x total cores on a real cluster), and Arrow makes any
pandas-UDF boundary cheap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding the engine package: the Python workers import the
# daemon module and the engine's UDFs from it, whatever the driver's cwd.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 24g: a heap near the machine's
    RAM lets the driver JVM outgrow it and be OOM-killed mid-run."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "event-stream-starter-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Version-independent arithmetic: Spark 4 defaults ANSI on (raise
        # on malformed cast/overflow), Spark 3 off (NULL). The engine pins
        # OFF — degraded inputs (bad JSON, overflow) must degrade to NULL
        # rows, not kill a 1000-executor job; oracles verified under it.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark caches generated classes in one JVM-wide cache of 100 by
        # default. One curation round (a dd_cluster_canonical pass, the BPE
        # UDF pass and a ReadApi round) compiles about 140 distinct
        # classes, so each round evicted the last one's and every pass paid
        # Janino compiles plus un-JITted code again. 1000 holds that working
        # set many times over, and eviction keeps the hot pass classes.
        # Static: only sessions built here get it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Every Python worker forks from this daemon, which stops each
        # task from re-reading pyspark.zip's 1,328-entry directory once per
        # zipimporter (pyworker.py): a trivial 4-partition pandas_udf job
        # took 250-353 ms, and takes 116-146 ms from it (4 vCPUs; 31-41 ms
        # without the UDF). Static.
        .config("spark.python.daemon.module", "event_stream_starter_spark.pyworker")
        # Spark merges this with the workers' inherited PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # local[N] runs every task inside the driver JVM: size the heap for
        # N concurrent shuffle tasks or GC pauses dominate the measurement
        # (an 8g heap showed multi-second full-GC stalls under 32 threads).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-provided session.

    The correctness driver owns its own SparkSession; queries must behave
    identically there, so anything correctness-critical (UTC timestamps,
    ANSI-off arithmetic) is set here via runtime confs, while anything that
    is merely a performance default is best-effort. Static confs cannot be
    set on a session the driver already owns, so ``get_spark``'s codegen
    class cache size (``spark.sql.codegen.cache.maxEntries``), heap,
    Python worker daemon (``spark.python.daemon.module``) and worker
    ``PYTHONPATH`` do not reach it: its workers run pyspark's own daemon.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The docstring's promise made real: ANSI-off is runtime-settable and
    # version-dependent by default (Spark 4 on, Spark 3 off) — pin it so
    # cast/overflow semantics match wherever the driver runs.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP_LTZ so
    # epoch extraction (unix_micros) works uniformly; with a UTC session
    # the instants are identical either way.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    return spark
