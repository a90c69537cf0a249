"""SparkSession factory tuned for this engine.

Local mode here is a stand-in for a real cluster: the configs below are
the ones that carry to 1000-executor deployments (AQE, adaptive skew
join, broadcast threshold, UTC timezone, Arrow for the Pandas-UDF
paths). ``spark.sql.shuffle.partitions`` is sized for local[32]; on a
real cluster AQE coalescing makes the static number mostly moot.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


@contextlib.contextmanager
def static_planning(
    spark: SparkSession, shuffle_partitions: int | None = None
):
    """Temporarily disable AQE for a bounded-cardinality iterative
    chain.

    AQE materializes and re-plans every shuffle stage with a sequential
    driver round trip (~0.4 s/round measured locally, independent of
    data size). Iterative graph/clustering chains run K rounds whose
    per-round cardinality is already known and bounded (rank vectors,
    peeled edge lists), so adaptive re-planning has nothing to discover
    and only adds coordination latency. Use around the EAGER
    materialization of such a chain only — everything else keeps AQE's
    coalescing and skew handling. Values never change: AQE affects
    stage boundaries, not arithmetic.

    ``shuffle_partitions`` additionally pins the static shuffle width
    for the scope: without AQE's coalescing, every chain stage would
    otherwise launch ``spark.sql.shuffle.partitions`` tasks per round
    regardless of data size — for a measured-small iteration state
    that is pure scheduling overhead, and the caller has already sized
    the number from real row counts (the same formula saturates a real
    cluster at 100 TB)."""
    key = "spark.sql.adaptive.enabled"
    sp_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    prev_sp = spark.conf.get(sp_key)
    spark.conf.set(key, "false")
    if shuffle_partitions is not None:
        spark.conf.set(sp_key, str(shuffle_partitions))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(sp_key, prev_sp)


def get_spark(app_name: str = "engine", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env is not None:
            shuffle_partitions = int(env)
        else:
            # Scale-adaptive default: size the static shuffle width to
            # the session's actual parallelism instead of a constant.
            # A fixed 32 at local[8] schedules 4 waves of near-empty
            # tasks per exchange (pure overhead at bench scale), while
            # AQE only coalesces DOWN — it cannot recover parallelism
            # a too-small static number never offered. Floor of 8
            # keeps skew-split granularity on tiny sessions. On a real
            # cluster the production width comes from
            # SPARK_GRAFT_SHUFFLE_PARTITIONS (sized to data/256 MB per
            # guide §2.2) with AQE coalescing the remainder; this
            # branch only governs un-overridden local runs. At the
            # bench's local[32] this resolves to 32 — identical plans
            # to every prior round's recorded numbers.
            try:
                n = int(cpus)
            except ValueError:
                n = os.cpu_count() or 32
            shuffle_partitions = max(8, n)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # PySpark 4 captures the Python call site for every Column
        # operation (PySparkCurrentOrigin set/get/clear — three extra
        # JVM round trips per operator, plus a Python stack walk) so
        # error messages can point at user code. Measured round 11:
        # ~35% of all py4j commands issued while BUILDING query plans
        # were this bookkeeping, at ~1-3 ms per round trip on the
        # bench sandbox. The knob is PySpark's own documented
        # "reduce performance slowdown" switch; query errors keep the
        # JVM stack trace, they just lose the Python-line pointer.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type —
        # read as long and convert in engine.io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive (isAdjustedToUTC=false) parquet timestamps read as
        # session-tz TIMESTAMP, not TIMESTAMP_NTZ: chrono functions
        # (unix_micros & co) take LTZ, and UTC session tz makes the
        # wall-clock values identical to the oracle's naive reading.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Whole-stage codegen keeps its compiled classes in one LRU
        # cache per JVM, keyed by the generated source. Spark's default
        # of 100 entries is far below this engine's working set: one
        # pass over the 13 headline queries at sf0.1 compiles about 490
        # distinct classes, all 188 registry queries at sf0.01 about
        # 3,960. At 100 each pass evicts what the last one compiled, so
        # every query runs Janino and re-warms the JIT again (about 490
        # compiles per headline pass; with 4096 a repeated pass
        # compiles none and ran about 30 % faster on a 4-vCPU host).
        # 4096 holds the whole registry. The conf is static: it takes
        # effect only when this builder creates the first SparkContext
        # of the process. A session the caller built (the one
        # ``__spark_entry__.entry`` receives, or a context started
        # before ``get_spark``) keeps Spark's 100.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
