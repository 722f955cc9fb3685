"""SparkSession factory tuned for this engine.

Local-mode defaults sized for the test environment (local[32], single
JVM); on a real cluster the same settings remain sane: AQE handles
runtime re-planning (partition coalescing, skew joins), shuffle
partitions follow ``spark.sql.shuffle.partitions`` which AQE resizes,
and Arrow is enabled for every pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "almost_any_file_to_pandas_spark") -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    The driver may hand us an existing session; engine code never
    assumes it created the session — the query registry's wrapper
    (``plans.register``) calls :func:`apply_engine_conf` before every
    query body to set the runtime-settable knobs it relies on (UTC
    session timezone, AQE, Arrow).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Whole-stage-codegen class cache (default 100 entries). This
        # workload executes hundreds of distinct queries per session,
        # each with several codegen units, so the default cache is
        # fully evicted between repeated executions and every run
        # re-generates AND re-JITs its classes: measured on the r9
        # heavy subset, steady-state JIT compilation was +13s per
        # 6-query pass (with 30-56s storm spikes when the C2 queue
        # saturated); at 10k entries the same pass pays +4s and the
        # spikes disappear (OPTIMIZATION_r09.md). Per-JVM compile
        # cache, not a result cache: identical benefit for any
        # driver/executor serving a large repeated query workload;
        # cost is bounded metaspace (generated classes are ~KBs).
        # Static conf — must be set before the first codegen compile.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs the engine's plans rely on.

    Safe on any session (driver-provided or ours); ``plans.register``
    calls it before every registered query. UTC timezone keeps
    timestamp semantics aligned with the DuckDB oracle; AQE gives
    runtime partition coalescing + skew-join handling at scale.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        # testdata events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long + convert
        # (see plans.table()).
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # timestamp[us] columns without isAdjustedToUTC otherwise
        # arrive as TIMESTAMP_NTZ (conf-dependent), which functions
        # like unix_micros reject; with a UTC session the LTZ reading
        # is value-identical and engine-portable.
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        # write timestamps as INT64 micros, not legacy INT96: INT96
        # columns carry no min/max statistics, which silently disables
        # the data-skipping layouts the sinks build (and breaks
        # DuckDB/Arrow interop).
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
        # ANSI mode is Spark 4's default; pinned because the exact
        # sums (plans.micro_units) rely on the BIGINT cast raising on
        # overflow and NaN, where a non-ANSI cast saturates silently.
        ("spark.sql.ansi.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - read-only conf on some builds
            pass
    return spark
