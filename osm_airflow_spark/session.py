"""SparkSession construction tuned for the engine.

The reference delegates memory/planning to osm2pgsql's ``--ram=8``
node cache and PostgreSQL's planner (/root/reference/osm_etl.py:18,
README.md:70). In Spark those jobs belong to the session config:
AQE replans joins/skew at runtime, shuffle partitions are sized to
the cluster, and Arrow accelerates any pandas-UDF hop.

At 100 TB the same settings hold: AQE coalesces post-shuffle
partitions to target sizes, skew-join splitting handles hot keys
(dense urban regions in OSM terms), and shuffle partition count is
set from cluster cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SWEEP.md grid 1 (VERDICT r11 #7 — wire the sweep's choice in): the
# warm query mix is fastest at 4x cores (128 partitions on local[32],
# 0.87x the cores=partitions cell) and FLAT above, because AQE
# coalesces oversized shuffle outputs at runtime — while
# UNDER-partitioning (8) measurably starves the cores. The r12 A/B/A
# re-measurement (SCALE.md round-12 ledger) is honest about the
# limit: in the FRESH-JVM bench at sf0.1 the 128 cell is ~1.5%
# slower than 32 (scheduling overhead at tiny SF), inside noise.
# The default still errs high because the asymmetry is what matters:
# AQE repairs over-partitioning at runtime, nothing repairs an
# under-partitioned 10 TB shuffle. Override per-workload via
# SPARK_GRAFT_SHUFFLE_PARTITIONS.
DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        str(4 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))),
    )
)

# Entries in the JVM's generated-class cache (a static conf, so only the
# session builder can set it). Spark's default of 100 is smaller than
# one pass over bench.py's 17 headline keys (about 220 classes): the LRU
# evicts each class before its key runs again, and every warm pass pays
# the Janino compile and a cold JIT a second time. Measured working
# set: one tools/check.py pass over all 382 keys at sf0.01 compiles 4709
# distinct classes (CodegenMetrics compile count, cap 1e6). The cap
# leaves room above that. Holding them did not raise the JVM's peak RSS
# for that pass (4-vCPU box, local[4], 4 GB heap): 4.6 GiB at the
# default cap, which compiled 6988 classes, and 3.1 GiB uncapped.
CODEGEN_CACHE_MAX_ENTRIES = 8192


def get_spark(
    app_name: str = "osm_airflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-built session.

    The driver harness hands us its own SparkSession; oracle
    comparability requires UTC timestamps (DuckDB timestamps are
    UTC-naive) and we want AQE behavior regardless of who built the
    session. Only runtime-settable confs belong here. Static confs
    cannot follow: a session built elsewhere (the ``__spark_entry__``
    path) keeps Spark's generated-class cache of 100 entries, not
    ``CODEGEN_CACHE_MAX_ENTRIES``, so its warm passes recompile.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (cache misses).

    Reads the count of Spark's ``CodegenMetrics`` compile-time
    histogram; a delta of 0 across an action means every class it ran
    came from the generated-class cache.
    """
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
