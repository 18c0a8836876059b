"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the local[32] test harness but every knob is the
one you'd set on a real cluster: AQE (runtime re-planning + skew-join
handling), broadcast threshold for dimension joins, Arrow for any
Python-edge exchange, and a shuffle-partition count sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "navigator-data-ingest-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", max(cpus, 8)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime adaptivity: coalesce post-shuffle partitions, split skewed
        # ones, convert sort-merge to broadcast when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (region/nation/lookup maps) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for every Python edge (mapInPandas / toPandas / pandas UDF).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep scan partitions reasonably sized for wide parquet.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: ANSI mode is deliberately NOT configured here — the
        # external driver runs a virgin Spark 4 session where ANSI is ON
        # by default, and under ANSI `bigint / 2.0` types as DECIMAL
        # division (vs DOUBLE on DuckDB). Final projections must never
        # contain a bare decimal-literal division (SURVEY §4 type-surface
        # rule; gated by tests/test_type_surface.py).
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert to micros-timestamp in the source (lossless for our data).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
