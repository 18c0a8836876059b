"""Dynamic partition pruning (DPP) — the scan-elimination feature that
matters most at 100 TB.

A date-partitioned fact joined to a dimension whose FILTER is only
known at runtime can still skip fact partitions: Catalyst plants a
``dynamicpruningexpression`` in the fact scan's PartitionFilters that
is fed by a runtime subquery over the dim. On a petabyte fact table
with daily partitions and a "last busy week" dim filter, this is the
difference between scanning 7 partitions and scanning 3,650.

The registry query materializes BOTH sides once into a cached scratch
layout (events partitioned by day; a 5-row "busy days" dim derived from
the same events), then runs the join that DPP prunes. The plan shape
(dynamicpruningexpression present in PartitionFilters) is pinned in
tests/test_plan_shape.py; the DuckDB oracle replays the semantics
relationally.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from navigator_data_ingest_spark.sources.sinks import sink_path
from navigator_data_ingest_spark.sources.tables import load_table, path_stamp

BUSY_DAYS = 5


def _ensure_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write (once per testdata generation) the day-partitioned fact and
    the busy-days dim; both keyed on the source's stamp."""
    import shutil

    key = f"{sf_dir}|{path_stamp(os.path.join(sf_dir, 'events.parquet'))}"
    fact_dir = sink_path("dppfact", key)
    dim_dir = sink_path("dppdim", key)
    done = os.path.join(fact_dir, "_DONE")
    if not os.path.isfile(done):
        shutil.rmtree(fact_dir, ignore_errors=True)
        shutil.rmtree(dim_dir, ignore_errors=True)
        ev = load_table(spark, sf_dir, "events").withColumn(
            "d", F.col("ts").cast("date")
        )
        ev.write.mode("overwrite").partitionBy("d").parquet(fact_dir)
        busy = (
            ev.groupBy("d")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("d"))
            .limit(BUSY_DAYS)
            .select("d", "n")
        )
        busy.coalesce(1).write.mode("overwrite").parquet(dim_dir)
        with open(done, "w") as f:
            f.write("ok\n")
    return fact_dir, dim_dir


def dpp_busy_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DPP join itself (kept separate so the plan test can build it
    without re-running the layout writes)."""
    fact_dir, dim_dir = _ensure_layout(spark, sf_dir)
    # explicit schemas: a zero-row events table writes no fact partition
    # dirs / dim data files, and inference over the bare directories
    # raises UNABLE_TO_INFER_SCHEMA. The fact schema is DERIVED from the
    # same lazy plan the writer used (ts may be NTZ or LTZ depending on
    # the testdata generation), never a hardcoded DDL; building the
    # frame runs no job.
    fact_schema = (
        load_table(spark, sf_dir, "events")
        .withColumn("d", F.col("ts").cast("date"))
        .schema
    )
    fact = spark.read.schema(fact_schema).parquet(fact_dir)
    dim = spark.read.schema("d date, n bigint").parquet(dim_dir)
    return (
        fact.join(dim.where(F.col("n") > 0), "d")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr("sum(cast(floor(value * 100 + 0.5) as bigint))").alias("cents"),
        )
        .orderBy("d")
    )


def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dpp_busy_days(spark, sf_dir)


def q_dpp_join_sql() -> str:
    return f"""
    WITH busy AS (
        SELECT ts::date AS d, count(*) AS n
        FROM events GROUP BY 1
        ORDER BY n DESC, d ASC LIMIT {BUSY_DAYS}
    )
    SELECT e.ts::date AS d,
           count(*)::bigint AS n_events,
           count(DISTINCT e.user_id)::bigint AS n_users,
           sum(floor(e.value * 100 + 0.5))::bigint AS cents
    FROM events e JOIN busy b ON e.ts::date = b.d
    GROUP BY 1 ORDER BY 1
    """
