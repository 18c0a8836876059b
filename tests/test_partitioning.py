"""Physical-layout scale features: partition pruning and bucketed joins.

These pin the two layout tools a 100 TB deployment leans on: a filter on
the partition key must prune at the FILE level (PartitionFilters, zero
data read for other partitions), and bucketed tables must co-locate join
keys so the join plans with NO shuffle exchange on either side.
"""

from __future__ import annotations

import re
import tempfile
import time
import uuid

from pyspark.sql import functions as F

from navigator_data_ingest_spark.operators.ingest import ingest_parser_input
from navigator_data_ingest_spark.plans.audit import formatted_plan, plan_audit
from navigator_data_ingest_spark.sources.sinks import write_parser_input
from navigator_data_ingest_spark.sources.tables import pin, scatter
from tests.conftest import SF_SMOKE


def test_partition_pruning_on_geography(spark):
    out = tempfile.mkdtemp(prefix="nav_part_prune_")
    write_parser_input(ingest_parser_input(spark, SF_SMOKE), out, fmt="parquet")
    df = spark.read.parquet(out).where(F.col("document_geography") == "IDN")
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "document_geography" in m.group(1), plan
    # the pruned read returns only the partition's rows
    n_all = spark.read.parquet(out).count()
    n_idn = df.count()
    assert 0 < n_idn < n_all


def test_scatter_runs_nothing_and_round_robins(spark):
    """``scatter`` over a DataFrame with an upstream shuffle plans one
    round-robin exchange to the default parallelism and starts no job:
    a partition-count probe through ``df.rdd`` would run the shuffle
    under AQE while the query is still being built."""
    sc = spark.sparkContext
    counts = spark.range(0, 1000).groupBy((F.col("id") % 7).alias("k")).count()
    group = f"scatter_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "scatter build")
    try:
        spread = scatter(spark, counts)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    exchanges = re.findall(r"RoundRobinPartitioning\((\d+)\)", formatted_plan(spread))
    assert exchanges == [str(sc.defaultParallelism)]


def test_pin_without_exchange_runs_nothing(spark):
    """``pin`` over a plan with no exchange starts no job while it is
    built: the pin is lazy, and with no shuffle upstream AQE has no
    stage to run when the RDD behind it is built."""
    sc = spark.sparkContext
    narrow = spark.range(0, 1000).select((F.col("id") * 3).alias("x"))
    group = f"pin_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pin build")
    try:
        pinned = pin(narrow)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert "Scan ExistingRDD" in formatted_plan(pinned)


def test_pin_is_reused_not_recomputed(spark):
    """Two actions over a pinned nondeterministic column read the same
    rows: the second action reuses the pinned blocks. The column is the
    query's start time, which every recomputation reads anew (the
    unpinned control shows it); a seeded ``rand()`` recomputes the same
    values per partition and would pass without the pin."""

    def two_reads(df):
        # each orderBy is a new query, so an unpinned plan reruns
        first = df.orderBy("id").collect()
        time.sleep(0.01)
        return first, df.orderBy("id").collect()

    stamped = spark.range(0, 200, numPartitions=2).withColumn("t", F.current_timestamp())
    first, second = two_reads(pin(stamped))
    assert first == second
    first, second = two_reads(stamped)
    assert first != second


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketed-by-key tables join with zero Exchange operators."""
    import shutil
    from urllib.parse import urlparse

    db = "nav_bucket_test"
    # the in-memory catalog forgets tables between sessions but their
    # warehouse directories persist; clear them or saveAsTable refuses
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {db}.t_left")
    spark.sql(f"DROP TABLE IF EXISTS {db}.t_right")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    left = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a")
    )
    right = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("b")
    )
    for name, df in (("t_left", left), ("t_right", right)):
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(
            f"{db}.{name}"
        )
    joined = spark.table(f"{db}.t_left").join(spark.table(f"{db}.t_right"), "k")
    audit = plan_audit(joined)
    assert audit.shuffle_exchanges == 0, formatted_plan(joined)
    assert joined.count() == 5_000
