"""Analytics workload: the engine's query surface over the test tables.

These exercise the core relational operators (scan→filter→project→
join→aggregate→window→top-k) the ingest pipeline's reporting and any
downstream analysis need, shaped for scale:

  - filters/projections are applied before joins so parquet pushdown and
    column pruning take effect;
  - dimension tables (region/nation) are explicitly ``broadcast()``;
  - aggregations are expressed on pre-projected columns so partial
    (map-side) aggregation kicks in;
  - top-k uses window rank over the aggregate, not a driver-side sort.

Every computed column is aliased to match the DuckDB oracle in
``__spark_entry__.oracle_sql`` (the driver hash-compares by column name).
Doubles are rounded to 6 dp in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions import exprs as X
from navigator_data_ingest_spark.functions.exact import (
    dk_rat,
    dk_rat6,
    dk_units,
    sp_epoch_us,
    sp_rat,
    sp_rat6,
    sp_units,
)
from navigator_data_ingest_spark.functions.prefix import below_sums
from navigator_data_ingest_spark.sources.tables import load_table, pin, scatter


def _r(col, alias):  # round-and-alias helper for oracle-comparable doubles
    return F.round(col, 6).alias(alias)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem.

    One scan, map-side partial agg, single shuffle on the two
    low-cardinality group keys.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r(F.sum("l_quantity"), "sum_qty"),
            _r(F.sum("l_extendedprice"), "sum_base_price"),
            _r(F.sum(disc_price), "sum_disc_price"),
            _r(F.sum(charge), "sum_charge"),
            _r(F.avg("l_quantity"), "avg_qty"),
            _r(F.avg("l_extendedprice"), "avg_price"),
            _r(F.avg("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered 3-way join + agg + top-10 (TPC-H Q3 shape).

    Filters land before the joins (pushed to the scans); the join keys
    are the natural shuffle keys; top-k is a sort of the aggregated
    (small) side only.
    """
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        cust.select("c_custkey")
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              cust["c_custkey"] == orders["o_custkey"])
        .join(li.select("l_orderkey", "l_extendedprice", "l_discount"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                "revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join with broadcast dims (TPC-H Q5 shape, minus s/c nation eq).

    region/nation are broadcast; the big fact-fact join (orders⋈lineitem)
    shuffles on orderkey once.
    """
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")

    dims = F.broadcast(
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("n_nationkey", "n_name")
    )
    return (
        li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by spend per nation: agg then window rank.

    The window runs over the aggregated (customer-grain) rows, not the
    raw facts — the rank shuffle moves ~|customers| rows, not |orders|.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend_raw"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("spend_raw"), F.asc("c_custkey")
    )
    return (
        spend.join(cust.select("c_custkey", "c_name", "c_nationkey"),
                   spend["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("n_name", "c_custkey", "c_name",
                _r(F.col("spend_raw"), "total_spend"), "rank")
        .orderBy("n_name", "rank")
    )


def q_orders_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + derived columns (the 'enrich' ETL shape)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dim = F.broadcast(
        cust.select("c_custkey", "c_mktsegment", "c_nationkey").join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", "c_mktsegment", F.col("n_name").alias("nation_name"))
    )
    return (
        orders.join(dim, orders["o_custkey"] == dim["c_custkey"])
        .select(
            "o_orderkey",
            "o_custkey",
            "nation_name",
            "c_mktsegment",
            F.year("o_orderdate").cast("int").alias("order_year"),
            _r(F.col("o_totalprice"), "total_price"),
            (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
        )
    )


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (1 hour) per event_type.

    Batch twin of the streaming operator: same window semantics as
    ``F.window`` used under a watermark in streaming/.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.sum("value"), "sum_value"),
            # exact here (small per-window cardinality); swap to
            # approx_count_distinct for sketch-grade counts at 100 TB
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
        .orderBy("window_start", "event_type")
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user via lag + cumulative sum.

    Single shuffle on user_id; both windows share the same partitioning
    so the second window reuses the first's exchange.
    """
    # session-TZ-free gap (NTZ-domain epoch micros; unix_timestamp on
    # an NTZ column shifts under a non-UTC driver session and a DST
    # boundary between two events would shift even the DIFF)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.expr(sp_epoch_us("ts"))
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("us") - F.lag("us").over(w_user)
    with_session = (
        ev.withColumn("new_session",
                      F.when(gap.isNull() | (gap > 1_800_000_000), 1)
                      .otherwise(0))
        .withColumn("session_id",
                    F.sum("new_session").over(
                        w_user.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            _r(F.sum("value"), "sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


def q_documents_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents profiling: per (lang, source) corpus stats."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            _r(F.avg("n_chars"), "avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang", "source")
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior click.

    Spark has no ASOF JOIN; the scalable formulation is a SINGLE-PASS
    conditional window over the unioned event stream — partition by the
    join key, order by event time, carry the last-seen right-side row
    forward with last(..., ignorenulls) — which shuffles each side once
    and never materializes a range-join blowup. The DuckDB oracle uses
    its NATIVE ASOF JOIN, making this a genuinely independent
    cross-check of the as-of semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    # clicks collapse to ONE canonical row per (user, ts) — max event_id
    # wins — BEFORE the as-of: equal-timestamp clicks otherwise make the
    # match nondeterministic (Spark's (ts, event_id) window cut vs
    # DuckDB ASOF's ts <= ts picks different rows; boundary-probe find,
    # where minute-floored timestamps tie constantly)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max(F.struct("event_id", "value"))["value"].alias("cvalue"))
        .select("user_id", "ts", F.lit(0).alias("kind"), "cvalue")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    # single union stream: clicks (kind 0) sort before same-ts
    # purchases (kind 1), so an equal-ts click IS matched — the ASOF
    # r.ts <= l.ts inclusive semantics
    stream = clicks.unionByName(purchases, allowMissingColumns=True)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the matched click rides as ONE struct: carrying ts and value in
    # separate last(ignorenulls) windows would TEAR the match when the
    # latest click's value is NULL (the value window skips back to an
    # older click while ts keeps the newest — r5 NULL-injection find)
    click_row = F.last(
        F.when(F.col("kind") == 0, F.struct("ts", "cvalue")), ignorenulls=True
    ).over(w)
    return (
        stream.withColumn("asof_click_ts", click_row["ts"])
        .withColumn("asof_click_value", F.round(click_row["cvalue"], 6))
        .where(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "asof_click_ts", "asof_click_value")
        .orderBy("event_id")
    )


# value bands for the range join: (band, lo inclusive, hi exclusive)
VALUE_BANDS = [
    ("tiny", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("medium", 50.0, 200.0),
    ("large", 200.0, 1e9),
]


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events banded by value against an interval dimension.

    The canonical non-equi join: the interval table is tiny, so the
    right plan is an explicit broadcast nested-loop against it — every
    executor holds the full band list and the probe never shuffles. (A
    large interval side would instead be bucketized into an equi-join
    on overlapping grid cells.)
    """
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(VALUE_BANDS, "band string, lo double, hi double")
    joined = ev.join(
        F.broadcast(bands),
        (ev["value"] >= bands["lo"]) & (ev["value"] < bands["hi"]),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.sum("value"), "sum_value"),
            _r(F.min("value"), "min_value"),
            _r(F.max("value"), "max_value"),
        )
        .orderBy("band")
    )


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: order totals by (year, priority) with
    subtotals and a grand total — the grouping-sets operator family.
    Spark plans one shuffle with grouping-id expansion map-side."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .rollup("order_year", "priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _r(F.sum("o_totalprice"), "total_price"),
        )
        .orderBy(
            F.col("order_year").asc_nulls_first(),
            F.col("priority").asc_nulls_first(),
        )
    )


def q_orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-year order counts spread across priority columns.

    Values are enumerated explicitly (required for a deterministic
    schema, and what keeps the pivot a single pass at scale — an
    unenumerated pivot needs an extra distinct-values job)."""
    PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
        )
        .groupBy("order_year")
        .pivot("priority", PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = {p: f"p{p[0]}" for p in PRIORITIES}
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    out_cols = ["order_year"] + sorted(renames.values())
    return piv.select(
        "order_year",
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in out_cols[1:]],
    ).orderBy("order_year")


PCTS = [0.25, 0.5, 0.75, 0.95, 0.99]


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per event type.

    ``percentile()`` (exact, same linear interpolation as DuckDB's
    quantile_cont) — the approx_percentile sketch is the swap-in at
    100 TB, traded off against the exactness the oracle needs here."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            *[
                _r(F.expr(f"percentile(value, {p})"), f"p{int(p * 100)}")
                for p in PCTS
            ]
        )
        .orderBy("event_type")
    )


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders, counted per nation.

    left_anti is the set-difference workhorse — one shuffle on the key,
    no row-multiplication risk (vs. a left join + null filter)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _r(F.sum("c_acctbal"), "total_acctbal"),
        )
        .orderBy("n_name")
    )


def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders above their customer's average.

    Written as SQL so Catalyst's decorrelation rewrites the correlated
    aggregate into a join — the declarative form a reference user would
    write, executing as one shuffle + broadcast-back."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               round(o_totalprice, 6) AS total_price
        FROM v_orders o
        WHERE o_totalprice > 1.8 * (
            SELECT avg(o2.o_totalprice) FROM v_orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o_orderkey
        """
    )


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded window frame: 4-event trailing average per user.

    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW — the frame is explicit
    because the default RANGE frame over duplicate order keys would be
    non-deterministic; rows + a total order (ts, event_id) is what makes
    a moving aggregate reproducible at scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            _r(F.avg("value").over(w), "avg_value_4"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_in_frame"),
        )
        .orderBy("event_id")
    )


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global filter-aggregate (TPC-H Q6 shape): forecast-revenue delta.

    The whole query is a single scan — every predicate (date range,
    discount band, quantity cap) is pushed to the parquet reader and only
    two columns survive pruning. No shuffle at all beyond the final
    single-row reduce; at 100 TB this is I/O-bound by design.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _r(F.sum(F.col("l_extendedprice") * F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style semi-join (TPC-H Q4 shape): priority counts for orders
    with at least one returned line.

    ``left_semi`` is the physical form of EXISTS — it never duplicates
    the probe side (an inner join + distinct would), and Spark can
    short-circuit each probe row on first match. The lineitem side is
    pre-filtered and projected to the join key only.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.select("o_orderkey", "o_orderpriority")
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + conditional aggregation (TPC-H Q12 shape).

    The CASE folds into the aggregate so the classifier runs map-side;
    one shuffle on the low-cardinality group key. Counting two disjoint
    classes in one pass beats two filtered sub-aggregations (one scan,
    one shuffle instead of two of each).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_returnflag")
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join ratio aggregate (TPC-H Q14 shape): promo revenue %.

    ``part`` is a classic small dimension — broadcast, so the fact scan
    never shuffles; the ratio is two conditional sums in a single
    reduce. At 100 TB the only data movement is the final 1-row combine.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.select("l_partkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            _r(F.lit(100.0) * F.sum(promo) / F.sum(disc_price), "promo_revenue_pct"),
            _r(F.sum(disc_price), "total_revenue"),
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-HAVING then join back (TPC-H Q18 shape): large-volume orders.

    The HAVING filter runs on the aggregated (order-grain) side BEFORE
    the join, so only qualifying orderkeys — a tiny fraction — flow into
    the customer/orders joins. Filtering after a 3-way join would move
    the full fact table through two shuffles for nothing.
    """
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(_r(F.sum("l_quantity"), "sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders.select("o_orderkey", "o_custkey", "o_orderdate",
                               "o_totalprice"),
                 F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_name"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                _r(F.col("o_totalprice"), "total_price"), "sum_qty")
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(100)
    )


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive-predicate broadcast join (TPC-H Q19 shape).

    Three OR'd (brand, size-band, quantity-band) brackets. The join is
    still a plain equi-join on partkey (broadcast — part is tiny); the
    disjunction is a post-join filter Catalyst can partially push: the
    OR of the part-only conjuncts prunes the build side, the OR of the
    lineitem-only conjuncts prunes the probe side.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    bracket = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 25) & qty.between(10, 20))
        | ((brand == "Brand#4") & size.between(1, 35) & qty.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(bracket)
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
               "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): top customers by lost revenue.

    Revenue is aggregated to customer-key grain BEFORE the customer and
    nation dimensions join on — at 100 TB the fact-side shuffle carries
    one row per customer, not one per lineitem, and nation is broadcast.
    Deterministic top-20 via (revenue desc, custkey) tiebreak.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-10-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), "revenue"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", _r(F.col("c_acctbal"), "acctbal"),
                F.col("n_name").alias("nation"), "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape).

    Left OUTER join keeps zero-order customers (count(o_orderkey) = 0
    for them); the second aggregation runs on customer-grain rows, so
    the expensive shuffle happens exactly once on the fact table.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape).

    The correlated ``avg(l_quantity) per part`` becomes a window
    average partitioned by partkey AFTER the broadcast part filter has
    pruned the fact scan to one brand — the window shuffle only moves
    the qualifying ~1/25th of lineitem, never the full table.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("p_partkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(_r(F.sum("l_extendedprice") / 7.0, "avg_yearly"))
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle high-balance customers (TPC-H Q22 shape).

    Scalar aggregate (global positive-balance average) broadcast back
    as a 1-row cross join; NOT EXISTS(orders) as a left-anti join on
    the orders key projection. Grouped by market segment.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _r(F.sum("c_acctbal"), "totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


def q21_blamed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sole-blamed supplier (TPC-H Q21 shape) without self-EXISTS chains.

    The EXISTS / NOT EXISTS pair over self-joined lineitem collapses
    into one per-order aggregate (distinct suppliers, distinct suppliers
    with a returned line) — a single shuffle on orderkey replaces two
    correlated self-joins of the biggest table. Orders with >1 supplier
    but exactly one returning supplier blame that supplier.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    finished = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li_f = li.join(finished, F.col("l_orderkey") == F.col("o_orderkey")).drop(
        "o_orderkey"
    )
    order_stats = li_f.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_supp_r"),
    )
    blamed = (
        li_f.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            order_stats.where(
                (F.col("n_supp") > 1) & (F.col("n_supp_r") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier variety per part class (TPC-H Q16 shape).

    ``partsupp`` doesn't exist in this schema, so the (part, supplier)
    bridge is the DISTINCT projection of lineitem — derived once,
    map-side-combined before its shuffle. The NOT IN (bad suppliers)
    subquery is a broadcast left-anti join; the part filter is a
    broadcast semi-side prune.
    """
    bridge = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        bridge.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per part (TPC-H Q2 shape).

    Supply cost is proxied by avg unit price per (part, supplier) from
    lineitem (no partsupp table). The correlated MIN subquery becomes a
    rank-1 window over (cost, suppkey) — the tuple tiebreak makes the
    winner deterministic across engines, and the cost is rounded to 6dp
    BEFORE ranking so float-ulp differences can't flip the rank.
    """
    cost = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey",
                (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.avg("unit"), 6).alias("cost"))
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    w = Window.partitionBy("l_partkey").orderBy("cost", "l_suppkey")
    return (
        cost.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name",
                _r(F.col("s_acctbal"), "acctbal"),
                F.col("cost").alias("min_cost"))
        .orderBy(F.desc("acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nation-pair shipping volume (TPC-H Q7 shape).

    Supplier and customer nations resolve through two BROADCAST copies
    of the nation dim with the pair filter applied before the fact
    joins; revenue groups by (supp_nation, cust_nation, ship_year). The
    only big shuffles are the lineitem⋈orders and ⋈customer equi-joins.
    """
    pair = (("NATION_3", "NATION_7"), ("NATION_7", "NATION_3"))
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.withColumnRenamed("n_name", "supp_nation").withColumnRenamed(
        "n_nationkey", "n1_key"
    )
    n2 = nation.withColumnRenamed("n_name", "cust_nation").withColumnRenamed(
        "n_nationkey", "n2_key"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
                F.year("l_shipdate").alias("ship_year"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == pair[0][0]) & (F.col("cust_nation") == pair[0][1]))
            | ((F.col("supp_nation") == pair[1][0]) & (F.col("cust_nation") == pair[1][1]))
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(_r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), "revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share within a region (TPC-H Q8 shape).

    The share is a conditional-sum ratio per order year — the CASE
    folds into the aggregate, so after the joins there is exactly one
    grouped shuffle on ~7 year keys. All four dims broadcast.
    """
    target = "NATION_5"
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cust_nations = (
        nation.join(F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_nation = nation.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        joined.groupBy("o_year")
        .agg(
            _r(
                F.sum(F.when(F.col("supp_nation") == target, vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                "mkt_share",
            ),
            _r(F.sum(vol), "total_volume"),
        )
        .orderBy("o_year")
    )


def q_customer_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators: repeat vs churned customers.

    ``intersect`` and ``subtract`` (EXCEPT DISTINCT) are first-class
    Spark set ops — both compile to a distinct-aggregate + join, so the
    two year-slices shuffle once each on custkey. The tiny result then
    joins the customer dim for segment attribution.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    # intersect AND subtract each consume both year slices, so the
    # unpinned shape scanned orders 4x. ONE customer-grain pass derives
    # both membership flags (a custkey is in y96 iff it has >= 1 order
    # in [96,97) — max(flag) over the group is exactly that), the
    # custkey-bounded flag table pins, and the set operators consume
    # filtered views of the pin: identical y96/y97 sets, orders scanned
    # ONCE.
    in96 = (F.col("o_orderdate") >= F.lit("1996-01-01")) & (
        F.col("o_orderdate") < F.lit("1997-01-01")
    )
    in97 = (F.col("o_orderdate") >= F.lit("1997-01-01")) & (
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    yy = (
        orders.where(in96 | in97)
        .groupBy("o_custkey")
        .agg(
            F.max(in96.cast("int")).alias("a96"),
            F.max(in97.cast("int")).alias("a97"),
        )
        .transform(pin)
    )
    y96 = yy.where(F.col("a96") == 1).select("o_custkey")
    y97 = yy.where(F.col("a97") == 1).select("o_custkey")
    repeat = y96.intersect(y97).withColumn("kind", F.lit("repeat"))
    churned = y96.subtract(y97).withColumn("kind", F.lit("churned"))
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        repeat.unionByName(churned)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "kind")
        .agg(F.count(F.lit(1)).alias("n_custs"))
        .orderBy("c_mktsegment", "kind")
    )


def q_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with grouping_id (all 4 subtotal combinations).

    One shuffle produces all 2^2 grouping sets; ``grouping_id`` keys the
    subtotal level so the consumer can slice without re-aggregating.
    (ROLLUP is covered by q_orders_rollup; CUBE completes the family.)
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        # integer-cents BEFORE the grand-total sum: the all-rows cube
        # cell sums ~3.2e9 of price, where the double ULP (~1e-6)
        # swallows the 6th decimal — round(sum(double), 6) there is
        # summation-order noise (caught by the shuffled-row probe r5).
        # Exact bigint cents keep every cell deterministic in both
        # engines; /100.0 of an exact integer is one deterministic fp op.
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            _r(F.sum("l_quantity"), "sum_qty"),
            F.round(F.sum("price_cents") / 100.0, 6).alias("sum_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


def q_ntile_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend quartiles via broadcast percentile cut points (no global
    window).

    An ``ntile(4) OVER (ORDER BY ...)`` with no partition forces the
    entire customer grain through ONE task — the single serial stage in
    the analytics set, degrading linearly with customer count. The
    scale shape is two passes instead: (1) one aggregate computes the
    three quartile cut values, (2) the 1-row cut set broadcasts back and
    quartile assignment is a map-side comparison (quartile 1 = top
    spenders, matching the DESC ntile orientation). Buckets are
    value-based, so ties share a quartile instead of splitting on
    arbitrary rank like ntile — the better semantics for a profile.

    Exact interpolated ``percentile`` keeps the DuckDB oracle
    (``quantile_cont``) bit-comparable; the 100 TB swap is
    ``approx_percentile`` (mergeable sketch, no single-task value list)
    with everything else unchanged.
    """
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("spend"))
    )
    cuts = spend.agg(
        F.expr("percentile(spend, 0.25)").alias("c25"),
        F.expr("percentile(spend, 0.5)").alias("c50"),
        F.expr("percentile(spend, 0.75)").alias("c75"),
    )
    quartile = (
        F.when(F.col("spend") >= F.col("c75"), 1)
        .when(F.col("spend") >= F.col("c50"), 2)
        .when(F.col("spend") >= F.col("c25"), 3)
        .otherwise(4)
    )
    return (
        spend.join(F.broadcast(cuts))
        .withColumn("quartile", quartile.cast("int"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            _r(F.min("spend"), "min_spend"),
            _r(F.max("spend"), "max_spend"),
            _r(F.avg("spend"), "avg_spend"),
        )
        .orderBy("quartile")
    )


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long) via ``stack``: per-flag measure matrix to rows.

    The stack runs AFTER aggregation, so the explosion is 3× a
    handful of grouped rows, never 3× the fact table.
    """
    wide = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("m_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("m_price"),
            F.round(F.sum("l_discount"), 6).alias("m_disc"),
        )
    )
    return (
        wide.selectExpr(
            "l_returnflag",
            "stack(3, 'qty', m_qty, 'price', m_price, 'disc', m_disc) AS (measure, val)",
        )
        .orderBy("l_returnflag", "measure")
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (TABLESAMPLE the portable way).

    A 5%-rate Bernoulli sample keyed on md5(orderkey) — unlike
    ``TABLESAMPLE`` or ``rand()``, the predicate is deterministic,
    engine-portable, and stable under repartitioning, so a 100 TB
    pipeline can re-run a stage and sample the SAME rows. The predicate
    is scan-adjacent (no shuffle) and skew-free by construction.
    """
    from navigator_data_ingest_spark.api import hash_sample

    return (
        hash_sample(load_table(spark, sf_dir, "orders"), "o_orderkey", 5)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            _r(F.avg("o_totalprice"), "avg_price"),
        )
        .orderBy("o_orderpriority")
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct (the 100 TB swap-in for exact countDistinct)
    with an in-query accuracy gate.

    ``approx_count_distinct`` is a fixed-size mergeable sketch — one
    map-side pass, no distinct shuffle, constant memory per group —
    which is how a 100 TB distinct-users query actually runs. Sketch
    values are engine-specific, so the oracle pins the EXACT counts plus
    a ``within_tol`` boolean the sketch must satisfy (HLL is
    deterministic for fixed input, so the gate is stable): the
    correctness contract of an approximate operator is its error bound.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.1 * F.col("exact_users")
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/GK-style approximate quantiles with an in-query accuracy gate.

    ``approx_percentile`` is the mergeable-sketch path a 100 TB
    percentile query takes (exact per-group percentiles need a full
    sort of every group). The oracle pins the exact interpolated
    percentiles plus ``within_tol`` bounds the sketch answer must sit
    in (±5% of the exact value — generous against the rank-error
    guarantee accuracy=10000 gives).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    agg = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.expr("percentile(value, 0.95)").alias("p95_exact"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("p95_approx"),
    )
    # the sketch returns an OBSERVED value, so on a tiny group the ±5%
    # VALUE tolerance against the INTERPOLATED exact is the wrong yard-
    # stick (two spread values put the midpoint >5% from both). A
    # rank-exact answer is always one of the two order statistics
    # BRACKETING the interpolated exact — accept those exactly, keep
    # the 5% band for real sketch noise at scale (round-10 n=4 probe).
    # null-safe join key: a NULL event_type is still a group in both
    # engines' GROUP BY, and a plain equi-join would drop it. The
    # ≤TYPES-row agg side carries an EXPLICIT broadcast: without it the
    # optimizer broadcasts whichever side is smaller at THIS scale (the
    # corpus, at sf0.01) and would fall back to a sort-merge join that
    # shuffles the whole corpus onto a ≤6-value key at 100 TB.
    br = ev.select(F.col("event_type").alias("_et"), "value").join(
        F.broadcast(agg),
        F.col("event_type").eqNullSafe(F.col("_et")),
    ).groupBy(
        "event_type", "p50_exact", "p95_exact", "p50_approx", "p95_approx"
    ).agg(
        F.max(F.expr("CASE WHEN value <= p50_exact THEN value END")).alias("lo50"),
        F.min(F.expr("CASE WHEN value >= p50_exact THEN value END")).alias("hi50"),
        F.max(F.expr("CASE WHEN value <= p95_exact THEN value END")).alias("lo95"),
        F.min(F.expr("CASE WHEN value >= p95_exact THEN value END")).alias("hi95"),
    )
    tol = lambda a, e: F.abs(F.col(a) - F.col(e)) <= 0.05 * F.abs(F.col(e))  # noqa: E731
    ok50 = (
        tol("p50_approx", "p50_exact")
        | (F.col("p50_approx") == F.col("lo50"))
        | (F.col("p50_approx") == F.col("hi50"))
    )
    ok95 = (
        tol("p95_approx", "p95_exact")
        | (F.col("p95_approx") == F.col("lo95"))
        | (F.col("p95_approx") == F.col("hi95"))
    )
    return (
        br.select(
            "event_type",
            _r(F.col("p50_exact"), "p50_exact"),
            _r(F.col("p95_exact"), "p95_exact"),
            (ok50 & ok95).alias("within_tol"),
        )
        .orderBy("event_type")
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props column -> typed aggregate.

    ``get_json_object`` evaluates JVM-side inside codegen (no Python,
    no full JSON parse into a struct — a single-path extract). At
    100 TB prefer parsing ONCE into a typed struct column at ingest
    (``from_json`` + schema) over repeated path extraction per query;
    this operator is the query-time form.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.avg("k"), "avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("null_ks"),
        )
        .orderBy("event_type")
    )


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: zero rows for (day, event_type) cells with no
    events — the time-series densification every monitoring rollup needs.

    The date spine is ``sequence()`` over the observed [min, max] day
    range, exploded from a ONE-ROW aggregate and cross-joined with the
    distinct type dimension — both sides tiny, broadcast by AQE — then
    the daily counts LEFT-join onto the spine. The fact table is
    touched twice but shuffles only on the (day, type) grain.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    # span and the type dimension re-scanned events (3 scans). Both
    # derive EXACTLY from the (day x type)-bounded daily table (same
    # distinct days/types, min/max skip NULLs the same way) — pin it;
    # the fact is scanned once.
    daily = (
        ev.groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_raw"))
        .transform(pin)
    )
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine_days = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    types = daily.select("event_type").distinct()
    spine = spine_days.crossJoin(types)
    return (
        spine.join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("n_raw", F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


def q_events_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward) per user.

    ``last(col, ignorenulls=True)`` over an UNBOUNDED-PRECEDING frame is
    the distributed LOCF: one shuffle on user_id, a single ordered pass
    per partition, no self-join. Purchases define the observations;
    every event row carries the user's most recent purchase value.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    obs = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("last_purchase_value",
                      F.last(obs, ignorenulls=True).over(w))
        .select(
            "event_id",
            "user_id",
            _r(F.col("last_purchase_value"), "last_purchase_value"),
        )
        .orderBy("event_id")
    )


def q_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family: percent_rank / cume_dist / first_value
    in one window pass over customer-grain aggregates.

    All three functions share ONE window spec, so Spark evaluates them
    in a single sort+scan per nation partition (one shuffle on the
    partition key, customer-grain input). Emits each nation's top
    decile by spend with their distribution coordinates.
    """
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("spend"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.partitionBy("n_name").orderBy(F.desc("spend"), "o_custkey")
    return (
        spend.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            "o_custkey",
            "spend",
            _r(F.percent_rank().over(w), "pct_rank"),
            _r(F.cume_dist().over(w), "cume"),
            F.first_value(F.col("o_custkey")).over(w).alias("top_custkey"),
        )
        .where(F.col("pct_rank") <= 0.1)
        .orderBy("n_name", F.desc("spend"), "o_custkey")
    )


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw ``spark.sql`` surface: same Catalyst plan as the
    DataFrame API, proven by running a join+agg THROUGH SQL text over
    registered views (api.register_tables). The oracle is the identical
    statement in DuckDB — SQL-dialect parity for the common core.
    """
    from navigator_data_ingest_spark.api import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name AS nation,
               count(*) AS n_customers,
               round(sum(c_acctbal), 6) AS total_balance
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY n_name
        ORDER BY n_name
        """
    )


N_SALT = 8


def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join over a pathologically low-cardinality key.

    ``events`` carries only 5 distinct ``event_type`` values, so a
    plain shuffle join on that key lands the whole fact table on 5
    reducer partitions — at 100 TB, 5 busy executors and 995 idle ones.
    The classic mitigation when the skewed side must shuffle (e.g. the
    other side is too big to broadcast, simulated here by disabling
    broadcast in the plan test): SALT the key. The fact side gets a
    deterministic ``salt = pmod(hash(event_id), N_SALT)``; the dim side
    is replicated N_SALT times (an explode of a literal range — N_SALT
    rows per key, trivially small); the join key becomes
    ``(event_type, salt)`` — 5*N_SALT shuffle keys instead of 5, so
    parallelism scales with N_SALT, not key cardinality. AQE's
    ``skewedJoin`` rewrite handles the *large-partition* flavor of this
    at runtime; explicit salting is the planning-time answer when the
    key histogram is known (and the only answer for stream-stream).

    The query itself: per-type mean absolute deviation of event value —
    the dim side is the per-type mean (computed first, 5 rows), joined
    back salted. Oracled against the unsalted formulation; salt never
    escapes (it is a join-locality artifact, projected away).
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    type_means = (
        events.groupBy("event_type")
        .agg(F.avg("value").alias("type_mean"))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
    )
    salted = events.withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(N_SALT)).cast("int")
    )
    return (
        salted.join(type_means, ["event_type", "salt"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            _r(F.avg(F.abs(F.col("value") - F.col("type_mean"))), "mad"),
        )
        .orderBy("event_type")
    )


SLIDE_LEN_H = 3   # sliding window length (hours)
SLIDE_STEP_H = 1  # slide step (hours)


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation: 3-hour windows every 1 hour.

    Completes the window family (tumbling = q_events_windowed, session
    = q_events_sessionize): ``F.window(ts, '3 hours', '1 hour')``
    assigns each event to LEN/STEP = 3 windows. Spark implements the
    assignment as an in-operator expansion BEFORE the shuffle — the
    shuffle carries 3x rows but stays keyed on (window, type), so at
    100 TB the cost is the explicit overlap factor, not a self-join;
    the oracle replays the same semantics as an explicit
    ``generate_series(0, 2)`` offset join.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{SLIDE_LEN_H} hours", f"{SLIDE_STEP_H} hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.sum("value"), "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


HIST_WIDTH = 5.0   # histogram bucket width over `value`
HIST_BUCKETS = 20  # clamp range [0, HIST_BUCKETS-1]


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type — the profiling
    primitive behind dashboards and data-quality monitors. Bucket
    assignment is a map-side expression (no UDF, no sort); the only
    shuffle is the (type, bucket) aggregation, whose cardinality is
    bounded by TYPES x BUCKETS regardless of event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.lit(HIST_BUCKETS - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / HIST_WIDTH)),
    ).cast("int")
    return (
        ev.select("event_type", bucket.alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r(F.min("value"), "min_value"),
            _r(F.max("value"), "max_value"),
        )
        .orderBy("event_type", "bucket")
    )


RANGE_FRAME_SECONDS = 3600  # trailing event-time frame width


def q_events_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based (RANGE) window frame: per user, each event carries the
    count and sum of that user's events in the trailing hour — INCLUDING
    itself. The RANGE frame is the window-family member ROWS frames
    can't emulate (the frame is bounded by the ORDER-BY VALUE, not a row
    count), and the standard way to express "activity in the last N
    minutes" without a self-join.

    Frame bounds order by epoch seconds, so ties (same-second events)
    share one frame — deterministic regardless of row order; the only
    shuffle is the user_id window partition.

    ``epoch_s`` is derived from the NTZ wall-clock COMPONENTS
    (datediff·86400 + h·3600 + m·60 + s) — ``unix_timestamp`` would
    interpret the timezone-free stored value in the session timezone,
    shifting results on any non-UTC session (the driver's plain session
    does not pin UTC), while DuckDB's ``epoch(ts)`` stays UTC-wall.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "epoch_s",
        F.expr(
            "datediff(cast(ts as date), date'1970-01-01') * 86400"
            " + hour(ts) * 3600 + minute(ts) * 60 + floor(second(ts))"
        ).cast("bigint"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-RANGE_FRAME_SECONDS, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "epoch_s",
            F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
            F.round(F.sum("value").over(w), 6).alias("sum_trailing_1h"),
        )
        .orderBy("event_id")
    )


def stats_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profiler over ``orders``: per column, null count,
    approx-distinct sketch, min/max — the data-quality summary every
    warehouse runs after a load.

    Scale shape: ONE scan computes every per-column aggregate as a
    sibling expression (Spark evaluates them in a single partial-agg
    pass — no per-column rescans); the wide 1-row result is unpivoted
    to (column, metric) rows AFTER aggregation via ``stack``, so the
    explode multiplies a 1-row aggregate, never the fact table.
    HLL distinct counts are deterministic for fixed input; the oracle
    pins EXACT distincts and gates the sketch inside the query (same
    contract as q_approx_distinct).
    """
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    ords = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__exact_distinct"),
            F.approx_count_distinct(c).alias(f"{c}__approx_distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = ords.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__exact_distinct, {c}__approx_distinct, "
        f"{c}__min, {c}__max"
        for c in cols
    )
    tall = wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, approx_distinct, min_s, max_s)"
        )
    )
    # the sketch is certified IN-QUERY (within 10% of exact); the oracle
    # replays the exact values and the boolean, not the sketch itself
    return tall.select(
        "column_name",
        "n_nulls",
        "n_distinct",
        (
            (F.col("approx_distinct") * 10 >= F.col("n_distinct") * 9)
            & (F.col("approx_distinct") * 10 <= F.col("n_distinct") * 11)
        ).alias("sketch_within_tol"),
        "min_s",
        "max_s",
    ).orderBy("column_name")


COGROUP_RESULT_SCHEMA = (
    "month string, n_orders bigint, order_cents bigint, "
    "n_lines bigint, line_cents bigint"
)


def _monthly_compare(key, orders_pdf, lines_pdf):
    """Cogrouped reconciliation: one month's orders AND lineitems arrive
    as two aligned pandas frames. Sums run on integer cents (int64 —
    order-free, bit-exact cross-engine)."""
    import pandas as pd

    return pd.DataFrame(
        {
            "month": [key[0]],
            "n_orders": [len(orders_pdf)],
            "order_cents": [int(orders_pdf["cents"].sum()) if len(orders_pdf) else 0],
            "n_lines": [len(lines_pdf)],
            "line_cents": [int(lines_pdf["cents"].sum()) if len(lines_pdf) else 0],
        }
    )


def stats_cogroup_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-book vs line-item monthly reconciliation via
    ``cogroup(...).applyInPandas`` — the remaining pandas-API family
    member (grouped-map and grouped-state are covered elsewhere): two
    tables co-partitioned on one key, each key's two slices delivered
    to Python TOGETHER. The co-shuffle is the point — at scale this is
    one exchange per side, no join materialization, and the Python
    stage sees bounded per-key batches.

    Money is converted to integer cents map-side (floor(x*100 + 0.5) —
    identical in both engines on identical doubles) so the pandas sums
    are int64 and order-free; the oracle is a FULL OUTER month join
    (cogroup emits keys present in EITHER input).
    """
    ords = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    lines = load_table(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        F.expr(
            "cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)"
        ).alias("cents"),
    )
    return (
        ords.groupBy("month")
        .cogroup(lines.groupBy("month"))
        .applyInPandas(_monthly_compare, schema=COGROUP_RESULT_SCHEMA)
        .orderBy("month")
    )


def q9_profit_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-line profit by nation and year (TPC-H Q9 shape, adapted:
    the schema has no partsupp, so supply cost is proxied from the part
    dimension). The classic many-dim star join: part and supplier and
    nation all BROADCAST, lineitem joins orders on the fact key, and
    the only data-sized shuffle is the final (nation, year) aggregate —
    ~25 x 7 groups regardless of fact volume.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("1")
    ).select("p_partkey", "p_retailprice")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.5) * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_r(F.sum(profit), "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q15_QUARTER = ("1995-01-01", "1995-04-01")


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by quarterly revenue (TPC-H Q15 shape).

    The revenue "view" is a supplier-grain aggregate (bounded by the
    dimension size); the maximum is a 1-row aggregate broadcast back —
    never a partition-less ranking window over the fact table. Ties
    all surface, as in the spec.
    """
    lo, hi = Q15_QUARTER
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") < F.lit(hi))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6)
        .alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"), "s_name", "total_revenue"
        )
        .orderBy("s_suppkey")
    )


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars per event type — the
    time-series rollup every metrics/market hypertable serves.

    Open and close are NOT min/max of value: they are the values at the
    earliest/latest (ts, event_id) in the bar — computed with
    ``min(struct(ts, event_id, value))`` / ``max(...)`` so the whole
    bar is ONE aggregation pass (no ranking window, no self-join);
    struct comparison is lexicographic and (ts, event_id) is unique, so
    ties cannot reach the value field. The shuffle key (hour, type) is
    bounded x types regardless of event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts")).alias("bar_start")
    o = F.min(F.struct("ts", "event_id", "value")).alias("o")
    c = F.max(F.struct("ts", "event_id", "value")).alias("c")
    return (
        ev.groupBy(bar, F.col("event_type"))
        .agg(
            o,
            c,
            _r(F.min("value"), "low"),
            _r(F.max("value"), "high"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "bar_start",
            "event_type",
            F.round(F.col("o.value"), 6).alias("open"),
            "high",
            "low",
            F.round(F.col("c.value"), 6).alias("close"),
            "n_events",
        )
        .orderBy("bar_start", "event_type")
    )


def q_orders_running_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative monthly revenue share within each year: a window
    cumsum over the MONTH-grain aggregate (12 rows per year partition —
    the window runs on a bounded pre-aggregate, never the fact table)
    plus a same-partition total; one fact shuffle, one tiny window.
    """
    ords = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    monthly = ords.groupBy("yr", "mo").agg(F.sum("cents").alias("rev_cents"))
    w_cum = (
        Window.partitionBy("yr")
        .orderBy("mo")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("yr")
    return (
        monthly.select(
            "yr",
            "mo",
            "rev_cents",
            F.sum("rev_cents").over(w_cum).alias("cum_cents"),
            F.sum("rev_cents").over(w_tot).alias("_tot"),
        )
        # integer div, not float /: Spark truncates the double quotient
        # while DuckDB's ::bigint cast rounds it — exact-boundary shares
        # drift by 1. `div` / `//` keeps both engines in integers.
        .select(
            "yr",
            "mo",
            "rev_cents",
            "cum_cents",
            F.expr("(cum_cents * 1000) div _tot").alias("cum_permille"),
        )
        .orderBy("yr", "mo")
    )


Q11_NATION = "NATION_3"      # Q11's single-nation stock filter
Q11_FRACTION = 0.002         # keep parts whose value share exceeds this


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape, adapted: no
    partsupp table, so a part's stock value held by one nation's
    suppliers is proxied from its lineitem flow at the Q9 supply-cost
    proxy ``p_retailprice * 0.5``).

    Scale shape: supplier+nation are BROADCAST filters applied before
    the fact shuffle; the per-part aggregate is one shuffle on
    l_partkey; the global total is a 1-row aggregate BROADCAST back as
    the HAVING threshold (same pattern as q22/q15) — no second scan of
    the fact table and no driver-side value.
    """
    sup_in_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").where(
                    F.col("n_name") == Q11_NATION
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    stock = (
        li.join(F.broadcast(sup_in_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("p_retailprice") * F.lit(0.5) * F.col("l_quantity")
            ).alias("raw_value")
        )
    )
    threshold = stock.agg(
        (F.sum("raw_value") * F.lit(Q11_FRACTION)).alias("cutoff")
    )
    return (
        stock.join(F.broadcast(threshold), F.col("raw_value") > F.col("cutoff"))
        .select("l_partkey", _r(F.col("raw_value"), "value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


Q20_PART_TOKEN = "red"       # Q20's p_name filter token
Q20_YEAR = 1996              # the promotion year
Q20_CONCENTRATION = 0.3      # pair qualifies when year qty > this share


def q20_promotion_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential-part-promotion suppliers (TPC-H Q20 shape, adapted: no
    partsupp availability, so a (supplier, part) pair qualifies when its
    shipped quantity in the promotion year exceeds ``Q20_CONCENTRATION``
    of its all-time shipped quantity — the spec's
    ``ps_availqty > 0.5 * year-shipped`` concentration test re-expressed
    on the flow side).

    Scale shape: the part-name filter is a BROADCAST semi-join applied
    before the fact shuffle; year-vs-total is ONE conditional aggregate
    over (l_suppkey, l_partkey) — a single fact shuffle, no self-join
    between a year-scan and an all-time scan; the qualifying-pair →
    supplier step is a count aggregate on the bounded pair set joined
    to the BROADCAST supplier dim.
    """
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").contains(Q20_PART_TOKEN))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    pairs = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(F.year("l_shipdate") == Q20_YEAR, F.col("l_quantity"))
                .otherwise(F.lit(0.0))
            ).alias("year_qty"),
            F.sum("l_quantity").alias("total_qty"),
        )
        .where(F.col("year_qty") > F.lit(Q20_CONCENTRATION) * F.col("total_qty"))
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        pairs.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_promo_parts"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_promo_parts")
        .orderBy("s_suppkey")
    )


ZSCORE_SIGMAS = 3  # anomaly threshold (population sigmas)


def q_events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly detection over events — the metrics-
    pipeline outlier flag — computed EXACTLY in integer arithmetic so
    the flag is bit-identical cross-engine: with n, S = Σc, Q = Σc² per
    type (c = value in cents), ``|z| > k`` is the integer comparison

        (n·c − S)² > k²·(n·Q − S²)

    (both sides are n² × the float form) — no float mean/stddev whose
    last-ulp differences could flip a boundary row between engines.

    Scale shape: the per-type moment table is a tiny aggregate (one
    map-side-combined shuffle to |types| rows) BROADCAST back; the flag
    itself is map-side. Witness products are carried in decimal(38,0)
    (DuckDB: HUGEINT), exact far past the int64 overflow that n·Q hits
    around a billion rows per type.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("cents")).alias("s"),
        F.sum(d("cents") * d("cents")).alias("q"),
    )
    dev = F.col("n") * d("cents") - F.col("s")
    var_n2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(dev * dev > F.lit(ZSCORE_SIGMAS * ZSCORE_SIGMAS) * var_n2)
        .select("event_id", "event_type", "cents")
        .orderBy("event_id")
    )


FUNNEL_STEPS = ("view", "click", "purchase")  # ordered funnel stages


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view → click → purchase) per user —
    the product-analytics staple: a later stage only counts when it
    happens strictly AFTER the user's earlier stage.

    Scale shape: each stage is a user-grain ``min(ts)`` aggregate over
    a type-filtered scan, and each later stage joins the previous
    user-grain result on user_id — every shuffle in the chain is on the
    SAME key (user_id), so AQE/co-partitioning reuses the layout; no
    window over the raw fact, no self-join of events with events at
    event grain. Output is user-grain with per-stage timestamps
    (NULL = stage not reached) and the reached-stage depth.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # v feeds BOTH the click stage and the final join (and rides inside
    # p via c), c feeds the purchase stage and the final join —
    # unpinned, the plan expanded to v x3 / c x2 = SIX events scans.
    # Pinning the user-grain stage tables makes each stage scan events
    # exactly once (three type-filtered scans total); the pins are
    # user-grain aggregates, orders of magnitude below event grain.
    v = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
        .transform(pin)
    )
    c = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[1])
        .join(v, "user_id")
        .where(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
        .transform(pin)
    )
    p = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[2])
        .join(c, "user_id")
        .where(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            (
                F.lit(1)
                + F.col("click_ts").isNotNull().cast("int")
                + F.col("purchase_ts").isNotNull().cast("int")
            ).alias("stage"),
        )
        .orderBy("user_id")
    )


def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection per event type (train/serve skew
    monitoring): a Kolmogorov–Smirnov statistic proxy between the
    earlier and later temporal halves of the stream, computed EXACTLY —
    bucketed CDFs in integer permille, so the drift score is
    bit-identical cross-engine (no float CDF whose rounding could flip
    a max).

    Scale shape: the time midpoint is a 1-row min/max aggregate
    BROADCAST back (integer micros, no driver collect); bucket + side
    assignment is map-side; the only data-sized shuffle is the
    (type, bucket) count agg — TYPES x BUCKETS rows — and the CDF
    window + max run on that bounded aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.expr(sp_epoch_us("ts")).alias("us"),
    )
    mid = ev.agg(
        ((F.min("us") + F.max("us")) / F.lit(2)).cast("bigint").alias("mid_us")
    )
    bucket = F.least(
        F.lit(HIST_BUCKETS - 1),
        F.greatest(F.lit(0), F.floor(F.col("value") / HIST_WIDTH)),
    ).cast("int")
    g = (
        ev.join(F.broadcast(mid))
        .select(
            "event_type",
            bucket.alias("bucket"),
            (F.col("us") < F.col("mid_us")).cast("long").alias("is_ref"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(F.lit(1) - F.col("is_ref")).alias("n_cur"),
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("event_type")
    cdf = g.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w_cum).alias("cum_ref"),
        F.sum("n_cur").over(w_cum).alias("cum_cur"),
        F.sum("n_ref").over(w_tot).alias("tot_ref"),
        F.sum("n_cur").over(w_tot).alias("tot_cur"),
    )
    return (
        cdf.select(
            "event_type",
            "tot_ref",
            "tot_cur",
            # nullif: a 1-row corpus puts every event in ONE half, the
            # other side's total is 0 — the KS distance is undefined,
            # delta emits NULL instead of an ANSI crash (round-9 probe)
            F.abs(
                F.expr("cum_ref * 1000 div nullif(tot_ref, 0)")
                - F.expr("cum_cur * 1000 div nullif(tot_cur, 0)")
            ).alias("delta"),
        )
        .groupBy("event_type")
        .agg(
            F.max("delta").alias("ks_permille"),
            F.max("tot_ref").alias("n_ref"),
            F.max("tot_cur").alias("n_cur"),
        )
        .orderBy("event_type")
    )


def q_orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per order priority — the reporting
    staple. The fact table collapses to a (priority, year) pre-aggregate
    first (one map-side-combined shuffle to a PRIORITIES x YEARS grid);
    the lag window and the growth arithmetic run on that bounded grid.
    Revenue is exact integer cents and growth is integer permille
    (prev = 0 yields NULL via div), so no float boundary rows.
    """
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").alias("yr"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    yearly = ords.groupBy("o_orderpriority", "yr").agg(
        F.sum("cents").alias("rev_cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    return (
        yearly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .select(
            "o_orderpriority",
            "yr",
            "rev_cents",
            "prev_cents",
            F.expr(
                "(rev_cents - prev_cents) * 1000 div nullif(prev_cents, 0)"
            ).alias("yoy_permille"),
        )
        .orderBy("o_orderpriority", "yr")
    )


# --------------------------------------------------------------------------
# round 3: cohort retention, basket pair mining, sliding distinct users,
# one-pass correlation matrix
# --------------------------------------------------------------------------

def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix — the product-analytics staple.

    Users are cohorted by the Monday week of their FIRST event (one
    user_id window shuffle); each (cohort_week, week_offset) cell counts
    distinct active users, and retention is permille of the offset-0
    cell (every user is active in their first week by construction).

    Scale shape: the only fact-scale shuffle is the user_id window; the
    distinct-user aggregation runs partial/final on the (cohort, offset,
    user) key, and the retention window runs on the COHORTS x OFFSETS
    grid (weeks², metadata-sized at any corpus size). Integer permille —
    no float boundary rows.
    """
    ev = load_table(spark, sf_dir, "events")
    uw = Window.partitionBy("user_id")
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).withColumn("cohort_week", F.min("wk").over(uw))
    agg = (
        wk.select(
            "cohort_week",
            F.expr("cast(datediff(wk, cohort_week) div 7 as int)").alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    cw = Window.partitionBy("cohort_week")
    return (
        agg.withColumn(
            "cohort_size",
            F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(cw),
        )
        .withColumn(
            "retention_permille", F.expr("n_active * 1000 div cohort_size")
        )
        .orderBy("cohort_week", "week_offset")
    )


BASKET_TOP_N = 15


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase pair mining (market-basket counts): for every order,
    the set of distinct part brands it contains; count orders per
    unordered brand pair; top-N pairs.

    Scale shape: brand comes from a broadcast dim join (part is the
    small side); ONE fact shuffle on l_orderkey builds the per-order
    brand set (collect_set dedups in-agg — no separate distinct
    shuffle); pairs are generated INSIDE the sorted array (the
    text_cooccurrence idiom — fan-out bounded by order width², ~C(w,2)
    per order, never a positional self-join); the pair aggregation key
    is bounded by BRANDS² (~300) regardless of fact volume, and top-N is
    a TakeOrdered, not a global sort.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(brands, (x, i) -> "
                "transform(slice(brands, i + 2, size(brands)), "
                "y -> struct(x AS brand_a, y AS brand_b))))"
            )
        ).alias("p")
    ).select("p.brand_a", "p.brand_b")
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(BASKET_TOP_N)
    )


def q_events_distinct_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per sliding window (3 h / 1 h step) — the
    "concurrent users" dashboard number, done honestly.

    ``F.window`` expands each event to LEN/STEP windows BEFORE the
    shuffle (explicit 3x overlap factor, q_events_sliding); the exact
    count-distinct then runs as Spark's two-phase plan — partial
    (window, user) dedup map-side, final count after the shuffle — so no
    reducer materializes a user set. ``q_approx_distinct``'s HLL sketch
    is the 100 TB swap-in when permille accuracy suffices; this operator
    is the exact-twin certification of it.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", f"{SLIDE_LEN_H} hours", f"{SLIDE_STEP_H} hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_users")
        .orderBy("window_start")
    )


CORR_VARS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_int(v: str) -> str:
    # hundredth-units as decimal(38,0): every moment is an EXACT integer
    # sum, so the correlation matrix is deterministic under any partial-
    # aggregation order (float sums would drift with partitioning)
    return f"cast(round({v} * 100) as decimal(38,0))"


def stats_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the lineitem measures in ONE
    scan: every moment (n, Σx, Σxy) is a sibling integer aggregate —
    14 exact decimal(38,0) sums, map-side combined into a single 1-row
    partial-agg shuffle — and the 6 correlations are derived arithmetic
    on that row, unpivoted with ``stack`` AFTER the aggregation (6 rows,
    never 6 scans). Floats appear only in the final
    exact-integer → sqrt → divide step, identical in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for v in CORR_VARS:
        aggs.append(F.expr(f"sum({_corr_int(v)})").alias(f"s_{v}"))
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_VARS)
        for b in CORR_VARS[i:]
    ]
    for a, b in pairs:
        aggs.append(
            F.expr(f"sum({_corr_int(a)} * {_corr_int(b)})").alias(f"s_{a}_{b}")
        )
    m = li.agg(*aggs)
    corr_cols = []
    for a, b in pairs:
        if a == b:
            continue
        num = f"(n * s_{a}_{b} - s_{a} * s_{b})"
        dx = f"(n * s_{a}_{a} - s_{a} * s_{a})"
        dy = f"(n * s_{b}_{b} - s_{b} * s_{b})"
        corr_cols.append(
            # nullif: a zero-variance column has no correlation — NULL
            # in BOTH engines (ANSI raises on /0; DuckDB returns NULL)
            F.expr(
                f"round(cast({num} as double) / "
                f"nullif(sqrt(cast({dx} as double))"
                f" * sqrt(cast({dy} as double)), 0.0), 6)"
            ).alias(f"c_{a}_{b}")
        )
    stacked = ", ".join(
        f"'{a}', '{b}', c_{a}_{b}" for a, b in pairs if a != b
    )
    n_pairs = sum(1 for a, b in pairs if a != b)
    return (
        m.select(F.col("n").cast("bigint").alias("n_rows"), *corr_cols)
        .selectExpr(
            "n_rows",
            f"stack({n_pairs}, {stacked}) AS (var_x, var_y, corr)",
        )
        .select("var_x", "var_y", "n_rows", "corr")
        .orderBy("var_x", "var_y")
    )


def stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (the experimentation-platform primitive):
    users split A/B by ``user_id % 2``, conversion = the user has at
    least one purchase event; z for the conversion-rate difference.

    Shape: ONE user-grain aggregation (user_id key — the only
    fact-scale shuffle), then a 1-row conditional-sum collapse. The
    four counts are exact integers, so the float z appears only in the
    final expression — spelled with the same literal structure in the
    DuckDB oracle, so the IEEE result is bit-identical. Integer
    permille rates ride along for dashboards that avoid floats.
    """
    ev = load_table(spark, sf_dir, "events")
    # conversion = purchase share above 20% — an integer cross-multiply
    # that splits the population at any scale factor (a "has any
    # purchase" rule saturates at p=1, making the z denominator zero)
    users = (
        ev.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("np"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "user_id",
            F.expr("CASE WHEN np * 5 > n THEN 1 ELSE 0 END").alias("converted"),
        )
        .withColumn("grp", F.expr("user_id % 2"))
    )
    agg = users.groupBy().agg(
        F.sum(F.expr("CASE WHEN grp = 0 THEN 1 ELSE 0 END")).alias("n_a"),
        F.sum(F.expr("CASE WHEN grp = 0 THEN converted ELSE 0 END")).alias("conv_a"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN 1 ELSE 0 END")).alias("n_b"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN converted ELSE 0 END")).alias("conv_b"),
    )
    # nullif guards (round-9 degenerate-input probe): with 0 or 1 users
    # one arm is EMPTY and every n_a/n_b denominator is zero — the test
    # is undefined there, so the rates and z emit NULL instead of an
    # ANSI DIVIDE_BY_ZERO crash; values unchanged whenever both arms
    # have members
    pool = "((conv_a + conv_b) / cast(nullif(n_a + n_b, 0) as double))"
    z = (
        f"round((conv_a / cast(nullif(n_a, 0) as double)"
        f" - conv_b / cast(nullif(n_b, 0) as double))"
        f" / sqrt({pool} * (1.0 - {pool})"
        f" * (1.0 / nullif(n_a, 0) + 1.0 / nullif(n_b, 0))), 6)"
    )
    # the pooled factor p̂(1−p̂) is 0 when NOBODY or EVERYBODY converts
    # (round-10 n=3 probe — 3 users, none past the 20% rule): z is
    # undefined there, exact integer guard both engines
    zdef = (
        "(n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0"
        " AND conv_a + conv_b < n_a + n_b)"
    )
    return agg.selectExpr(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        "conv_a * 1000 div nullif(n_a, 0) AS conv_a_permille",
        "conv_b * 1000 div nullif(n_b, 0) AS conv_b_permille",
        f"CASE WHEN {zdef} THEN {z} END AS z_score",
    )


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    marketing-analytics staple, in the engine's window-free quartile
    idiom.

    One user-grain aggregation produces the three raw measures
    (recency = days since the user's last event relative to the corpus
    max, frequency = event count, monetary = integer cents); the NINE
    quartile cut points (3 measures x 3 cuts) come from ONE 1-row
    exact-percentile aggregate broadcast back (the q_ntile_spend
    pattern — never an unpartitioned ntile window), and scoring is a
    map-side CASE. Output is the segment-grain profile: user counts and
    measure means per (r_score, f_score, m_score) cell — bounded at 64
    rows at any corpus size. Score 1 = best (most recent / most
    frequent / highest spend), matching RFM convention.
    """
    ev = load_table(spark, sf_dir, "events")
    # per_user feeds the anchor aggregate AND the recency join;
    # anchored feeds the quartile cuts AND the scoring pass —
    # unpinned, the events scan + user collapse ran 4x. User grain:
    # pin both; the fact is scanned ONCE.
    per_user = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.expr("sum(cast(floor(value * 100 + 0.5) as bigint))").alias("cents"),
    ).transform(pin)
    anchored = per_user.join(
        F.broadcast(per_user.agg(F.max("last_day").alias("anchor")))
    ).select(
        "user_id",
        F.datediff("anchor", "last_day").alias("recency_days"),
        "frequency",
        "cents",
    ).transform(pin)
    cuts = anchored.agg(
        *[
            F.expr(f"percentile({m}, {q})").alias(f"{m}_{int(q * 100)}")
            for m in ("recency_days", "frequency", "cents")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def score(m: str, best_low: bool):
        # quartile score 1..4 with 1 = best; recency is better LOW
        c25, c50, c75 = (F.col(f"{m}_25"), F.col(f"{m}_50"), F.col(f"{m}_75"))
        v = F.col(m)
        if best_low:
            return (
                F.when(v <= c25, 1).when(v <= c50, 2).when(v <= c75, 3).otherwise(4)
            )
        return (
            F.when(v >= c75, 1).when(v >= c50, 2).when(v >= c25, 3).otherwise(4)
        )

    scored = (
        anchored.join(F.broadcast(cuts))
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "cents",
            score("recency_days", True).cast("int").alias("r_score"),
            score("frequency", False).cast("int").alias("f_score"),
            score("cents", False).cast("int").alias("m_score"),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.expr("sum(recency_days)").alias("sum_recency"),
            F.expr("sum(frequency)").alias("sum_frequency"),
            F.expr("sum(cents)").alias("sum_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``Observation`` API surface: named metrics accumulated ON the
    rows of a running query — the data-quality counters a production
    pipeline attaches to every job (row counts, value totals, bound
    checks) WITHOUT a second scan of the input.

    The observed query here is a routine priority profile over orders;
    the observation rides its scan and yields exact integer metrics at
    job completion. The operator executes the observed query to a noop
    sink (observation results only materialize when the host query
    runs), then returns the metrics as a 1-row DataFrame whose oracle
    recomputes them relationally — proving observe() saw every row
    exactly once.
    """
    from pyspark.sql import Observation

    obs = Observation("ingest_metrics")
    orders = load_table(spark, sf_dir, "orders")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))").alias(
            "cents"
        ),
        F.expr("min(cast(floor(o_totalprice * 100 + 0.5) as bigint))").alias(
            "min_cents"
        ),
        F.expr("max(cast(floor(o_totalprice * 100 + 0.5) as bigint))").alias(
            "max_cents"
        ),
    )
    (
        observed.groupBy("o_orderpriority")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    try:
        m = obs.get
    except Exception as exc:
        # zero-task plans never fire the observation listener (Spark
        # collapses an empty scan to a LocalTableScan and Observation.get
        # throws — round-9 empty-input axis). The pipeline must not lose
        # its job to a metrics read: recompute the same exact metrics
        # with one direct aggregate over the (empty) input. The
        # discriminant is the CONDITION, not the message text (r10
        # ADVICE: the old 'toPyRow' substring is an internal PySpark
        # symbol a version bump may reword): fall back only when the
        # observed input is genuinely empty — the one case whose plan
        # collapses to a zero-task LocalTableScan. isEmpty() here is
        # cheap (first-row probe; the fallback path only matters on
        # empty scans) and any observation failure on NON-empty input is
        # a listener regression this op exists to surface — it
        # propagates.
        if not orders.isEmpty():
            raise
        import sys as _sys

        print(
            "q_observe_metrics: Observation.get failed on a zero-task "
            f"(empty-scan) plan ({type(exc).__name__}); recomputing via "
            "direct aggregate",
            file=_sys.stderr,
        )
        m = orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                "sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
            ).alias("cents"),
            F.expr(
                "min(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
            ).alias("min_cents"),
            F.expr(
                "max(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
            ).alias("max_cents"),
        ).collect()[0].asDict()
    return spark.createDataFrame(
        [(m["n_rows"], m["cents"], m["min_cents"], m["max_cents"])],
        "n_rows bigint, cents bigint, min_cents bigint, max_cents bigint",
    )


def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 VARIANT type: ``parse_json`` turns the semi-structured
    props column into the binary variant encoding ONCE, and every
    ``variant_get`` after that is a typed path read — the
    open-table-format answer to repeated ``get_json_object`` string
    re-parsing (q_events_json is the classic-path twin). At 100 TB the
    parse happens at ingest and the shredded variant is what lands in
    the table.

    Extraction and the aggregate are map-side; the only shuffle is the
    TYPES-bounded group key.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_collated_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations: a case-insensitive (UTF8_LCASE)
    GROUP BY without materializing a lowercased copy of the key — the
    engine compares under the collation. The input synthesizes mixed
    case from the brand dim (odd parts upper-case their brand); the
    deterministic representative is min(original) so the output is
    engine-order-independent. The DuckDB oracle replays the semantics
    with lower() grouping — value-identical for the ASCII key space.
    """
    part = load_table(spark, sf_dir, "part")
    mixed = part.select(
        F.when(F.col("p_partkey") % 2 == 1, F.upper("p_brand"))
        .otherwise(F.lower("p_brand"))
        .alias("brand_mixed")
    )
    return (
        mixed.groupBy(
            F.expr("collate(brand_mixed, 'UTF8_LCASE')").alias("_ci")
        )
        .agg(
            F.min("brand_mixed").alias("brand_rep"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .select("brand_rep", "n_parts")
        .orderBy("brand_rep")
    )


# Benford expected first-digit shares in permille, computed once in
# Python (round(log10(1 + 1/d) * 1000)) and embedded as literals on
# BOTH engines — no runtime float log in the comparison path
BENFORD_PERMILLE = {
    d: round(__import__("math").log10(1 + 1 / d) * 1000) for d in range(1, 10)
}


def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fabricated-data screen in financial data quality.

    The first significant digit comes from the INTEGER part's string
    form (floor -> bigint -> first char): float log/pow tricks misfire
    at power-of-ten boundaries (log10(1000.0) can evaluate just below
    3), while string extraction is exact for values >= 1. Map-side
    digit, 9-key bounded aggregate, expected shares as precomputed
    integer literals, deviation in permille.
    """
    ords = load_table(spark, sf_dir, "orders").where("o_totalprice >= 1")
    digit = F.expr(
        "cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as int)"
    )
    expected = F.expr(
        "CASE digit "
        + " ".join(
            f"WHEN {d} THEN {p}" for d, p in BENFORD_PERMILLE.items()
        )
        + " END"
    )
    agg = ords.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.partitionBy()
    return (
        agg.withColumn("total", F.sum("n_orders").over(w))
        .withColumn("observed_permille", F.expr("n_orders * 1000 div total"))
        .withColumn("expected_permille", expected.cast("bigint"))
        .withColumn(
            "dev_permille",
            F.abs(F.col("observed_permille") - F.col("expected_permille")),
        )
        .select(
            "digit",
            "n_orders",
            "observed_permille",
            "expected_permille",
            "dev_permille",
        )
        .orderBy("digit")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third member of the grouped-
    subtotal family (q_orders_rollup = ROLLUP's suffix chain,
    q_cube_pricing = CUBE's power set): hand-picked aggregation levels
    ((priority, year), (priority), ()) computed in ONE pass with
    `grouping_id` disambiguating levels — three queries' worth of
    subtotals for one shuffle.
    """
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").alias("yr"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    ords.createOrReplaceTempView("v_gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, yr,
               grouping(o_orderpriority) AS g_prio, grouping(yr) AS g_yr,
               count(*) AS n_orders, sum(cents) AS cents
        FROM v_gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, yr), (o_orderpriority), ())
        ORDER BY g_prio, g_yr, o_orderpriority, yr
        """
    )


def q_events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each purchase matched to the user's EARLIEST
    SUBSEQUENT click — the attribution direction ("did the purchase
    lead to re-engagement?") that completes the as-of pair
    (q_events_asof is the backward/latest-prior form).

    Same single-pass shape: one user_id window over the unioned stream,
    ``first(..., ignorenulls)`` over the CURRENT ROW → UNBOUNDED
    FOLLOWING frame carries the next right-side row backward. One
    shuffle, no range-join blowup; the DuckDB oracle replays the frame
    with IGNORE NULLS first_value.
    """
    ev = load_table(spark, sf_dir, "events")
    # the next-click lookup runs as a reverse-order RUNNING frame:
    # Spark recomputes a CURRENT ROW -> UNBOUNDED FOLLOWING frame from
    # scratch per row (O(partition^2) — the round-11 100x events probe
    # measured the naive frame at ~90x). Ordering (ts, event_id) DESC
    # exactly reverses the ASC order (desc nulls-last mirrors asc
    # nulls-first), so last(ignorenulls) over UNBOUNDED PRECEDING ->
    # CURRENT ROW picks the same earliest at-or-after click in O(n).
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    nxt_ts = F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w)
    nxt_val = F.last(F.when(is_click, F.col("value")), ignorenulls=True).over(w)
    return (
        ev.withColumn("next_click_ts", nxt_ts)
        .withColumn("next_click_value", F.round(nxt_val, 6))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "next_click_ts", "next_click_value")
        .orderBy("event_id")
    )


def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — the industry-standard
    drift score alongside the KS proxy (stats_ks_drift): psi =
    Σ_buckets (p_i − q_i)·ln(p_i/q_i) between the temporal halves, with
    Laplace add-one smoothing so empty buckets stay finite.

    Same scale shape as the KS monitor: 1-row midpoint broadcast,
    map-side bucket/side assignment, TYPES×BUCKETS-bounded aggregation.
    Each ln argument is a ratio of exact integer products, so the only
    float steps are the shared-text ln and the bounded sum —
    round(…, 6) absorbs last-ulp libm differences (the entropy-operator
    precedent).
    """
    B = HIST_BUCKETS
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.expr(sp_epoch_us("ts")).alias("us"),
    )
    mid = ev.agg(
        ((F.min("us") + F.max("us")) / F.lit(2)).cast("bigint").alias("mid_us")
    )
    bucket = F.least(
        F.lit(B - 1), F.greatest(F.lit(0), F.floor(F.col("value") / HIST_WIDTH))
    ).cast("int")
    g = (
        ev.join(F.broadcast(mid))
        .select(
            "event_type",
            bucket.alias("bucket"),
            (F.col("us") < F.col("mid_us")).cast("long").alias("is_ref"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(F.lit(1) - F.col("is_ref")).alias("n_cur"),
        )
    )
    w_tot = Window.partitionBy("event_type")
    term = (
        "(cast(n_ref + 1 as double) / (tot_ref + {B})"
        " - cast(n_cur + 1 as double) / (tot_cur + {B}))"
        " * ln(cast((n_ref + 1) * (tot_cur + {B}) as double)"
        "      / cast((n_cur + 1) * (tot_ref + {B}) as double))"
    ).format(B=B)
    return (
        g.withColumn("tot_ref", F.sum("n_ref").over(w_tot))
        .withColumn("tot_cur", F.sum("n_cur").over(w_tot))
        .withColumn("term", F.expr(term))
        .groupBy("event_type")
        .agg(
            F.max("tot_ref").alias("n_ref"),
            F.max("tot_cur").alias("n_cur"),
            F.round(F.sum("term"), 6).alias("psi"),
        )
        .orderBy("event_type")
    )


def q_events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap — the operational dashboard
    grid. The weekday comes from epoch-day arithmetic ((days+4) mod 7,
    0 = Sunday) rather than engine dayofweek() functions, whose
    numbering conventions differ; all keys are exact integers and the
    aggregation is bounded at 7×24 cells regardless of volume.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr(
                "pmod(datediff(cast(ts as date), date'1970-01-01') + 4, 7)"
            ).cast("int").alias("dow"),
            F.hour("ts").alias("hour"),
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("cents"))
        .orderBy("dow", "hour")
    )


MULTISET_SPLIT_YEAR = 1995


def q_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the BAG-semantics set operators
    (q_customer_retention covers the DISTINCT forms): per-row
    multiplicities survive, so the result measures HOW MUCH of each
    side overlaps, not just whether it does. The two sides are the
    order-priority multisets before/after the split year; the oracle
    recomputes bag semantics arithmetically (min / clamped difference
    of grouped counts), independently certifying Spark's operators.
    """
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.year("o_orderdate").alias("yr")
    )
    ords.createOrReplaceTempView("v_ms_orders")
    return spark.sql(
        f"""
        WITH a AS (SELECT o_orderpriority FROM v_ms_orders
                   WHERE yr < {MULTISET_SPLIT_YEAR}),
             b AS (SELECT o_orderpriority FROM v_ms_orders
                   WHERE yr >= {MULTISET_SPLIT_YEAR})
        SELECT 'intersect_all' AS op, o_orderpriority, count(*) AS n
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        GROUP BY o_orderpriority
        UNION ALL
        SELECT 'except_all' AS op, o_orderpriority, count(*) AS n
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        GROUP BY o_orderpriority
        ORDER BY op, o_orderpriority
        """
    )


def stats_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve decile shares of customer spend — the
    concentration/inequality audit (Gini's bounded-bucket form): which
    tenth of customers carries which share of revenue.

    Window-free: the nine decile cut points come from ONE 1-row
    exact-percentile aggregate broadcast back (the q_ntile_spend
    idiom), decile assignment is a map-side comparison chain, and the
    cumulative share runs on the 10-row bounded aggregate. Shares in
    integer permille of exact cents.
    """
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))").alias(
                "cents"
            )
        )
    )
    cuts = spend.agg(
        *[
            F.expr(f"percentile(cents, {d / 10})").alias(f"c{d}")
            for d in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for d in range(1, 10):
        decile = F.when(F.col("cents") > F.col(f"c{d}"), d + 1).otherwise(decile)
    agg = (
        spend.join(F.broadcast(cuts))
        .withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_custs"), F.sum("cents").alias("cents"))
    )
    w_tot = Window.partitionBy()
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.withColumn("tot", F.sum("cents").over(w_tot))
        .withColumn("cum", F.sum("cents").over(w_cum))
        .select(
            "decile",
            "n_custs",
            "cents",
            F.expr("cents * 1000 div tot").alias("share_permille"),
            F.expr("cum * 1000 div tot").alias("cum_share_permille"),
        )
        .orderBy("decile")
    )


def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`): the linear FROM-first query form
    that reads in execution order — certified here with the same
    statement a warehouse migration would write, against a classic-SQL
    oracle. Semantically identical to the GROUP BY form; the surface is
    what's being certified.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_pipe_li")
    return spark.sql(
        """
        FROM v_pipe_li
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE count(*) AS n_items,
                     sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint))
                         AS cents
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


def q_lateral_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 ``DataFrame.lateralJoin`` API: a correlated subquery
    per left row expressed directly on DataFrames (``col(...).outer()``
    marks the outer reference) — here each probed order pulls its
    top-priced lineitem via a correlated ORDER BY ... LIMIT 1.

    The probe set is a bounded id stripe: per-row correlated limits are
    the right tool for FEW outer rows (lookup enrichment); bulk
    top-1-per-key at corpus scale is the map-side min(struct) idiom
    used elsewhere (emb_pq, dedup_semantic). The API contract is what
    this certifies.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where("o_orderkey % 100 = 0")
        .select("o_orderkey", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    top1 = (
        li.where(F.col("l_orderkey") == F.col("o_orderkey").outer())
        .orderBy(F.desc("l_extendedprice"), F.asc("l_linenumber"))
        .limit(1)
    )
    return (
        orders.lateralJoin(top1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "l_linenumber",
            F.round("l_extendedprice", 6).alias("top_price"),
        )
        .orderBy("o_orderkey")
    )


def stats_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-model table (what follows a view? how
    often does a click convert?).

    One user_id window derives each event's successor type
    (lead over (ts, event_id)); the transition aggregation key is
    TYPES²-bounded, and row-share permille runs on that bounded grid.
    Sequence ends (no successor) are dropped — transitions only.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("from_type")
    return (
        trans.withColumn("row_total", F.sum("n").over(wr))
        .withColumn("p_permille", F.expr("n * 1000 div row_total"))
        .orderBy("from_type", "to_type")
    )


def q_events_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution (user latency profile): per-user
    consecutive-event gaps in seconds, bucketed into power-of-two bands
    — the histogram that separates bot cadence from human browsing and
    sizes session-gap thresholds empirically.

    One user_id window derives the previous timestamp; the log2 band is
    an integer expression on exact epoch-micro differences (floor of
    bit length, no float log), and the aggregation key is bounded by
    ~40 bands regardless of volume.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(sp_epoch_us("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .where(F.col("prev_us").isNotNull())
        .select(
            F.expr("cast((us - prev_us) div 1000000 as bigint)").alias("gap_s")
        )
        .where("gap_s >= 0")
    )
    # integer log2 band: number of bits in gap_s (0 -> band 0)
    band = F.expr(
        "CASE WHEN gap_s <= 0 THEN 0 ELSE"
        " cast(length(conv(cast(gap_s as string), 10, 2)) as int) END"
    )
    return (
        gaps.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .withColumn(
            "lo_s",
            F.expr("CASE WHEN band = 0 THEN 0 ELSE shiftleft(1L, band - 1) END"),
        )
        .orderBy("band")
    )


PARAM_MIN_PRICE = 150000.0


def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with ``IDENTIFIER()`` — the injection-safe
    templating surface (Spark 3.4+/4): table names bind through
    IDENTIFIER(:param) and values through named parameters, so the
    statement text never concatenates user input. The query itself is a
    routine threshold profile; the binding mechanism is what's
    certified.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders,
               sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) AS cents
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice >= :min_price
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"tbl": "v_param_orders", "min_price": PARAM_MIN_PRICE},
    )


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently dropping — the semantics
    an entity-resolution or backfill join needs when "unknown" is a
    legitimate key value. A %7 stripe of orders gets a NULLed priority;
    the dim carries an explicit NULL row; the null-safe join routes the
    stripe to it rather than losing it (an equi-join would).
    """
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ).alias("prio"),
    )
    dim_rows = [
        ("1-URGENT", 100), ("2-HIGH", 80), ("3-MEDIUM", 60),
        ("4-NOT SPECIFIED", 40), ("5-LOW", 20), (None, 0),
    ]
    dim = spark.createDataFrame(dim_rows, "prio_d string, weight int")
    return (
        ords.join(F.broadcast(dim), F.expr("prio <=> prio_d"))
        .groupBy(F.coalesce("prio", F.lit("∅null")).alias("prio"), "weight")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("prio")
    )


def stats_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series per type —
    the time-series health check (is load bursty or independent hour to
    hour?) behind capacity forecasting.

    The raw stream collapses to the (type, hour) count series first —
    the only fact-scale shuffle — and everything after runs on that
    HOURS-bounded series: lag pairs via one window, Pearson on exact
    integer counts with the correlation-matrix discipline (moments as
    exact sums; float only in the final sqrt/divide with shared text).
    """
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = (
        series.withColumn("c_next", F.lead("c").over(w))
        .where(F.col("c_next").isNotNull())
        .select(
            "event_type",
            F.col("c").cast("decimal(38,0)").alias("x"),
            F.col("c_next").cast("decimal(38,0)").alias("y"),
        )
    )
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("sum(x * y)").alias("sxy"),
        F.expr("sum(x * x)").alias("sxx"),
        F.expr("sum(y * y)").alias("syy"),
    )
    num = "(n * sxy - sx * sy)"
    dx = "(n * sxx - sx * sx)"
    dy = "(n * syy - sy * sy)"
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(
            f"round(cast({num} as double) / "
            f"(sqrt(cast({dx} as double)) * sqrt(cast({dy} as double))), 6)"
        ).alias("autocorr_lag1"),
    ).orderBy("event_type")


def q_events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection on the hourly series per type: hours whose count
    exceeds mean + 2σ of that type's series — the alerting rule behind
    traffic-anomaly monitors, computed with the integer-witness
    discipline of q_events_zscore: the comparison
    (n·c − S)² > 4·(n·Q − S²) with c the hour count, S/Q the series'
    sum and sum-of-squares, evaluated in decimal(38,0) so no float
    boundary rows flip cross-engine (only hours ABOVE the mean can
    burst, pinned by an integer pre-check).

    The fact stream collapses once to the (type, hour) series; the
    moment aggregate and the flag are HOURS-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("event_type")
    witness = (
        "cast(n as decimal(38,0)) * cast(c as decimal(38,0))"
        " - cast(s as decimal(38,0))"
    )
    spread = (
        "cast(n as decimal(38,0)) * cast(q as decimal(38,0))"
        " - cast(s as decimal(38,0)) * cast(s as decimal(38,0))"
    )
    return (
        series.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("s", F.sum("c").over(w))
        .withColumn("q", F.sum(F.expr("c * c")).over(w))
        .withColumn(
            "is_burst",
            F.expr(
                f"c * n > s AND ({witness}) * ({witness}) > 4 * ({spread})"
            ),
        )
        .where("is_burst")
        .select("event_type", "h", "c")
        .orderBy("event_type", "h")
    )


def q_orders_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each customer's longest streak of CONSECUTIVE
    order days — the canonical arithmetic-grouping idiom (island id =
    day − row_number(), constant within a consecutive run) that solves
    attendance/retention streaks without self-joins.

    Distinct days first (one customer-grain shuffle), the island id is
    a window subtraction, and both the island and per-customer rollups
    shrink monotonically. Integer day arithmetic only.
    """
    ords = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.expr(
                "datediff(cast(o_orderdate as date), date'1970-01-01')"
            ).alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    islands = (
        ords.withColumn("island", F.expr("day") - F.row_number().over(w))
        .groupBy("o_custkey", "island")
        .agg(F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day"))
    )
    best = (
        islands.groupBy("o_custkey")
        .agg(
            F.max(
                F.struct(
                    F.col("len").alias("l"), (-F.col("start_day")).alias("ns")
                )
            ).alias("m"),
            F.count(F.lit(1)).alias("n_islands"),
        )
        .select(
            "o_custkey",
            F.col("m.l").alias("longest_streak"),
            (-F.col("m.ns")).alias("streak_start_day"),
            "n_islands",
        )
        .where("longest_streak >= 2")
        .orderBy("o_custkey")
    )
    return best


# --------------------------------------------------------------------------
# interval-overlap concurrency (boundary sweep)
# --------------------------------------------------------------------------

CONC_US_PER_VALUE = 60_000_000  # each unit of `value` = 60s of activity


def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-concurrent-intervals via the boundary-sweep idiom: each event
    opens an activity interval [ts, ts + value minutes]; per event type,
    how many intervals overlap at the busiest instant, and the
    time-weighted average load.

    The classic room-scheduling / concurrent-sessions primitive no
    join can express at scale: an interval self-join is O(n·overlap),
    the sweep is one union (+1 at start, -1 at end), ONE shuffle on the
    type-partitioned boundary sort, and a running sum. Ends sort before
    starts at the same instant (delta -1 < +1) so touching intervals
    never double-count. Peak + first peak time come from the map-side
    ``min(struct(-run, t))`` argmax idiom — no second pass. Within a
    tie group (same boundary, same delta) the prefix-sum VALUES are a
    permutation-invariant set, so peak and first-peak-time are
    deterministic even though intra-tie row order is not.

    NULL rule (r4 driver fix): a NULL ``value`` defines no interval —
    ``floor(NULL)`` would poison the end boundary and Spark's
    NULLS-FIRST window order diverges from DuckDB's NULLS-LAST, so
    NULL-value rows are dropped explicitly in BOTH engines.
    """
    # first_peak_us is an ABSOLUTE epoch output: use the NTZ-domain
    # timestampdiff epoch (session-TZ-free == DuckDB epoch_us) — the
    # unix_micros(cast(ts as timestamp)) idiom shifts under a non-UTC
    # driver session (r5 secondary failure mode).
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr(sp_epoch_us("ts")).alias("us"),
            F.expr(
                f"cast(floor(value * {CONC_US_PER_VALUE}) as bigint)"
            ).alias("dur_us"),
        )
    )
    # the start/end boundary union re-scanned events per side (3 scans
    # with loads). inline() emits BOTH boundaries of a row in the SAME
    # pass — an identical boundary multiset (the sweep window sorts it
    # anyway) — so the union costs one scan.
    bounds = ev.select(
        "event_type",
        F.expr(
            "inline(array("
            "named_struct('bus', us, 'delta', 1), "
            "named_struct('bus', us + dur_us, 'delta', -1)))"
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bus", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = bounds.withColumn("run", F.sum("delta").over(w))
    peaks = (
        run.groupBy("event_type")
        .agg(F.min(F.struct((-F.col("run")).alias("nr"), F.col("bus"))).alias("m"))
        .select(
            "event_type",
            (-F.col("m.nr")).alias("peak_concurrency"),
            F.col("m.bus").alias("first_peak_us"),
        )
    )
    # avg_concurrency = Σdur_us/span is a PURE integer rational —
    # integer-exact HALF_UP (repo round-boundary rule; the r5 driver
    # flipped this column).
    loads = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").alias("sum_dur_us"),
            (F.max(F.col("us") + F.col("dur_us")) - F.min("us")).alias("span_us"),
        )
        .select(
            "event_type",
            "n_intervals",
            F.expr(sp_rat6("sum_dur_us", "span_us")).alias("avg_concurrency"),
        )
    )
    return (
        peaks.join(loads, "event_type")
        .select(
            "event_type",
            "n_intervals",
            "peak_concurrency",
            "first_peak_us",
            "avg_concurrency",
        )
        .orderBy("event_type")
    )


def q_events_concurrency_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT event_type, epoch_us(ts::TIMESTAMP) AS us,
               cast(floor(value * {CONC_US_PER_VALUE}) AS BIGINT) AS dur_us
        FROM events WHERE value IS NOT NULL
    ), bounds AS (
        SELECT event_type, us AS bus, 1 AS delta FROM ev
        UNION ALL
        SELECT event_type, us + dur_us AS bus, -1 AS delta FROM ev
    ), r AS (
        SELECT event_type, bus,
               sum(delta) OVER (PARTITION BY event_type ORDER BY bus, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS run
        FROM bounds
    ), p AS (
        SELECT event_type,
               max(run)::BIGINT AS peak_concurrency,
               min(CASE WHEN run = mx THEN bus END) AS first_peak_us
        FROM (SELECT event_type, bus, run,
                     max(run) OVER (PARTITION BY event_type) AS mx
              FROM r)
        GROUP BY event_type
    ), l0 AS (
        SELECT event_type, count(*) AS n_intervals,
               sum(dur_us)::BIGINT AS sum_dur_us,
               (max(us + dur_us) - min(us))::BIGINT AS span_us
        FROM ev GROUP BY event_type
    ), l AS (
        SELECT event_type, n_intervals,
               {dk_rat6('sum_dur_us', 'span_us')} AS avg_concurrency
        FROM l0
    )
    SELECT p.event_type, n_intervals, peak_concurrency, first_peak_us,
           avg_concurrency
    FROM p JOIN l ON p.event_type = l.event_type
    ORDER BY p.event_type
    """


def q_events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-bisect diagnostic (driver r4/r5/r6 hash-flip triage,
    VERDICT r6 #3): ONLY the integer boundary-sweep peak column of
    q_events_concurrency, so a driver hash mismatch localizes to the
    sweep/argmax path rather than the epoch or load columns. Same plan,
    projected."""
    return q_events_concurrency(spark, sf_dir).select(
        "event_type", "peak_concurrency"
    )


def q_events_concurrency_peak_sql() -> str:
    return (
        "SELECT event_type, peak_concurrency FROM ("
        + q_events_concurrency_sql()
        + ") ORDER BY event_type"
    )


def q_events_concurrency_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-bisect diagnostic: ONLY the absolute-epoch first-peak
    column of q_events_concurrency — isolates the NTZ timestampdiff
    epoch derivation (functions/exact.py sp_epoch_us) and the
    read-path/TZ sensitivity hypothesis from VERDICT r6 #3."""
    return q_events_concurrency(spark, sf_dir).select(
        "event_type", "first_peak_us"
    )


def q_events_concurrency_epoch_sql() -> str:
    return (
        "SELECT event_type, first_peak_us FROM ("
        + q_events_concurrency_sql()
        + ") ORDER BY event_type"
    )


def q_events_concurrency_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-bisect diagnostic: ONLY the interval-count and
    exact-rational time-weighted load columns of q_events_concurrency
    (sp_rat6 integer-exact HALF_UP) — isolates the duration/rational
    path from the sweep and epoch columns."""
    return q_events_concurrency(spark, sf_dir).select(
        "event_type", "n_intervals", "avg_concurrency"
    )


def q_events_concurrency_load_sql() -> str:
    return (
        "SELECT event_type, n_intervals, avg_concurrency FROM ("
        + q_events_concurrency_sql()
        + ") ORDER BY event_type"
    )


def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-bisect diagnostic (VERDICT r6 #3): ONLY the integer counts
    and exact half-integer U statistic of stats_mann_whitney — if this
    is green while the full op flips, the divergence localizes to the
    z/effect-size float columns."""
    return stats_mann_whitney(spark, sf_dir).select("n_a", "n_b", "u_a")


def stats_mann_whitney_u_sql() -> str:
    return (
        "SELECT n_a, n_b, u_a FROM (" + stats_mann_whitney_sql() + ")"
    )


def stats_mann_whitney_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-bisect diagnostic: ONLY the raw (unrounded,
    IEEE-deterministic) normal-approximation z of stats_mann_whitney —
    the column VERDICT r6 blamed for the r6 flip when it was still
    wrapped in round(z, 6)."""
    return stats_mann_whitney(spark, sf_dir).select("z")


def stats_mann_whitney_z_sql() -> str:
    return "SELECT z FROM (" + stats_mann_whitney_sql() + ")"


def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: each purchase matched to the click closest in
    time on EITHER side (ties break backward) — the third as-of
    direction after backward (q_events_asof) and forward
    (q_events_asof_forward), and the matching rule feature-store
    point-in-time lookups use when staleness is symmetric.

    Both candidate sides come from ONE user_id window over the unioned
    stream (``last ignorenulls`` backward, ``first ignorenulls``
    forward), so the whole operator is a single shuffle — no range
    join, no candidate explosion. Distances compare in integer
    microseconds; the winner is picked with a null-safe CASE.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.expr(sp_epoch_us("ts"))
    )
    ord_cols = [F.col("us"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*ord_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward side as a reverse-order RUNNING frame (not CURRENT ROW ->
    # UNBOUNDED FOLLOWING, which Spark executes by recomputing the
    # aggregate per row — O(partition^2); the round-11 100x events
    # probe measured 93x on the naive frame). (us, event_id) DESC
    # exactly reverses the ASC order, so last(ignorenulls) over the
    # running frame is the same earliest at-or-after click, in O(n).
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("us"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    prev_us = F.last(click_us, ignorenulls=True).over(wb)
    nxt_us = F.last(click_us, ignorenulls=True).over(wf)
    take_prev = F.col("prev_us").isNotNull() & (
        F.col("nxt_us").isNull()
        | ((F.col("us") - F.col("prev_us")) <= (F.col("nxt_us") - F.col("us")))
    )
    return (
        ev.withColumn("prev_us", prev_us)
        .withColumn("nxt_us", nxt_us)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "us",
            F.when(take_prev, F.col("prev_us"))
            .otherwise(F.col("nxt_us"))
            .alias("nearest_click_us"),
            F.when(take_prev, F.lit("backward"))
            .when(F.col("nxt_us").isNotNull(), F.lit("forward"))
            .alias("direction"),
            F.when(take_prev, F.col("us") - F.col("prev_us"))
            .otherwise(F.col("nxt_us") - F.col("us"))
            .alias("dist_us"),
        )
        .orderBy("event_id")
    )


def q_events_asof_nearest_sql() -> str:
    return """
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(ts::TIMESTAMP) AS us
        FROM events
    ), marked AS (
        SELECT event_id, user_id, event_type, us,
               last_value(CASE WHEN event_type = 'click' THEN us END
                          IGNORE NULLS) OVER wb AS prev_us,
               first_value(CASE WHEN event_type = 'click' THEN us END
                           IGNORE NULLS) OVER wf AS nxt_us
        FROM ev
        WINDOW wb AS (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, us,
           CASE WHEN prev_us IS NOT NULL AND
                     (nxt_us IS NULL OR us - prev_us <= nxt_us - us)
                THEN prev_us ELSE nxt_us END AS nearest_click_us,
           CASE WHEN prev_us IS NOT NULL AND
                     (nxt_us IS NULL OR us - prev_us <= nxt_us - us)
                THEN 'backward'
                WHEN nxt_us IS NOT NULL THEN 'forward' END AS direction,
           CASE WHEN prev_us IS NOT NULL AND
                     (nxt_us IS NULL OR us - prev_us <= nxt_us - us)
                THEN us - prev_us ELSE nxt_us - us END AS dist_us
    FROM marked
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """


# --------------------------------------------------------------------------
# categorical independence + resampling error bars
# --------------------------------------------------------------------------


def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the documents lang x
    source contingency table — "is the language mix uniform across
    sources?", the categorical drift check next to the numeric ones
    (stats_ks_drift / stats_psi_drift).

    One corpus-wide shuffle builds the (lang, source) cell counts; the
    margins and grand total are re-aggregations OF THE CELLS (bounded:
    |langs| x |sources| rows), broadcast back onto the dense
    cross-product so ZERO cells contribute their full (0-e)^2/e term —
    dropping empty cells is the classic chi-square bug. Output is one
    row per language with its chi2 contribution and degrees of freedom,
    so the hash certifies every margin as well as the statistic.
    """
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        # cells feeds the margins, the grand total AND the term pass —
        # unpinned, the documents scan re-ran per copy. |langs| x
        # |sources| grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    rowt = cells.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    colt = cells.groupBy("source").agg(F.sum("o").alias("col_tot"))
    tot = cells.agg(F.sum("o").alias("n_total"))
    dense = (
        rowt.crossJoin(F.broadcast(colt))
        .join(F.broadcast(cells), ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
        .withColumn(
            "e",
            F.col("row_tot").cast("double")
            * F.col("col_tot").cast("double")
            / F.col("n_total").cast("double"),
        )
    )
    n_src = colt.agg(F.count(F.lit(1)).alias("n_sources"))
    return (
        dense.groupBy("lang")
        .agg(
            F.max("row_tot").alias("n_docs"),
            F.round(
                F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
                6,
            ).alias("chi2_contrib"),
        )
        .crossJoin(F.broadcast(n_src))
        .select(
            "lang",
            "n_docs",
            "chi2_contrib",
            (F.col("n_sources") - 1).cast("bigint").alias("dof_per_lang"),
        )
        .orderBy("lang")
    )


def stats_chi_square_sql() -> str:
    return """
    WITH cells AS (
        SELECT lang, source, count(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2
    ), rowt AS (
        SELECT lang, sum(o)::BIGINT AS row_tot FROM cells GROUP BY 1
    ), colt AS (
        SELECT source, sum(o)::BIGINT AS col_tot FROM cells GROUP BY 1
    ), tot AS (
        SELECT sum(o)::BIGINT AS n_total FROM cells
    ), dense AS (
        SELECT r.lang, c.source, r.row_tot, c.col_tot, n_total,
               coalesce(x.o, 0) AS o,
               r.row_tot::DOUBLE * c.col_tot::DOUBLE / n_total::DOUBLE AS e
        FROM rowt r CROSS JOIN colt c
        LEFT JOIN cells x ON x.lang = r.lang AND x.source = c.source
        CROSS JOIN tot
    )
    SELECT lang,
           max(row_tot)::BIGINT AS n_docs,
           round(sum((o - e) * (o - e) / e), 6) AS chi2_contrib,
           ((SELECT count(*) FROM colt) - 1)::BIGINT AS dof_per_lang
    FROM dense GROUP BY lang ORDER BY lang
    """


JACK_K = 20  # leave-one-out buckets (event_id % JACK_K)


def stats_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife confidence interval for the mean
    event value per type — distribution-free error bars computed in two
    bounded aggregations, the way a 100 TB pipeline puts uncertainty on
    its metrics without resampling the data K times.

    Pass 1 (the only corpus-wide shuffle) reduces to (type, bucket)
    partial sums with bucket = event_id % K — deterministic in both
    engines, unlike engine hash functions. Pass 2 runs entirely on the
    K-row-per-type table: leave-one-bucket-out means, jackknife
    variance (K-1)/K * sum((loo - mean_loo)^2) via the sum/sum-of-
    squares identity, and a 1.96-sigma interval.
    """
    b = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", (F.col("event_id") % JACK_K).alias("bucket"))
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    t = b.groupBy("event_type").agg(
        F.sum("s").alias("tot_s"), F.sum("n").alias("tot_n"), F.count(F.lit(1)).alias("k")
    )
    # the leave-one-out mean is undefined when the removed bucket IS the
    # whole sample (k = 1 ⇒ tot_n = n): NULL loo (cascading to NULL
    # se/ci), not an ANSI crash (round-10 single-row probe)
    loo = (
        b.join(F.broadcast(t), "event_type")
        .withColumn(
            "loo",
            F.when(
                F.col("tot_n") > F.col("n"),
                (F.col("tot_s") - F.col("s"))
                / (F.col("tot_n") - F.col("n")).cast("double"),
            ),
        )
    )
    out = (
        loo.groupBy("event_type")
        .agg(
            F.max("k").alias("k"),
            F.max(F.col("tot_s") / F.col("tot_n").cast("double")).alias("mean_value"),
            F.sum("loo").alias("sl"),
            F.sum(F.col("loo") * F.col("loo")).alias("sl2"),
        )
        .withColumn(
            # greatest(.., 0): at an all-ties corpus (round-11 axis) the
            # sum-of-squares identity leaves a ~1e-19 float residue of
            # EITHER sign; a negative residue is sqrt-NaN on Spark and a
            # hard OutOfRange error on DuckDB. Clamped-to-zero it rounds
            # to 0.000000 at 6 dp on both engines (residue scale is six
            # orders below the rounding grain). Mirrored in the oracle.
            "var_jack",
            F.greatest(
                (F.col("k") - 1).cast("double")
                / F.col("k").cast("double")
                * (
                    F.col("sl2")
                    - F.col("sl") * F.col("sl") / F.col("k").cast("double")
                ),
                F.lit(0.0),
            ),
        )
        .select(
            "event_type",
            F.col("k").cast("bigint").alias("k"),
            F.round("mean_value", 6).alias("mean_value"),
            F.round(F.sqrt("var_jack"), 6).alias("se_jack"),
            F.round(
                F.col("mean_value") - 1.96 * F.sqrt("var_jack"), 6
            ).alias("ci_lo"),
            F.round(
                F.col("mean_value") + 1.96 * F.sqrt("var_jack"), 6
            ).alias("ci_hi"),
        )
        .orderBy("event_type")
    )
    return out


def stats_jackknife_ci_sql() -> str:
    return f"""
    WITH b AS (
        SELECT event_type, event_id % {JACK_K} AS bucket,
               sum(value) AS s, count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2
    ), t AS (
        SELECT event_type, sum(s) AS S, sum(n)::BIGINT AS N,
               count(*)::BIGINT AS k
        FROM b GROUP BY 1
    ), loo AS (
        SELECT b.event_type, t.k, t.S, t.N,
               CASE WHEN t.N > b.n THEN
                   (t.S - b.s) / (t.N - b.n)::DOUBLE END AS loo
        FROM b JOIN t ON b.event_type = t.event_type
    ), agg AS (
        SELECT event_type, max(k)::BIGINT AS k,
               max(S / N::DOUBLE) AS mean_value,
               sum(loo) AS sl, sum(loo * loo) AS sl2
        FROM loo GROUP BY 1
    )
    SELECT event_type, k,
           round(mean_value, 6) AS mean_value,
           round(sqrt(greatest((k - 1)::DOUBLE / k::DOUBLE
                      * (sl2 - sl * sl / k::DOUBLE), 0.0)), 6) AS se_jack,
           round(mean_value - 1.96 * sqrt(greatest((k - 1)::DOUBLE / k::DOUBLE
                      * (sl2 - sl * sl / k::DOUBLE), 0.0)), 6) AS ci_lo,
           round(mean_value + 1.96 * sqrt(greatest((k - 1)::DOUBLE / k::DOUBLE
                      * (sl2 - sl * sl / k::DOUBLE), 0.0)), 6) AS ci_hi
    FROM agg ORDER BY event_type
    """


def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats, reported as
    per-language contributions — the information-theoretic companion to
    `stats_chi_square` on the same contingency table (MI is what a
    feature-selection / leakage audit actually thresholds on).

    Identical scale shape: ONE corpus shuffle to (lang, source) cells,
    margins re-aggregated from the bounded cell table and broadcast
    back. Zero cells contribute 0 to MI by the p·ln p convention, so
    the observed cells alone are sufficient — no dense cross-product
    needed, unlike chi-square.
    """
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        # cells feeds the margins, the grand total AND the term pass —
        # unpinned, the documents scan re-ran per copy. |langs| x
        # |sources| grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    rowt = cells.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    colt = cells.groupBy("source").agg(F.sum("o").alias("col_tot"))
    tot = cells.agg(F.sum("o").alias("n_total"))
    term = (
        F.col("o").cast("double")
        / F.col("n_total").cast("double")
        * F.log(
            F.col("o").cast("double") * F.col("n_total").cast("double")
            / (F.col("row_tot").cast("double") * F.col("col_tot").cast("double"))
        )
    )
    return (
        cells.join(F.broadcast(rowt), "lang")
        .join(F.broadcast(colt), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("lang")
        .agg(
            F.max("row_tot").alias("n_docs"),
            F.round(F.sum(term), 6).alias("mi_contrib_nats"),
        )
        .orderBy("lang")
    )


def stats_mutual_information_sql() -> str:
    return """
    WITH cells AS (
        SELECT lang, source, count(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2
    ), rowt AS (
        SELECT lang, sum(o)::BIGINT AS row_tot FROM cells GROUP BY 1
    ), colt AS (
        SELECT source, sum(o)::BIGINT AS col_tot FROM cells GROUP BY 1
    ), tot AS (
        SELECT sum(o)::BIGINT AS n_total FROM cells
    )
    SELECT c.lang,
           max(row_tot)::BIGINT AS n_docs,
           round(sum(o::DOUBLE / n_total::DOUBLE
                     * ln(o::DOUBLE * n_total::DOUBLE
                          / (row_tot::DOUBLE * col_tot::DOUBLE))), 6)
               AS mi_contrib_nats
    FROM cells c
    JOIN rowt r ON c.lang = r.lang
    JOIN colt s ON c.source = s.source
    CROSS JOIN tot
    GROUP BY c.lang ORDER BY c.lang
    """


DAY_US = 86_400_000_000


def stats_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event-count series per
    type: cumulative sum of deviations from the series mean, with the
    peak |CUSUM| and its day — where the drift monitors (KS/PSI) say
    "the halves differ", CUSUM says WHEN the level shifted.

    One fact-scale collapse to (type, day) counts; the per-type mean
    comes from a bounded re-aggregation broadcast back (never a
    driver-side collect); the running sum and the argmax both ride ONE
    type-partitioned window over the DAYS-bounded series. The running
    sum is evaluated in deterministic day order, so the float
    trajectory is bit-identical cross-engine.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.expr(sp_epoch_us("ts")) / F.lit(DAY_US))
            .cast("bigint")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    means = daily.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_cnt"
        ),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(F.broadcast(means), "event_type")
        .withColumn(
            "cusum", F.sum(F.col("cnt").cast("double") - F.col("mean_cnt")).over(w)
        )
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.round(F.max("mean_cnt"), 6).alias("mean_daily"),
            F.min(
                F.struct((-F.abs(F.col("cusum"))).alias("na"), F.col("day"))
            ).alias("m"),
        )
        .select(
            "event_type",
            "n_days",
            "mean_daily",
            F.round(-F.col("m.na"), 6).alias("peak_abs_cusum"),
            F.col("m.day").alias("changepoint_day"),
        )
        .orderBy("event_type")
    )


def stats_cusum_changepoint_sql() -> str:
    return f"""
    WITH daily AS (
        SELECT event_type,
               (epoch_us(ts::TIMESTAMP) // {DAY_US})::BIGINT AS day,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ), means AS (
        SELECT event_type,
               sum(cnt)::DOUBLE / count(*)::DOUBLE AS mean_cnt,
               count(*)::BIGINT AS n_days
        FROM daily GROUP BY 1
    ), c AS (
        SELECT d.event_type, d.day, m.mean_cnt, m.n_days,
               sum(d.cnt::DOUBLE - m.mean_cnt)
                   OVER (PARTITION BY d.event_type ORDER BY d.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cusum
        FROM daily d JOIN means m ON d.event_type = m.event_type
    ), p AS (
        SELECT event_type, day, n_days, mean_cnt, cusum,
               max(abs(cusum)) OVER (PARTITION BY event_type) AS mx
        FROM c
    )
    SELECT event_type,
           max(n_days)::BIGINT AS n_days,
           round(max(mean_cnt), 6) AS mean_daily,
           round(max(abs(cusum)), 6) AS peak_abs_cusum,
           min(CASE WHEN abs(cusum) = mx THEN day END)::BIGINT
               AS changepoint_day
    FROM p GROUP BY event_type ORDER BY event_type
    """


KM_CENSOR_DAYS = 3  # last event within N days of corpus end => censored


def stats_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (days between a
    user's first and last event), right-censoring users whose last
    event falls in the final KM_CENSOR_DAYS of the corpus — the churn /
    retention estimator done the estimator's way rather than the
    retention-matrix way (q_events_cohort_retention).

    One user-grain shuffle builds (lifetime, censored); the corpus end
    comes from a 1-row broadcast aggregate. The lifetime table
    collapses to at most ~31 distinct days, so the at-risk running
    count and the KM product — exp of the running sum of
    ln(1 - d/n) — ride bounded unpartitioned windows (the documented
    bounded-window family), never a corpus-scale one.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(sp_epoch_us("ts")).alias("us")
    )
    # users feeds the lifetime table and (via the max-of-last
    # identity) the corpus end — unpinned, the events scan ran per
    # copy. Pin the user-grain table and derive the corpus end FROM it
    # (max(last_us) == max(us): every event belongs to some user_id
    # group, the NULL group included): events is scanned ONCE.
    users = ev.groupBy("user_id").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us")
    ).transform(pin)
    end = users.agg(F.max("last_us").alias("end_us"))
    lives = (
        users.crossJoin(F.broadcast(end))
        .select(
            ((F.col("last_us") - F.col("first_us")) / F.lit(DAY_US))
            .cast("bigint")
            .alias("t_days"),
            F.when(
                F.col("last_us") >= F.col("end_us") - KM_CENSOR_DAYS * DAY_US, 1
            )
            .otherwise(0)
            .alias("censored"),
        )
    )
    per_t = lives.groupBy("t_days").agg(
        F.sum(1 - F.col("censored")).alias("d_events"),
        F.sum("censored").alias("c_censored"),
    # per_t feeds the total AND the KM pass; ~31-day grain -- pin
    ).transform(pin)
    run = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # at risk just BEFORE t: total minus everyone who exited earlier
    tot = per_t.agg(
        F.sum(F.col("d_events") + F.col("c_censored")).alias("n_total")
    )
    km = (
        per_t.crossJoin(F.broadcast(tot))
        .withColumn(
            "exited_before",
            F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(
                    Window.orderBy("t_days").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("n_risk", F.col("n_total") - F.col("exited_before"))
        .withColumn(
            "ln_term",
            F.when(
                (F.col("d_events") > 0)
                & (F.col("d_events") < F.col("n_risk")),
                F.log(
                    1.0
                    - F.col("d_events").cast("double")
                    / F.col("n_risk").cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        )
        # d_events == n_risk sends the curve to EXACTLY 0 — ln(1-d/n)
        # would be ln(0) (a DuckDB OutOfRange abort on reachable data:
        # an uncensored unique max lifetime); carry a running hit-zero
        # flag and pin the product to 0 from that row on instead
        .withColumn(
            "hit_zero",
            F.max(
                F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
            ).over(run),
        )
        .withColumn(
            "km_survival",
            F.when(F.col("hit_zero") == 1, F.lit(0.0)).otherwise(
                F.exp(F.sum("ln_term").over(run))
            ),
        )
    )
    return km.select(
        "t_days",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_events").cast("bigint").alias("d_events"),
        F.col("c_censored").cast("bigint").alias("c_censored"),
        F.round("km_survival", 6).alias("km_survival"),
    ).orderBy("t_days")


def stats_survival_km_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events
    ), users AS (
        SELECT user_id, min(us) AS first_us, max(us) AS last_us
        FROM ev GROUP BY 1
    ), endt AS (
        SELECT max(us) AS end_us FROM ev
    ), lives AS (
        SELECT ((last_us - first_us) // {DAY_US})::BIGINT AS t_days,
               CASE WHEN last_us >= end_us - {KM_CENSOR_DAYS} * {DAY_US}
                    THEN 1 ELSE 0 END AS censored
        FROM users CROSS JOIN endt
    ), per_t AS (
        SELECT t_days,
               sum(1 - censored)::BIGINT AS d_events,
               sum(censored)::BIGINT AS c_censored
        FROM lives GROUP BY 1
    ), tot AS (
        SELECT sum(d_events + c_censored)::BIGINT AS n_total FROM per_t
    ), km AS (
        SELECT t_days, d_events, c_censored,
               n_total - coalesce(sum(d_events + c_censored)
                   OVER (ORDER BY t_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
        FROM per_t CROSS JOIN tot
    )
    SELECT t_days, n_risk::BIGINT AS n_risk, d_events, c_censored,
           round(CASE WHEN max(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END)
                          OVER w = 1
                      THEN 0.0
                      ELSE exp(sum(CASE WHEN d_events > 0
                                         AND d_events < n_risk
                                        THEN ln(1.0 - d_events::DOUBLE
                                                / n_risk::DOUBLE)
                                        ELSE 0.0 END) OVER w) END,
                 6) AS km_survival
    FROM km
    WINDOW w AS (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY t_days
    """


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (the TWAP/metering
    aggregate): each reading is weighted by how long it was current —
    the duration until the type's next event — so sparse bursts don't
    drown the steady state the way the row-weighted mean does. The
    final (open-ended) reading per type carries no weight.

    ONE type-partitioned window provides the lead() horizon; the
    weighted and simple means come out of the same bounded aggregation.
    Durations are integer microseconds.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.expr(sp_epoch_us("ts")).alias("us"),
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    dt = (F.lead("us").over(w) - F.col("us")).alias("dt_us")
    return (
        ev.withColumn("dt_us", dt)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value") * F.col("dt_us").cast("double"))
                / F.sum(F.col("dt_us")).cast("double"),
                6,
            ).alias("twap"),
            F.round(F.avg("value"), 6).alias("simple_avg"),
        )
        .orderBy("event_type")
    )


def q_events_twap_sql() -> str:
    return """
    WITH ev AS (
        SELECT event_type, event_id, value, epoch_us(ts::TIMESTAMP) AS us
        FROM events
    ), d AS (
        SELECT event_type, value,
               lead(us) OVER (PARTITION BY event_type
                              ORDER BY us, event_id) - us AS dt_us
        FROM ev
    )
    SELECT event_type, count(*)::BIGINT AS n_events,
           round(sum(value * dt_us::DOUBLE) / sum(dt_us)::DOUBLE, 6) AS twap,
           round(avg(value), 6) AS simple_avg
    FROM d GROUP BY event_type ORDER BY event_type
    """


def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type on the daily count series:
    the median of all pairwise slopes — the estimator monitoring stacks
    use when a two-day outage would wreck a least-squares slope
    (companion to stats_length_regression's OLS and
    stats_cusum_changepoint's level-shift view).

    The corpus collapses to (type, day) counts first, so the pairwise
    self-join runs on a DAYS-bounded table (~C(31,2) rows per type —
    bounded by construction, the documented deliberate-pair family);
    medians interpolate identically cross-engine (quantile_cont).
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.expr(sp_epoch_us("ts")) / F.lit(DAY_US))
            .cast("bigint")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # daily fans out to both pair sides AND the median-level agg
        # — 3 events scans unpinned. (type x day) is bounded, so pin;
        # the fact is scanned once.
        .transform(pin)
    )
    a = daily.select(
        "event_type", F.col("day").alias("d1"), F.col("cnt").alias("c1")
    )
    b = daily.select(
        "event_type", F.col("day").alias("d2"), F.col("cnt").alias("c2")
    )
    pairs = a.join(b, "event_type").where(F.col("d1") < F.col("d2"))
    slopes = pairs.select(
        "event_type",
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("d2") - F.col("d1")).cast("double")
        ).alias("slope"),
    )
    med_slope = slopes.groupBy("event_type").agg(
        F.expr("percentile(slope, 0.5)").alias("slope_per_day"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    med_level = daily.groupBy("event_type").agg(
        F.expr("percentile(cast(cnt as double), 0.5)").alias("median_daily"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return (
        med_slope.join(med_level, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.round("slope_per_day", 6).alias("slope_per_day"),
            F.round("median_daily", 6).alias("median_daily"),
        )
        .orderBy("event_type")
    )


def stats_theil_sen_sql() -> str:
    return f"""
    WITH daily AS (
        SELECT event_type,
               (epoch_us(ts::TIMESTAMP) // {DAY_US})::BIGINT AS day,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type,
               (b.cnt - a.cnt)::DOUBLE / (b.day - a.day)::DOUBLE AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    ), ms AS (
        SELECT event_type, quantile_cont(slope, 0.5) AS slope_per_day,
               count(*)::BIGINT AS n_pairs
        FROM pairs GROUP BY 1
    ), ml AS (
        SELECT event_type, quantile_cont(cnt::DOUBLE, 0.5) AS median_daily,
               count(*)::BIGINT AS n_days
        FROM daily GROUP BY 1
    )
    SELECT ms.event_type, n_days, n_pairs,
           round(slope_per_day, 6) AS slope_per_day,
           round(median_daily, 6) AS median_daily
    FROM ms JOIN ml ON ms.event_type = ml.event_type
    ORDER BY ms.event_type
    """


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion rung (`from_xml`, Spark 4's built-in XML parser —
    the third semi-structured decoder beside JSON (q_events_json) and
    VARIANT (q_variant_json)): serialize each event to an XML fragment
    in-plan, parse it back with a typed schema, and emit the extracted
    fields — a value-exact round-trip proof that the XML path loses
    nothing.

    Everything is map-side JVM expressions (concat -> from_xml ->
    struct field reads); the monetary field travels as integer cents so
    the round-trip is float-format-free. The DuckDB oracle recomputes
    the fields directly — matching hashes prove the XML leg is the
    identity.
    """
    ev = load_table(spark, sf_dir, "events")
    # nullable fields serialize as ABSENT elements (from_xml then yields
    # NULL): plain concat is NULL-propagating and would erase the whole
    # row — including its id — the moment one field is NULL
    def _opt(tag: str, col):
        return F.coalesce(
            F.concat(F.lit(f"<{tag}>"), col, F.lit(f"</{tag}>")), F.lit("")
        )

    xml = F.concat(
        F.lit("<e><id>"), F.col("event_id").cast("string"),
        F.lit("</id><u>"), F.col("user_id").cast("string"),
        F.lit("</u>"),
        _opt("t", F.col("event_type")),
        _opt("v", F.expr("cast(floor(value * 100 + 0.5) as bigint)").cast("string")),
        F.lit("</e>"),
    )
    parsed = ev.select(
        F.from_xml(xml, "id BIGINT, u BIGINT, t STRING, v BIGINT").alias("x")
    )
    return parsed.select(
        F.col("x.id").alias("event_id"),
        F.col("x.u").alias("user_id"),
        F.col("x.t").alias("event_type"),
        F.col("x.v").alias("value_cents"),
    ).orderBy("event_id")


def q_xml_roundtrip_sql() -> str:
    return """
    SELECT event_id, user_id, event_type,
           cast(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
    FROM events ORDER BY event_id
    """


def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN...END procedural blocks): DECLARE a
    session variable, bind it from a data-derived scalar (the p90 price
    cut), and run the parameterized aggregate — the multi-statement
    ETL-step surface migrations from stored-procedure warehouses need,
    certified end-to-end (declaration, assignment-from-query, variable
    reference in a WHERE).

    The variable binding executes one scalar aggregate (equivalent to
    the scalar subquery the oracle uses); the main statement is a
    routine pushdown-friendly aggregation.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_scr_orders")
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 0.0;
          SET thr = (SELECT percentile(o_totalprice, 0.9) FROM v_scr_orders);
          SELECT o_orderpriority,
                 count(*) AS n_orders,
                 sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) AS cents
          FROM v_scr_orders
          WHERE o_totalprice >= thr
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority;
        END
        """
    )


def q_sql_scripting_sql() -> str:
    return """
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
           sum(floor(o_totalprice * 100 + 0.5))::BIGINT AS cents
    FROM orders
    WHERE o_totalprice >= (SELECT quantile_cont(o_totalprice, 0.9)
                           FROM orders)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (CREATE FUNCTION ... RETURN expr, Spark 4):
    the money-to-integer-cents rule and a discount-band classifier
    defined ONCE as catalog functions and reused across statements —
    unlike Python UDFs these inline into the plan (full codegen +
    pushdown; zero serialization), which makes them the first resort
    for shared business logic at 100 TB.

    The oracle inlines the same expressions, proving the function
    indirection is semantically free.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION nav_cents(p DOUBLE) "
        "RETURNS BIGINT RETURN cast(floor(p * 100 + 0.5) as bigint)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION nav_disc_band(d DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN d < 0.03 THEN 'low' "
        "WHEN d < 0.07 THEN 'mid' ELSE 'high' END"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_udf_li")
    return spark.sql(
        """
        SELECT nav_disc_band(l_discount) AS band,
               count(*) AS n_lines,
               sum(nav_cents(l_extendedprice)) AS price_cents,
               sum(nav_cents(l_extendedprice * (1 - l_discount)))
                   AS discounted_cents
        FROM v_udf_li
        GROUP BY band ORDER BY band
        """
    )


def q_sql_udf_sql() -> str:
    return """
    SELECT CASE WHEN l_discount < 0.03 THEN 'low'
                WHEN l_discount < 0.07 THEN 'mid' ELSE 'high' END AS band,
           count(*)::BIGINT AS n_lines,
           sum(floor(l_extendedprice * 100 + 0.5))::BIGINT AS price_cents,
           sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5))::BIGINT
               AS discounted_cents
    FROM lineitem GROUP BY band ORDER BY band
    """


EWMA_ALPHA = 0.3  # smoothing weight; q = 1 - alpha


def stats_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the daily count series
    per event type — the smoother behind every anomaly-detection
    baseline (alert when count >> ewma). The recurrence
    y_t = a*x_t + (1-a)*y_{t-1} is not a window function, but over a
    dense day index it factors into one running sum:
    y_t = a * q^t * sum_{i<=t}(x_i * q^-i), q = 1-a — so the whole
    series costs ONE bounded type-partitioned window after the daily
    collapse, no recursion, no UDF.

    q^-i grows only to q^-31 over a month of days (no overflow); both
    engines evaluate the same pow()/sum chain in day order, and the
    final round(.,6) absorbs last-ulp libm differences.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.expr(sp_epoch_us("ts")) / F.lit(DAY_US))
            .cast("bigint")
            .alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = 1.0 - EWMA_ALPHA
    t = (F.row_number().over(w) - 1).alias("t")
    daily = daily.withColumn("t", t)
    term = F.col("cnt").cast("double") * F.pow(F.lit(q), -F.col("t"))
    ewma = (
        F.lit(EWMA_ALPHA)
        * F.pow(F.lit(q), F.col("t"))
        * F.sum(term).over(run)
    )
    # normalize by the missing-history mass so y_0 = x_0 (adjusted EWMA)
    norm = 1.0 - F.pow(F.lit(q), F.col("t") + 1)
    return (
        daily.withColumn("ewma", ewma / norm)
        .select(
            "event_type",
            "day",
            "cnt",
            F.round("ewma", 6).alias("ewma"),
            # flag on the ROUNDED baseline: pow()/sum ulps must not be
            # able to flip the boolean across engines
            (
                F.col("cnt").cast("double") > F.round("ewma", 6) * 1.5
            ).alias("is_spike"),
        )
        .orderBy("event_type", "day")
    )


def stats_ewma_sql() -> str:
    a, q = EWMA_ALPHA, 1.0 - EWMA_ALPHA
    return f"""
    WITH daily AS (
        SELECT event_type,
               (epoch_us(ts::TIMESTAMP) // {DAY_US})::BIGINT AS day,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ), idx AS (
        SELECT event_type, day, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
                   AS t
        FROM daily
    ), s AS (
        SELECT event_type, day, cnt, t,
               {a} * pow({q}, t)
                   * sum(cnt::DOUBLE * pow({q}, -t))
                     OVER (PARTITION BY event_type ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / (1.0 - pow({q}, t + 1)) AS ewma
        FROM idx
    )
    SELECT event_type, day, cnt, round(ewma, 6) AS ewma,
           (cnt::DOUBLE > round(ewma, 6) * 1.5) AS is_spike
    FROM s ORDER BY event_type, day
    """


PATH_TOP_N = 10
PATH_MAX_LEN = 8  # truncate long sessions: paths beyond this are "..."


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: the ordered event-type sequence of each
    user session (30-minute gap sessionization), truncated to the first
    PATH_MAX_LEN steps, counted corpus-wide — the product-analytics
    "what do users actually do" table (Sankey input).

    One user window carries the gap-sessionization running sum; the
    path string is built by an ORDERED collect inside the (user,
    session) aggregation — deterministic because (ts, event_id) is a
    total order — and the final count + top-N is a two-level aggregate
    on the bounded path-string key space with a full-ordered rank on
    the COUNTED table (paths, not events).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(sp_epoch_us("ts")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.withColumn("sess_id", F.sum(new_sess).over(run))
    paths = (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("us", "event_id", "event_type"))
            ).alias("steps")
        )
        .select(
            # NULL steps render as an explicit '(null)' token: array_join
            # SKIPS null elements (silently shortening the path) while
            # SQL string-joins propagate NULL — both wrong for a Sankey
            F.when(
                F.size("steps") > PATH_MAX_LEN,
                F.concat(
                    F.array_join(
                        F.expr(
                            f"transform(slice(steps, 1, {PATH_MAX_LEN}),"
                            " s -> coalesce(s.event_type, '(null)'))"
                        ),
                        ">",
                    ),
                    F.lit(">..."),
                ),
            )
            .otherwise(
                F.array_join(
                    F.expr(
                        "transform(steps, s -> coalesce(s.event_type, '(null)'))"
                    ),
                    ">",
                )
            )
            .alias("path"),
            F.size("steps").alias("n_steps"),
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg(F.col("n_steps").cast("double")), 6).alias(
            "avg_steps"
        ),
    )
    # top-N via sort+limit (TakeOrdered — distributed heap per
    # partition, N rows to the driver), NOT a global rank window: the
    # distinct-path key space is combinatorial at scale and a
    # no-partition window would single-task it. rank is assigned on
    # the N-row result (bounded window).
    top = counted.orderBy(
        F.desc("n_sessions"), F.asc("path")
    ).limit(PATH_TOP_N)
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        top.withColumn("rank", F.row_number().over(wr))
        .select("rank", "path", "n_sessions", "avg_steps")
        .orderBy("rank")
    )


def q_events_top_paths_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, event_type, event_id,
               epoch_us(ts::TIMESTAMP) AS us
        FROM events
    ), g AS (
        SELECT user_id, event_type, event_id, us,
               CASE WHEN us - lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), s AS (
        SELECT user_id, event_type, us, event_id,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sess_id
        FROM g
    ), p AS (
        SELECT user_id, sess_id,
               list_transform(
                   list_sort(list(struct_pack(us := us, eid := event_id,
                                              et := event_type))),
                   x -> coalesce(x.et, '(null)')) AS types
        FROM s GROUP BY user_id, sess_id
    ), ps AS (
        SELECT CASE WHEN len(types) > {PATH_MAX_LEN}
                    THEN array_to_string(types[1:{PATH_MAX_LEN}], '>')
                         || '>...'
                    ELSE array_to_string(types, '>') END AS path,
               len(types) AS n_steps
        FROM p
    ), c AS (
        SELECT path, count(*)::BIGINT AS n_sessions,
               round(avg(n_steps::DOUBLE), 6) AS avg_steps
        FROM ps GROUP BY path
    ), r AS (
        SELECT path, n_sessions, avg_steps,
               row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
        FROM c
    )
    SELECT rank::INT AS rank, path, n_sessions, avg_steps
    FROM r WHERE rank <= {PATH_TOP_N} ORDER BY rank
    """


LIFT_MIN_PAIR_ORDERS = 3  # prune noise pairs before rule metrics


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over the co-purchase pairs: support,
    confidence (both directions) and lift — the numbers that turn
    q_basket_pairs' raw counts into "customers who bought X also
    buy Y" decisions (lift > 1 = genuinely associated, not just both
    popular).

    Same scale shape as the pair miner (ONE orderkey shuffle, in-array
    pair generation, BRANDS²-bounded rule table) plus a BRANDS-bounded
    per-item support aggregate broadcast onto the rules; the total
    order count arrives as a 1-row broadcast. Ratios are exact-integer
    divisions rounded at the edge.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # baskets feeds the order total, the item counts AND the pair
    # mining — unpinned, the lineitem scan + basket collapse ran 3x (4
    # fact scans). Order grain with a bounded brand array: pin it; the
    # fact is scanned ONCE.
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .transform(pin)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_total"))
    item = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) -> "
                    "transform(slice(brands, i + 2, size(brands)), "
                    "y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= LIFT_MIN_PAIR_ORDERS)
    )
    ia = item.select(F.col("brand").alias("brand_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("brand").alias("brand_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            # all four are PURE integer rationals — integer-exact
            # HALF_UP (repo round-boundary rule), widened products
            F.expr(sp_rat6("n_pair", "n_total")).alias("support"),
            F.expr(sp_rat6("n_pair", "n_a")).alias("conf_a_to_b"),
            F.expr(sp_rat6("n_pair", "n_b")).alias("conf_b_to_a"),
            F.expr(
                sp_rat6(
                    "cast(n_pair as decimal(38,0)) * n_total",
                    "cast(n_a as decimal(38,0)) * n_b",
                )
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


def q_basket_lift_sql() -> str:
    return f"""
    WITH baskets AS (
        SELECT l_orderkey, list_sort(list(DISTINCT p_brand)) AS brands
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_orderkey
    ), tot AS (
        SELECT count(*)::BIGINT AS n_total FROM baskets
    ), item2 AS (
        SELECT brand, count(*)::BIGINT AS n_item
        FROM (SELECT l_orderkey, unnest(brands) AS brand FROM baskets)
        GROUP BY brand
    ), pairs AS (
        SELECT p.brand_a, p.brand_b, count(*)::BIGINT AS n_pair
        FROM (
            SELECT unnest(flatten(list_transform(brands, (x, i) ->
                       list_transform(brands[i+1:], y ->
                           struct_pack(brand_a := x, brand_b := y)))))
                   AS p
            FROM baskets
        )
        GROUP BY 1, 2 HAVING count(*) >= {LIFT_MIN_PAIR_ORDERS}
    )
    SELECT brand_a, brand_b, n_pair,
           {dk_rat6('n_pair', 'n_total')} AS support,
           {dk_rat6('n_pair', 'a.n_item')} AS conf_a_to_b,
           {dk_rat6('n_pair', 'b.n_item')} AS conf_b_to_a,
           {dk_rat6('n_pair::HUGEINT * n_total',
                    'a.n_item::HUGEINT * b.n_item')} AS lift
    FROM pairs
    JOIN item2 a ON pairs.brand_a = a.brand
    JOIN item2 b ON pairs.brand_b = b.brand
    CROSS JOIN tot
    ORDER BY brand_a, brand_b
    """


def stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types: does mean event value differ
    between types more than within-type noise explains? F = (SSB/(k-1))
    / (SSW/(N-k)) — the k-group generalization of the two-group z-test
    (stats_ab_test), computed from ONE pass of per-group moment
    aggregates (n, Σx, Σx²); everything after is arithmetic on the
    k-row table with grand totals from a bounded re-aggregation.

    PRECONDITION (2dp lattice): the integer-cents moments below decide
    statistic DEFINEDNESS (zero-variance → NULL f_stat) exactly only
    because every money/value column in this corpus is quantized to
    hundredths (events.value to quarters) — asserted once per corpus in
    tests/test_lattice_precondition.py. Data off the 2-decimal lattice
    with sub-cent spread would be declared zero-variance despite real
    variation; the same precondition underpins stats_fdr_bh,
    stats_tost_equivalence and stats_two_way_anova.
    """
    cents = "cast(round(value * 100) as bigint)"
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sx"),
            F.sum(F.col("value") * F.col("value")).alias("sxx"),
            F.sum(F.expr(cents)).alias("sxc"),
            F.sum(F.expr(f"cast({cents} as decimal(38,0)) * {cents}")).alias(
                "sxxc"
            ),
        )
    )
    tot = g.agg(
        F.sum("n").alias("tot_n"),
        F.sum("sx").alias("tot_sx"),
        F.sum("sxx").alias("tot_sxx"),
        F.count(F.lit(1)).alias("k"),
    )
    j = g.crossJoin(F.broadcast(tot))
    ssb = F.sum(
        F.col("sx") * F.col("sx") / F.col("n").cast("double")
    ) - F.max(F.col("tot_sx") * F.col("tot_sx") / F.col("tot_n").cast("double"))
    ssw = F.max("tot_sxx") - F.sum(
        F.col("sx") * F.col("sx") / F.col("n").cast("double")
    )
    # EXACT within-variation discriminant on the integer-cents lattice
    # (round-11 all-ties axis): the float ssw residue at all-ties has an
    # engine-dependent sign, so "ssw > 0" could define f_stat on one
    # engine and not the other; sum_g(n_g*sxxc_g - sxc_g^2) is zero iff
    # every group's values tie, identically on both engines. The
    # rounded SS columns carry "+ 0.0" because DuckDB's round() keeps
    # the residue's negative sign (-0.000000) while Spark's drops it.
    vw = F.sum(
        F.expr(
            "cast(n as decimal(38,0)) * sxxc - cast(sxc as decimal(38,0)) * sxc"
        )
    )
    out = j.agg(
        F.max("k").alias("k"),
        F.max("tot_n").alias("n_rows"),
        ssb.alias("_ssb"),
        ssw.alias("_ssw"),
        vw.alias("_vw"),
    ).select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        (F.round("_ssb", 6) + F.lit(0.0)).alias("ss_between"),
        (F.round("_ssw", 6) + F.lit(0.0)).alias("ss_within"),
        # F is undefined with one group, no within-group df, or zero
        # within-group variation (round-9 degenerate-input probe):
        # NULL, not an ANSI crash; identical guard both engines
        F.when(
            (F.col("k") >= 2)
            & (F.col("n_rows") > F.col("k"))
            & (F.col("_vw") > 0),
            F.round(
                (F.col("_ssb") / (F.col("k") - 1).cast("double"))
                / (F.col("_ssw") / (F.col("n_rows") - F.col("k")).cast("double")),
                6,
            ),
        ).alias("f_stat"),
    )
    return out


def stats_anova_sql() -> str:
    return """
    WITH g AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(value) AS sx,
               sum(value * value) AS sxx,
               sum(round(value * 100)::BIGINT)::BIGINT AS sxc,
               sum(round(value * 100)::HUGEINT
                   * round(value * 100)::BIGINT) AS sxxc
        FROM events GROUP BY 1
    ), t AS (
        SELECT sum(n)::BIGINT AS tot_n, sum(sx) AS tot_sx,
               sum(sxx) AS tot_sxx, count(*)::BIGINT AS k
        FROM g
    ), a AS (
        SELECT max(k) AS k, max(tot_n) AS n_rows,
               sum(sx * sx / n::DOUBLE)
                   - max(tot_sx * tot_sx / tot_n::DOUBLE) AS ssb,
               max(tot_sxx) - sum(sx * sx / n::DOUBLE) AS ssw,
               sum(n::HUGEINT * sxxc - sxc::HUGEINT * sxc) AS vw
        FROM g CROSS JOIN t
    )
    SELECT k::BIGINT AS k_groups, n_rows::BIGINT AS n_rows,
           round(ssb, 6) + 0.0 AS ss_between,
           round(ssw, 6) + 0.0 AS ss_within,
           CASE WHEN k >= 2 AND n_rows > k AND vw > 0 THEN
               round((ssb / (k - 1)::DOUBLE)
                     / (ssw / (n_rows - k)::DOUBLE), 6)
           END AS f_stat
    FROM a
    """


# --------------------------------------------------------------------------
# round-4 batch: nonparametric / multiple-testing statistics
# --------------------------------------------------------------------------

# Abramowitz & Stegun 26.2.17 upper-tail normal probability, spelled once
# and substituted verbatim into BOTH engines' expressions so the IEEE
# arithmetic is structurally identical (the driver hash-compares values).
# {z} must be a non-negative expression.
def _normal_upper_tail(z: str) -> str:
    t = f"(1.0 / (1.0 + 0.2316419 * {z}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937 "
        f"+ {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return f"(0.3989422804014327 * exp(-({z}) * ({z}) / 2.0) * {poly})"


def _click_purchase_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per distinct non-NULL click/purchase event value: the
    value, its click count ca and its purchase count cb.

    The table feeds the min/max range, the block pass and the block
    table of ``below_sums``, so unpinned the events scan re-ran once per
    consumer. One row per DISTINCT value (the corpus quantizes value
    columns, so this is bounded at any scale): it is pinned, and the
    events fact is scanned once.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
        )
        .select((F.col("event_type") == F.lit("click")).alias("is_a"), "value")
    )
    return (
        ev.groupBy("value")
        .agg(
            F.sum(F.col("is_a").cast("bigint")).alias("ca"),
            F.sum((~F.col("is_a")).cast("bigint")).alias("cb"),
        )
        .transform(pin)
    )


def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U (rank-sum) test: do click and purchase event
    values come from the same distribution? No global sort: the corpus
    collapses to DISTINCT-VALUE counts in one shuffle, and the
    cumulative "how many B values lie below v" term comes from
    ``below_sums`` (the two-level block prefix sum). 2*U stays an
    exact integer (ties contribute cb/2 each, hence the doubling); the
    tie-corrected normal z and rank-biserial effect size are the only
    float steps. Scale: every window is either block-partitioned or
    bounded by the 1024-block table; nothing driver-side.

    NULL rule: the rank-sum test is undefined for NULL observations —
    a NULL value has no block and would be silently dropped by the
    block join while the oracle still counted it, so NULL-value rows
    are filtered explicitly in BOTH engines.
    """
    vc = _click_purchase_values(spark, sf_dir)
    j = below_sums(vc, "value", below_b=F.col("cb"))
    agg = j.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(F.col("ca") * (2 * F.col("below_b") + F.col("cb"))).alias("u2_a"),
        F.sum(
            (F.col("ca") + F.col("cb"))
            * (F.col("ca") + F.col("cb"))
            * (F.col("ca") + F.col("cb"))
            - (F.col("ca") + F.col("cb"))
        ).alias("tie_term"),
    )
    sigma = (
        "sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1.0) "
        "- tie_term / ((n_a + n_b) * (n_a + n_b - 1.0))))"
    )
    # r_rank_biserial = u2_a/(n_a·n_b) − 1 = (u2_a − n_a·n_b)/(n_a·n_b)
    # is a PURE integer rational — integer-exact HALF_UP (repo
    # round-boundary rule). u_a is an exact .0/.5 half-integer and z is
    # +,−,×,÷,sqrt over bit-identical integer operands — both are
    # IEEE-deterministic doubles, so they are emitted RAW: round() is
    # the only step where the two engines' algorithms differ, so it is
    # left out (functions/exact.py raw-emission policy).
    rp = "(cast(u2_a as decimal(38,0)) - cast(n_a as decimal(38,0)) * n_b)"
    rq = "(cast(n_a as decimal(38,0)) * n_b)"
    # u_a must be emitted as DOUBLE on both engines: under the driver's
    # ANSI Spark 4 session a bare `u2_a / 2.0` types as decimal(27,6)
    # while DuckDB's BIGINT / 2.0 is DOUBLE — equal values, different
    # hash surface.
    # z needs BOTH groups populated and not-all-tied (σ² > 0 iff
    # tie_term < N³−N — EXACT integer discriminant in decimal(38,0)/
    # HUGEINT); the effect size needs both groups: NULL, not an ANSI
    # crash; identical guards both engines.
    zdef = (
        "(n_a > 0 AND n_b > 0 AND tie_term"
        " < cast(n_a + n_b as decimal(38,0)) * (n_a + n_b) * (n_a + n_b)"
        " - (n_a + n_b))"
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "cast(u2_a as double) / 2.0 AS u_a",
        f"CASE WHEN {zdef} THEN "
        f"(cast(u2_a as double) / 2.0 - n_a * n_b / 2.0) / {sigma} END AS z",
        f"CASE WHEN n_a > 0 AND n_b > 0 THEN "
        f"{sp_rat6(rp, rq)} END AS r_rank_biserial",
    )


def stats_mann_whitney_sql() -> str:
    return f"""
    WITH vc AS (
        SELECT value,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS ca,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        GROUP BY value
    ), cum AS (
        SELECT ca, cb,
               coalesce(sum(cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below_b
        FROM vc
    ), agg AS (
        SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
               sum(ca * (2 * below_b + cb))::BIGINT AS u2_a,
               sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))::BIGINT AS tie_term
        FROM cum
    )
    SELECT n_a, n_b,
           u2_a::DOUBLE / 2.0 AS u_a,
           CASE WHEN n_a > 0 AND n_b > 0 AND tie_term
                     < (n_a + n_b)::HUGEINT * (n_a + n_b) * (n_a + n_b)
                       - (n_a + n_b) THEN
               (u2_a::DOUBLE / 2.0 - n_a * n_b / 2.0)
                 / sqrt(n_a * n_b / 12.0 * ((n_a + n_b + 1.0)
                        - tie_term / ((n_a + n_b) * (n_a + n_b - 1.0))))
           END AS z,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
               {dk_rat6('(u2_a::HUGEINT - n_a::HUGEINT * n_b)', '(n_a::HUGEINT * n_b)')}
           END AS r_rank_biserial
    FROM agg
    """


def stats_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order volume and daily
    revenue. The fact table collapses to the DAYS-bounded calendar
    grain first (one date shuffle); tie-averaged ranks are computed on
    that bounded table with a deterministic row_number (tie-broken by
    date) smoothed by an AVG over the tie partition, so the rank vector
    is engine-order-independent. Revenue ranks on exact integer cents
    (bigint), never on a float sum, so rank comparisons cannot flip on
    low-bit sum-order differences. Ranks are k/2-exact doubles and all
    moment sums stay below 2^53, so rho's inputs are bit-identical in
    both engines.
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"),
        )
    )
    rnx = F.row_number().over(Window.orderBy("x", "o_orderdate"))
    rny = F.row_number().over(Window.orderBy("y", "o_orderdate"))
    r = d.select("x", "y", rnx.alias("rnx"), rny.alias("rny"))
    r = r.select(
        F.avg("rnx").over(Window.partitionBy("x")).alias("rx"),
        F.avg("rny").over(Window.partitionBy("y")).alias("ry"),
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    # rank correlation is undefined when a rank sequence has zero
    # variance (n <= 1 — round-9 probe): NULL, not an ANSI crash; the
    # guard reuses the sqrt operands (identical expressions cross-engine)
    return agg.selectExpr(
        "n AS n_days",
        "CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN"
        " round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) "
        "* (n * syy - sy * sy)), 6) END AS rho_spearman",
    )


def stats_spearman_daily_sql() -> str:
    return """
    WITH d AS (
        SELECT o_orderdate, count(*)::BIGINT AS x,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        FROM orders GROUP BY 1
    ), rn AS (
        SELECT x, y,
               row_number() OVER (ORDER BY x, o_orderdate) AS rnx,
               row_number() OVER (ORDER BY y, o_orderdate) AS rny
        FROM d
    ), r AS (
        SELECT avg(rnx) OVER (PARTITION BY x) AS rx,
               avg(rny) OVER (PARTITION BY y) AS ry
        FROM rn
    ), agg AS (
        SELECT count(*)::BIGINT AS n, sum(rx) AS sx, sum(ry) AS sy,
               sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
               sum(rx * ry) AS sxy
        FROM r
    )
    SELECT n AS n_days,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0 THEN
               round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx)
                     * (n * syy - sy * sy)), 6)
           END AS rho_spearman
    FROM agg
    """


def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over one z-test per nation: is a
    nation's mean order value off the global mean? One fact-scale
    shuffle (orders |><| customer on custkey) collapses to NATION-grain
    moments; the global mean arrives as a 1-row broadcast resolved
    inside the plan. p-values use the Abramowitz-Stegun 26.2.17 tail
    polynomial — the SAME literal expression in both engines — and
    every boolean threshold compares ROUNDED values (repo rule: never
    compare raw floats across engines). The BH step-up walk is two
    windows over the 25-row hypothesis table (bounded by the nation
    dimension).
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # moments on the EXACT integer-cents lattice (round-11 all-ties
    # axis): with raw double sums the sum-of-squares identity leaves a
    # float residue of either sign at zero variance — sqrt-NaN on Spark,
    # a hard OutOfRange error on DuckDB, and an engine-dependent
    # near-zero ulp otherwise. Integer moments make the variance
    # discriminant exact (v = n*sxx - sx^2 in decimal(38,0), zero iff
    # every price ties), z is scale-invariant so cents vs dollars
    # cancels, and every double below derives from the same exact
    # integers on both engines.
    cents = "cast(round(o_totalprice * 100) as bigint)"
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(cents)).alias("sx"),
            F.sum(
                F.expr(f"cast({cents} as decimal(38,0)) * {cents}")
            ).alias("sxx"),
        )
    )
    tot = g.agg(F.sum("n").alias("tn"), F.sum("sx").alias("tsx"))
    j = g.crossJoin(F.broadcast(tot)).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    v = "(cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx)"
    z = (
        f"(CASE WHEN n > 1 AND {v} > 0 THEN"
        " ((sx / cast(n as double) - tsx / cast(tn as double))"
        f" / sqrt(cast({v} as double)"
        " / (cast(n as double) * n * (n - 1.0)))) END)"
    )
    p = f"(2.0 * {_normal_upper_tail(f'abs({z})')})"
    h = j.selectExpr(
        "n_name", "n", f"round({z}, 6) AS z", f"round({p}, 6) AS p"
    )
    # explicit NULLS LAST: undefined-z hypotheses (zero-variance
    # nations) sort after every real p on BOTH engines (Spark default
    # is NULLS FIRST asc, DuckDB's is NULLS LAST)
    wk = Window.orderBy(F.asc_nulls_last("p"), "n_name")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = h.select(
        "*",
        F.row_number().over(wk).cast("bigint").alias("k"),
        F.count(F.lit(1)).over(wall).alias("m"),
    ).withColumn(
        # k·0.05/m = k/(20m): integer-exact HALF_UP (round-boundary rule)
        "bh_threshold", F.expr(sp_rat6("k", "20 * m"))
    ).withColumn(
        "hit_k",
        F.when(F.col("p") <= F.col("bh_threshold"), F.col("k")).otherwise(0),
    )
    return (
        ranked.withColumn("max_hit", F.max("hit_k").over(wall))
        .select(
            "n_name",
            "n",
            "z",
            "p",
            "k",
            "bh_threshold",
            (F.col("k") <= F.col("max_hit")).alias("discovered"),
        )
        .orderBy("k")
    )


def stats_fdr_bh_sql() -> str:
    v = "(n::HUGEINT * sxx - sx::HUGEINT * sx)"
    z = (
        f"(CASE WHEN n > 1 AND {v} > 0 THEN"
        " ((sx / n::DOUBLE - tsx / tn::DOUBLE)"
        f" / sqrt({v}::DOUBLE / (n::DOUBLE * n * (n - 1.0)))) END)"
    )
    p = f"(2.0 * {_normal_upper_tail(f'abs({z})')})"
    return f"""
    WITH g AS (
        SELECT c_nationkey, count(*)::BIGINT AS n,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sx,
               sum(round(o_totalprice * 100)::HUGEINT
                   * round(o_totalprice * 100)::BIGINT) AS sxx
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    ), t AS (
        SELECT sum(n)::BIGINT AS tn, sum(sx)::BIGINT AS tsx FROM g
    ), h AS (
        SELECT n_name, n, round({z}, 6) AS z, round({p}, 6) AS p
        FROM g CROSS JOIN t JOIN nation ON c_nationkey = n_nationkey
    ), ranked AS (
        SELECT *, row_number() OVER (ORDER BY p NULLS LAST, n_name) AS k,
               count(*) OVER () AS m
        FROM h
    ), thr AS (
        SELECT *, {dk_rat6('k', '20 * m')} AS bh_threshold,
               CASE WHEN p <= {dk_rat6('k', '20 * m')} THEN k ELSE 0 END AS hit_k
        FROM ranked
    )
    SELECT n_name, n, z, p, k, bh_threshold,
           (k <= max(hit_k) OVER ()) AS discovered
    FROM thr ORDER BY k
    """


def q_events_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median / MAD) anomaly profile per event type — the
    outlier monitor that, unlike stats_ewma / q_events_zscore, a single
    fat-tailed spike cannot poison. Two grouped EXACT percentile
    aggregations (event-type grain, K-bounded groups) with the K-row
    median tables broadcast back onto the stream; the outlier rule
    compares ROUNDED deviations (repo float rule). percentile() in
    Spark and quantile_cont() in DuckDB share linear interpolation, so
    the medians replay exactly.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"),
        F.count(F.lit(1)).alias("n"),
    )
    # dev feeds the MAD aggregate AND the flag pass — unpinned, the
    # events scan + median join ran twice (4 fact scans with med's own
    # copy). Pin the narrow deviation table; the fact is scanned twice
    # total (median pass + deviation build).
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    ).transform(pin)
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_outlier",
        (
            F.round("dev", 6)
            > F.round(F.lit(3.0) * 1.4826 * F.col("mad"), 6)
        ).cast("int"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum("is_outlier").cast("bigint").alias("n_outliers"),
        )
        # integer-exact HALF_UP rate (repo round-boundary rule)
        .withColumn("outlier_rate", F.expr(sp_rat6("n_outliers", "n")))
        .orderBy("event_type")
    )


def q_events_mad_sql() -> str:
    return f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1
    ), dev AS (
        SELECT e.event_type, abs(e.value - m.med) AS dev, m.med, m.n
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(dev, 0.5) AS mad
        FROM dev GROUP BY 1
    ), flagged AS (
        SELECT d.event_type, d.n, d.med, ma.mad,
               CASE WHEN round(d.dev, 6)
                         > round(3.0 * 1.4826 * ma.mad, 6)
                    THEN 1 ELSE 0 END AS is_outlier
        FROM dev d JOIN mad ma USING (event_type)
    )
    SELECT event_type, n, med, mad, n_outliers,
           {dk_rat6('n_outliers', 'n')} AS outlier_rate
    FROM (
        SELECT event_type, max(n)::BIGINT AS n,
               round(max(med), 6) AS med, round(max(mad), 6) AS mad,
               sum(is_outlier)::BIGINT AS n_outliers
        FROM flagged GROUP BY event_type
    ) ORDER BY event_type
    """


def q_events_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching per user: encode
    each user's time-ordered event stream as a character string (one
    char per event type) and count non-overlapping matches of
    view→(no purchase)*→purchase — the funnel generalization that
    handles arbitrary regex patterns over event sequences.

    ONE user-grain shuffle builds the ordered sequence INSIDE an array
    (array_sort over (ts, event_id, char) structs — never a positional
    self-join); the regex runs per row, JVM-side. The pattern uses only
    literal chars, [^x] classes and *, where Java regex and RE2
    (DuckDB) agree on non-overlapping leftmost matching.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
    )
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "c"))
            ).alias("s")
        )
        .select(
            "user_id",
            F.expr("array_join(transform(s, x -> x.c), '')").alias("seq"),
        )
    )
    pat = "v[^p]*p"
    return (
        seq.select(
            "user_id",
            F.length("seq").cast("bigint").alias("seq_len"),
            F.size(F.expr(f"regexp_extract_all(seq, '{pat}', 0)"))
            .cast("bigint")
            .alias("n_matches"),
        )
        .where(F.col("n_matches") > 0)
        .orderBy("user_id")
    )


def q_events_regex_match_sql() -> str:
    return """
    WITH seq AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id, length(seq)::BIGINT AS seq_len,
           len(regexp_extract_all(seq, 'v[^p]*p'))::BIGINT AS n_matches
    FROM seq
    WHERE len(regexp_extract_all(seq, 'v[^p]*p')) > 0
    ORDER BY user_id
    """


# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k!), spelled as the
# SAME literals in both engines so the per-row weight is bit-identical
_POIS_CUM = [
    0.36787944117144233, 0.7357588823428847, 0.9196986058286058,
    0.9810118460238462, 0.9963401560726563, 0.9994058180824183,
    0.999916761750712, 0.9999897537033254,
]
BOOT_REPS = 64


def _pois_weight(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"(CASE {branches} ELSE {len(_POIS_CUM)} END)"


def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean order value — the
    resampling-without-resampling trick that makes bootstrap work on a
    cluster: each of B=64 replicates weights every row by a
    DETERMINISTIC hash-derived Poisson(1) draw (md5(rep:key) → uniform
    → inverse-CDF), so no replicate materializes a resample and the
    oracle replays the exact draws. The 64× fan-out is map-side
    compute: partial aggregation collapses it to 64 rows per partition
    before the one tiny shuffle. Per-replicate means are ROUNDED before
    the percentile/SE step (repo float rule); the CI is
    percentile_cont over the 64-row replicate table.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    u = (
        "cast(conv(substr(md5(concat(cast(rep as string), ':', "
        "cast(o_orderkey as string))), 1, 8), 16, 10) as bigint) "
        "/ 4294967296.0"
    )
    # integer-cents weighted sums (order-free BIGINT, no float-sum
    # drift) and integer-exact HALF_UP outputs (round-boundary rule):
    # each replicate mean is Σw·cents/(100·Σw); the percentile at
    # p = k/40 on the 63-gap grid interpolates with denominator 40, so
    # 40e6·ci is an exact integer; the mean has denominator 64e6.
    reps = o.select(
        "o_orderkey",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        F.explode(F.expr(f"sequence(0, {BOOT_REPS - 1})")).alias("rep"),
    ).selectExpr(
        "rep", "cents", f"{_pois_weight(u)} AS w"
    )
    per_rep = (
        reps.groupBy("rep")
        .agg(
            F.sum("w").alias("nw"),
            F.sum(F.col("w") * F.col("cents")).alias("swc"),
        )
        .selectExpr("rep", f"{sp_rat6('swc', '100 * nw')} AS m")
    )
    # boot_se from the EXACT 6dp-lattice integers (round-11 all-ties
    # axis): the float sum-of-squares identity over the 64 replicate
    # means left an ASSOCIATION-dependent ~1e-5 residue when every
    # replicate mean ties (Spark's partial-sum tree vs DuckDB's
    # sequential fold round differently), which survived the 6dp
    # rounding. m is integer-exact at 6dp by construction, so the
    # variance moments are exact decimal(38,0) integers — zero iff all
    # replicates agree — and the one double sqrt is bit-identical
    # cross-engine.
    m6 = "cast(round(m * 1e6) as bigint)"
    return per_rep.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.sum(F.expr(m6)).alias("sm6"),
        F.sum(F.expr(f"cast({m6} as decimal(38,0)) * {m6}")).alias("sq6"),
        F.expr(
            "cast(round(percentile(m, 0.025) * 40000000) as bigint)"
        ).alias("lo40"),
        F.expr(
            "cast(round(percentile(m, 0.975) * 40000000) as bigint)"
        ).alias("hi40"),
    ).selectExpr(
        "n_reps",
        f"{sp_rat6('sm6', str(BOOT_REPS * 1_000_000))} AS boot_mean",
        f"{sp_rat6('lo40', '40000000')} AS ci_lo",
        f"{sp_rat6('hi40', '40000000')} AS ci_hi",
        f"round(sqrt(cast({BOOT_REPS} * sq6"
        " - cast(sm6 as decimal(38,0)) * sm6 as double)"
        f" / ({BOOT_REPS}.0 * {BOOT_REPS - 1}.0 * 1e12)), 6)"
        " AS boot_se",
    )


def stats_bootstrap_ci_sql() -> str:
    u = (
        "('0x' || substr(md5(rep::VARCHAR || ':' || o_orderkey::VARCHAR), "
        "1, 8))::UBIGINT::BIGINT / 4294967296.0"
    )
    return f"""
    WITH reps AS (
        SELECT r.rep, round(o_totalprice * 100)::BIGINT AS cents,
               {_pois_weight(u)} AS w
        FROM orders, (SELECT unnest(generate_series(0, {BOOT_REPS - 1})) AS rep) r
    ), per_rep AS (
        SELECT rep, {dk_rat6('sum(w * cents)::BIGINT', '100 * sum(w)::BIGINT')} AS m
        FROM reps GROUP BY rep
    ), agg AS (
        SELECT count(*)::BIGINT AS n_reps,
               sum(round(m * 1e6)::BIGINT)::BIGINT AS sm6,
               sum(round(m * 1e6)::BIGINT::HUGEINT
                   * round(m * 1e6)::BIGINT) AS sq6,
               round(quantile_cont(m, 0.025) * 40000000)::BIGINT AS lo40,
               round(quantile_cont(m, 0.975) * 40000000)::BIGINT AS hi40
        FROM per_rep
    )
    SELECT n_reps,
           {dk_rat6('sm6', str(BOOT_REPS * 1_000_000))} AS boot_mean,
           {dk_rat6('lo40', '40000000')} AS ci_lo,
           {dk_rat6('hi40', '40000000')} AS ci_hi,
           round(sqrt(({BOOT_REPS} * sq6 - sm6::HUGEINT * sm6)::DOUBLE
                 / ({BOOT_REPS}.0 * {BOOT_REPS - 1}.0 * 1e12)),
                 6) AS boot_se
    FROM agg
    """


def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue series: are
    above/below-median days randomly interleaved, or does the series
    trend/cluster? The independence check a forecasting pipeline runs
    before trusting residuals.

    The fact table collapses to the DAYS-bounded calendar grain first;
    the exact median comes from one percentile aggregate (1-row
    broadcast resolved in-plan); signs compare ROUNDED revenue vs
    rounded median (repo float rule); the run count is one lag window
    over the bounded daily table. n1/n2/runs are exact integers — the
    float z appears only in the final expression, spelled identically
    in both engines.
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    med = F.broadcast(d.agg(F.expr("round(percentile(rev, 0.5), 6)").alias("med")))
    s = (
        d.crossJoin(med)
        .where(F.col("rev") != F.col("med"))
        .select(
            "o_orderdate", (F.col("rev") > F.col("med")).cast("int").alias("sgn")
        )
    )
    w = Window.orderBy("o_orderdate")
    runs = s.select(
        "sgn",
        F.when(
            F.lag("sgn").over(w).isNull() | (F.lag("sgn").over(w) != F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("sgn").alias("n1"),
        F.sum(F.lit(1) - F.col("sgn")).alias("n2"),
        F.sum("new_run").alias("runs"),
    )
    mu = "(2.0 * n1 * n2 / (n1 + n2) + 1.0)"
    var = (
        "(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) "
        "/ ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))"
    )
    # expected_runs = (2*n1*n2 + n1 + n2)/(n1+n2) is a PURE integer
    # rational — emit it through the integer-exact HALF_UP helper (repo
    # round-boundary rule; the r5 driver flipped this column). z passes
    # through sqrt (irrational) so plain round is safe.
    # z's variance is 0 exactly when n1 = n2 = 1 (2·n1·n2 = n1+n2) or a
    # sign class is empty — EXACT integer guard (round-10 n=2 probe):
    # NULL, not an ANSI crash; identical both engines
    return agg.selectExpr(
        "n1",
        "n2",
        "runs",
        f"{sp_rat6('2 * n1 * n2 + n1 + n2', 'n1 + n2')} AS expected_runs",
        f"CASE WHEN n1 > 0 AND n2 > 0 AND 2 * n1 * n2 > n1 + n2 THEN "
        f"round((runs - {mu}) / sqrt({var}), 6) END AS z",
    )


def stats_runs_test_sql() -> str:
    mu = "(2.0 * n1 * n2 / (n1 + n2) + 1.0)"
    var = (
        "(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) "
        "/ ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))"
    )
    return f"""
    WITH d AS (
        SELECT o_orderdate, round(sum(o_totalprice), 6) AS rev
        FROM orders GROUP BY 1
    ), med AS (
        SELECT round(quantile_cont(rev, 0.5), 6) AS med FROM d
    ), s AS (
        SELECT o_orderdate, (rev > med)::INT AS sgn
        FROM d CROSS JOIN med WHERE rev != med
    ), runs AS (
        SELECT sgn,
               CASE WHEN lag(sgn) OVER (ORDER BY o_orderdate) IS NULL
                         OR lag(sgn) OVER (ORDER BY o_orderdate) != sgn
                    THEN 1 ELSE 0 END AS new_run
        FROM s
    ), agg AS (
        SELECT sum(sgn)::BIGINT AS n1, sum(1 - sgn)::BIGINT AS n2,
               sum(new_run)::BIGINT AS runs
        FROM runs
    )
    SELECT n1, n2, runs,
           {dk_rat6('2 * n1 * n2 + n1 + n2', 'n1 + n2')} AS expected_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND 2 * n1 * n2 > n1 + n2 THEN
               round((runs - {mu}) / sqrt({var}), 6) END AS z
    FROM agg
    """


def stats_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the daily-revenue series into trend +
    day-of-week seasonality + residual — the pre-model sanity pass a
    forecasting pipeline runs (is the weekly cycle real? how much
    variance is left after trend+season?).

    The fact table collapses to the DAYS-bounded calendar grain first;
    trend is a CENTERED 7-day window mean (full windows only, fixed
    7-term order so both engines fold identically), the seasonal index
    is the per-dow mean of the detrended series, and the residual
    re-joins the 7-row seasonal table (broadcast). Output is the 7-row
    per-dow profile: seasonal index, residual spread, and the share of
    detrended variance the seasonal term explains.
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    w7 = Window.orderBy("o_orderdate").rowsBetween(-3, 3)
    t = d.select(
        "o_orderdate",
        "rev",
        F.round(F.avg("rev").over(w7), 6).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("wn"),
    ).where(F.col("wn") == 7)
    det = t.select(
        "o_orderdate",
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        F.round(F.col("rev") - F.col("trend"), 6).alias("det"),
    )
    seas = det.groupBy("dow").agg(
        F.round(F.avg("det"), 6).alias("seasonal"),
        F.count(F.lit(1)).alias("n_days"),
    )
    resid = det.join(F.broadcast(seas), "dow").select(
        "dow",
        "n_days",
        "seasonal",
        "det",
        F.round(F.col("det") - F.col("seasonal"), 6).alias("res"),
    )
    return (
        resid.groupBy("dow")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("seasonal").alias("seasonal"),
            F.round(
                F.expr("sqrt(sum(res * res) / (max(n_days) - 1.0))"), 6
            ).alias("resid_sd"),
            F.round(
                F.lit(1.0) - F.sum(F.col("res") * F.col("res"))
                / F.sum(F.col("det") * F.col("det")),
                6,
            ).alias("var_explained"),
        )
        .orderBy("dow")
    )


def stats_seasonal_decompose_sql() -> str:
    return """
    WITH d AS (
        SELECT o_orderdate, round(sum(o_totalprice), 6) AS rev
        FROM orders GROUP BY 1
    ), t AS (
        SELECT o_orderdate, rev,
               round(avg(rev) OVER w, 6) AS trend,
               count(*) OVER w AS wn
        FROM d
        WINDOW w AS (ORDER BY o_orderdate ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
        SELECT o_orderdate, dayofweek(o_orderdate)::INT AS dow,
               round(rev - trend, 6) AS det
        FROM t WHERE wn = 7
    ), seas AS (
        SELECT dow, round(avg(det), 6) AS seasonal, count(*)::BIGINT AS n_days
        FROM det GROUP BY 1
    ), resid AS (
        SELECT d.dow, s.n_days, s.seasonal, d.det,
               round(d.det - s.seasonal, 6) AS res
        FROM det d JOIN seas s USING (dow)
    )
    SELECT dow, max(n_days)::BIGINT AS n_days, max(seasonal) AS seasonal,
           round(sqrt(sum(res * res) / (max(n_days) - 1.0)), 6) AS resid_sd,
           round(1.0 - sum(res * res) / sum(det * det), 6) AS var_explained
    FROM resid GROUP BY dow ORDER BY dow
    """


def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests): are mean order
    values of the two order-key parity halves EQUIVALENT within a
    ±1%-of-grand-mean margin? The complement of stats_ab_test — a
    non-significant difference is not evidence of equivalence; TOST is.

    ONE conditional-moment aggregation (no join: parity is derived from
    the key), then pure arithmetic on the 1-row result. p-values use
    the shared Abramowitz-Stegun tail polynomial; the equivalence
    verdict compares ROUNDED values (repo float rule).
    """
    # moments on the EXACT integer-cents lattice (round-11 all-ties
    # axis): raw double sums left a float residue of either sign in
    # qa - sa^2/na at zero variance, and sqrt(residue) fired INSIDE the
    # old "se > 0" guard (DuckDB raises OutOfRange while EVALUATING the
    # guard). Exact integer arm variances (va = na*qa - sa^2 in
    # decimal(38,0)) make the zero-variance discriminant exact and
    # every derived double bit-identical cross-engine; z is
    # scale-invariant so cents cancel, and the dollar-facing outputs
    # divide by 100.0 once (exact binary literal, one rounding).
    cents = "cast(round(o_totalprice * 100) as bigint)"
    agg = load_table(spark, sf_dir, "orders").agg(
        F.sum(F.expr("CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END")).alias("na"),
        F.sum(F.expr(f"CASE WHEN o_orderkey % 2 = 0 THEN {cents} ELSE 0 END")).alias("sa"),
        F.sum(F.expr(f"CASE WHEN o_orderkey % 2 = 0 THEN cast({cents} as decimal(38,0)) * {cents} ELSE 0 END")).alias("qa"),
        F.sum(F.expr("CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END")).alias("nb"),
        F.sum(F.expr(f"CASE WHEN o_orderkey % 2 = 1 THEN {cents} ELSE 0 END")).alias("sb"),
        F.sum(F.expr(f"CASE WHEN o_orderkey % 2 = 1 THEN cast({cents} as decimal(38,0)) * {cents} ELSE 0 END")).alias("qb"),
    )
    diff = "(sa / cast(na as double) - sb / cast(nb as double))"
    delta = "(0.01 * (sa + sb) / cast(na + nb as double))"
    va = "(cast(na as decimal(38,0)) * qa - cast(sa as decimal(38,0)) * sa)"
    vb = "(cast(nb as decimal(38,0)) * qb - cast(sb as decimal(38,0)) * sb)"
    se = (
        f"sqrt(cast({va} as double)"
        " / (cast(na as double) * na * (na - 1.0))"
        f" + cast({vb} as double)"
        " / (cast(nb as double) * nb * (nb - 1.0)))"
    )
    z1 = f"(({diff} + {delta}) / {se})"
    z2 = f"(({delta} - {diff}) / {se})"
    p1 = _normal_upper_tail(z1)
    p2 = _normal_upper_tail(z2)
    # TOST is undefined with an empty/singleton arm or zero pooled
    # variance: NULL, not an ANSI crash. The variance check is the
    # EXACT integer discriminant (va + vb > 0 iff any value differs),
    # nested INSIDE the n-guard so /(n-1) never evaluates on a
    # degenerate arm; identical structure on both engines.
    narm = "(na >= 2 AND nb >= 2)"
    sdef = f"({va} + {vb} > 0)"
    return agg.selectExpr(
        "na AS n_a",
        "nb AS n_b",
        f"CASE WHEN na > 0 AND nb > 0 THEN round({diff} / 100.0, 6) END"
        " AS mean_diff",
        # margin IS one integer rational ((sa+sb) / ((na+nb)*10000)):
        # integer-exact HALF_UP per the round-boundary rule
        f"CASE WHEN na + nb > 0 THEN"
        f" {sp_rat6('(sa + sb)', '((na + nb) * 10000)')} END AS margin",
        f"CASE WHEN {narm} THEN CASE WHEN {sdef} THEN"
        f" round({z1}, 6) END END AS z_lower",
        f"CASE WHEN {narm} THEN CASE WHEN {sdef} THEN"
        f" round({z2}, 6) END END AS z_upper",
        f"CASE WHEN {narm} THEN CASE WHEN {sdef} THEN"
        f" round(greatest({p1}, {p2}), 6) END END AS p_tost",
        f"CASE WHEN {narm} THEN CASE WHEN {sdef} THEN"
        f" round(greatest({p1}, {p2}), 6) < 0.05 END END AS equivalent",
    )


def stats_tost_equivalence_sql() -> str:
    diff = "(sa / na::DOUBLE - sb / nb::DOUBLE)"
    delta = "(0.01 * (sa + sb) / (na + nb)::DOUBLE)"
    va = "(na::HUGEINT * qa - sa::HUGEINT * sa)"
    vb = "(nb::HUGEINT * qb - sb::HUGEINT * sb)"
    se = (
        f"sqrt({va}::DOUBLE / (na::DOUBLE * na * (na - 1.0))"
        f" + {vb}::DOUBLE / (nb::DOUBLE * nb * (nb - 1.0)))"
    )
    z1 = f"(({diff} + {delta}) / {se})"
    z2 = f"(({delta} - {diff}) / {se})"
    p1 = _normal_upper_tail(z1)
    p2 = _normal_upper_tail(z2)
    sdef = f"({va} + {vb} > 0)"
    return f"""
    WITH agg AS (
        SELECT sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
               sum(CASE WHEN o_orderkey % 2 = 0 THEN round(o_totalprice * 100)::BIGINT ELSE 0 END)::BIGINT AS sa,
               sum(CASE WHEN o_orderkey % 2 = 0 THEN round(o_totalprice * 100)::HUGEINT * round(o_totalprice * 100)::BIGINT ELSE 0 END) AS qa,
               sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS nb,
               sum(CASE WHEN o_orderkey % 2 = 1 THEN round(o_totalprice * 100)::BIGINT ELSE 0 END)::BIGINT AS sb,
               sum(CASE WHEN o_orderkey % 2 = 1 THEN round(o_totalprice * 100)::HUGEINT * round(o_totalprice * 100)::BIGINT ELSE 0 END) AS qb
        FROM orders
    )
    SELECT na AS n_a, nb AS n_b,
           CASE WHEN na > 0 AND nb > 0 THEN round({diff} / 100.0, 6) END AS mean_diff,
           CASE WHEN na + nb > 0 THEN {dk_rat6('(sa + sb)', '((na + nb) * 10000)')} END AS margin,
           CASE WHEN na >= 2 AND nb >= 2 THEN CASE WHEN {sdef} THEN
               round({z1}, 6) END END AS z_lower,
           CASE WHEN na >= 2 AND nb >= 2 THEN CASE WHEN {sdef} THEN
               round({z2}, 6) END END AS z_upper,
           CASE WHEN na >= 2 AND nb >= 2 THEN CASE WHEN {sdef} THEN
               round(greatest({p1}, {p2}), 6) END END AS p_tost,
           CASE WHEN na >= 2 AND nb >= 2 THEN CASE WHEN {sdef} THEN
               round(greatest({p1}, {p2}), 6) < 0.05 END END AS equivalent
    FROM agg
    """


def stats_extreme_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on monthly block maxima of daily
    revenue — the tail-risk question capacity planning asks: how likely
    is a future month to exceed the worst day ever seen?

    Two bounded collapses (daily grain, then monthly maxima — both
    calendar-bounded), a method-of-moments fit (β = s·√6/π,
    μ = m − γ·β), and the exceedance probability of the historical
    maximum under the fitted CDF. Arithmetic is identical literal
    structure in both engines; one row out.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    monthly = daily.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.max("rev").alias("m"))
    agg = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("s"),
        F.sum(F.col("m") * F.col("m")).alias("q"),
        F.max("m").alias("hist_max"),
    )
    mean = "(s / n)"
    sd = "sqrt((q - s * s / n) / (n - 1.0))"
    beta = f"({sd} * sqrt(6.0) / pi())"
    mu = f"({mean} - 0.5772156649015329 * {beta})"
    p_exc = f"(1.0 - exp(-exp(-((hist_max - {mu}) / {beta}))))"
    # the moment fit needs >= 2 blocks with spread (round-9
    # degenerate-input probe): NULL otherwise, not an ANSI crash; the
    # variance check nests inside the n-guard and reuses the identical
    # cross-engine expression
    pos = "CASE WHEN n >= 2 THEN (q - s * s / n) > 0 END"
    return agg.selectExpr(
        "n AS n_blocks",
        f"CASE WHEN {pos} THEN round({mu}, 6) END AS gumbel_mu",
        f"CASE WHEN {pos} THEN round({beta}, 6) END AS gumbel_beta",
        "round(hist_max, 6) AS hist_max",
        f"CASE WHEN {pos} THEN round({p_exc}, 6) END AS p_exceed_hist_max",
    )


def stats_extreme_gumbel_sql() -> str:
    mean = "(s / n)"
    sd = "sqrt((q - s * s / n) / (n - 1.0))"
    beta = f"({sd} * sqrt(6.0) / pi())"
    mu = f"({mean} - 0.5772156649015329 * {beta})"
    p_exc = f"(1.0 - exp(-exp(-((hist_max - {mu}) / {beta}))))"
    return f"""
    WITH daily AS (
        SELECT o_orderdate, round(sum(o_totalprice), 6) AS rev
        FROM orders GROUP BY 1
    ), monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month, max(rev) AS m
        FROM daily GROUP BY 1
    ), agg AS (
        SELECT count(*)::DOUBLE AS n, sum(m) AS s, sum(m * m) AS q,
               max(m) AS hist_max
        FROM monthly
    )
    SELECT n::BIGINT AS n_blocks,
           CASE WHEN CASE WHEN n >= 2 THEN (q - s * s / n) > 0 END THEN
               round({mu}, 6) END AS gumbel_mu,
           CASE WHEN CASE WHEN n >= 2 THEN (q - s * s / n) > 0 END THEN
               round({beta}, 6) END AS gumbel_beta,
           round(hist_max, 6) AS hist_max,
           CASE WHEN CASE WHEN n >= 2 THEN (q - s * s / n) > 0 END THEN
               round({p_exc}, 6) END AS p_exceed_hist_max
    FROM agg
    """


def q_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q1 pricing summary re-run ENTIRELY in DECIMAL — the
    exact-arithmetic certification: every sum is reproducible to the
    last digit regardless of engine, partition count, or reduction
    order (the property float money math can never give). Outputs are
    decimal-to-string casts, so the oracle comparison is BYTE-exact
    with zero rounding slack.

    The type discipline that makes cross-engine byte-parity possible:
    operands carry their TRUE scales (prices 2 dp, rates 2 dp) and
    every product keeps its full derived scale — no scale-reducing
    cast ever happens, because engines disagree there (Spark rounds
    HALF_UP, DuckDB truncates). (12,2)×(4,2)×(4,2) tops out at scale 6
    well inside 38 digits, so all arithmetic is exact integers
    underneath. Same scan→partial-agg shape as q1.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    return (
        li.selectExpr(
            "l_returnflag",
            "l_linestatus",
            "cast(l_quantity as decimal(12,2)) AS qty",
            "cast(l_extendedprice as decimal(12,2)) AS ep",
            "cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(4,2)) AS disc_price",
            "cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(4,2)) * cast(1 + l_tax as decimal(4,2)) AS charge",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("cast(sum(cast(qty as decimal(38,2))) as string)").alias("sum_qty"),
            F.expr("cast(sum(cast(ep as decimal(38,2))) as string)").alias("sum_base_price"),
            F.expr("cast(sum(cast(disc_price as decimal(38,4))) as string)").alias("sum_disc_price"),
            F.expr("cast(sum(cast(charge as decimal(38,6))) as string)").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_decimal_exact_sql() -> str:
    return """
    WITH t AS (
        SELECT l_returnflag, l_linestatus,
               cast(l_quantity as DECIMAL(12,2)) AS qty,
               cast(l_extendedprice as DECIMAL(12,2)) AS ep,
               cast(l_extendedprice as DECIMAL(12,2)) * cast(1 - l_discount as DECIMAL(4,2)) AS disc_price,
               cast(l_extendedprice as DECIMAL(12,2)) * cast(1 - l_discount as DECIMAL(4,2)) * cast(1 + l_tax as DECIMAL(4,2)) AS charge
        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           cast(sum(cast(qty as DECIMAL(38,2))) as varchar) AS sum_qty,
           cast(sum(cast(ep as DECIMAL(38,2))) as varchar) AS sum_base_price,
           cast(sum(cast(disc_price as DECIMAL(38,4))) as varchar) AS sum_disc_price,
           cast(sum(cast(charge as DECIMAL(38,6))) as varchar) AS sum_charge,
           count(*)::BIGINT AS count_order
    FROM t GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


def stats_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and CVaR (expected shortfall) of the day-over-day
    revenue CHANGE series — the risk-summary pair a capacity/finance
    monitor keeps: the 5% worst daily swing, and the mean swing inside
    that tail.

    DAYS-bounded collapse, one lag window for the delta series, one
    exact percentile (1-row broadcast back), and a conditional mean
    over the tail — tail membership compares ROUNDED deltas (repo
    float rule). percentile()/quantile_cont share interpolation.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    w = Window.orderBy("o_orderdate")
    delta = daily.select(
        F.round(F.col("rev") - F.lag("rev").over(w), 6).alias("d")
    ).where(F.col("d").isNotNull())
    cut = F.broadcast(
        delta.agg(F.expr("round(percentile(d, 0.05), 6)").alias("var5"))
    )
    return (
        delta.crossJoin(cut)
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("var5").alias("var_5pct"),
            F.round(
                F.avg(F.when(F.col("d") <= F.col("var5"), F.col("d"))), 6
            ).alias("cvar_5pct"),
            F.sum((F.col("d") <= F.col("var5")).cast("int"))
            .cast("bigint")
            .alias("n_tail"),
        )
    )


def stats_var_cvar_sql() -> str:
    return """
    WITH daily AS (
        SELECT o_orderdate, round(sum(o_totalprice), 6) AS rev
        FROM orders GROUP BY 1
    ), delta AS (
        SELECT round(rev - lag(rev) OVER (ORDER BY o_orderdate), 6) AS d
        FROM daily
    ), nz AS (
        SELECT d FROM delta WHERE d IS NOT NULL
    ), cut AS (
        SELECT round(quantile_cont(d, 0.05), 6) AS var5 FROM nz
    )
    SELECT count(*)::BIGINT AS n_days,
           max(var5) AS var_5pct,
           round(avg(CASE WHEN d <= var5 THEN d END), 6) AS cvar_5pct,
           sum((d <= var5)::INT)::BIGINT AS n_tail
    FROM nz CROSS JOIN cut
    """


def q_sql_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE + session variables (the Spark 4 dynamic-SQL
    surface): a dashboard parameter lands in a DECLAREd variable, the
    query text is assembled as a STRING and executed with USING
    placeholders — the templated-report path that otherwise requires
    client-side string building. Certifies DECLARE / SET VAR /
    EXECUTE IMMEDIATE ... USING / variable references inside the
    executed text, returning the per-priority order profile above a
    variable-driven price floor.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ei")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR price_floor = 150000.0")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority,
                count(*) AS n_orders,
                round(avg(o_totalprice), 6) AS avg_price,
                round(max(o_totalprice), 6) AS max_price
         FROM orders_ei
         WHERE o_totalprice > price_floor AND o_orderstatus = ?
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority'
        USING 'O'
        """
    )


def q_sql_exec_immediate_sql() -> str:
    return """
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
           round(avg(o_totalprice), 6) AS avg_price,
           round(max(o_totalprice), 6) AS max_price
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the corpus size from two
    independent deterministic hash samples — the classic trick for
    estimating the size of a population you can only sample (dark
    corpus, dedup-cluster count, crawl frontier): sample A tags 20%,
    sample B 25%, and the overlap rate recovers N̂ without a full
    count... which the audit columns then compare against the true
    count the engine CAN compute. ONE conditional-aggregation pass,
    map-side; membership is md5-derived so the oracle replays the
    samples exactly.
    """
    h1 = "cast(conv(substr(md5(concat('cap1:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
    h2 = "cast(conv(substr(md5(concat('cap2:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
    agg = load_table(spark, sf_dir, "documents").selectExpr(
        f"({h1}) % 5 = 0 AS in_a", f"({h2}) % 4 = 0 AS in_b"
    ).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.col("in_a").cast("int")).alias("n_a"),
        F.sum(F.col("in_b").cast("int")).alias("n_b"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("int")).alias("n_ab"),
    )
    # Chapman N̂ = (n_a+1)(n_b+1)/(n_ab+1) − 1 and its relative error are
    # PURE integer rationals — integer-exact HALF_UP (repo round-boundary
    # rule; the r5 driver flipped both columns):
    #   n_hat     = p1/q1, p1 = (n_a+1)(n_b+1) − (n_ab+1),  q1 = n_ab+1
    #   rel_error = (p1 − q1·n_true)/(q1·n_true)
    # products widen BEFORE multiplying (BIGINT n_a*n_b overflows at
    # ~3e9 rows per sample — decimal(38,0) is the 100TB-safe width)
    p1 = "((cast(n_a as decimal(38,0)) + 1) * (n_b + 1) - (n_ab + 1))"
    q1 = "(n_ab + 1)"
    return agg.selectExpr(
        "n_true",
        "n_a",
        "n_b",
        "n_ab",
        f"{sp_rat6(p1, q1)} AS n_hat",
        f"{sp_rat6(f'{p1} - cast({q1} as decimal(38,0)) * n_true', f'cast({q1} as decimal(38,0)) * n_true')} AS rel_error",
    )


def stats_capture_recapture_sql() -> str:
    h1 = "('0x' || substr(md5('cap1:' || doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT"
    h2 = "('0x' || substr(md5('cap2:' || doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT"
    p1 = "((n_a::HUGEINT + 1) * (n_b + 1) - (n_ab + 1))"
    q1 = "(n_ab + 1)"
    return f"""
    WITH tag AS (
        SELECT ({h1}) % 5 = 0 AS in_a, ({h2}) % 4 = 0 AS in_b FROM documents
    ), agg AS (
        SELECT count(*)::BIGINT AS n_true,
               sum(in_a::INT)::BIGINT AS n_a,
               sum(in_b::INT)::BIGINT AS n_b,
               sum((in_a AND in_b)::INT)::BIGINT AS n_ab
        FROM tag
    )
    SELECT n_true, n_a, n_b, n_ab,
           {dk_rat6(p1, q1)} AS n_hat,
           {dk_rat6(f'{p1} - {q1}::HUGEINT * n_true', f'{q1}::HUGEINT * n_true')} AS rel_error
    FROM agg
    """


SESSION_TTL_MIN = 30


def q_events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user covered-time union: each event opens a 30-minute
    activity interval; overlapping intervals merge, and the user's
    total covered minutes (and interval count) is the union length —
    the classic merge-overlapping-intervals computed as one
    gaps-and-islands pass (a NEW island starts when an event's start
    exceeds the running max end of everything before it). USER-grain
    windows only; all arithmetic in integer epoch seconds.
    """
    ttl = SESSION_TTL_MIN * 60
    # timezone-free epoch from wall-clock components (the repo epoch_s
    # rule: unix_timestamp shifts under non-UTC driver sessions)
    epoch = (
        "datediff(cast(ts as date), date'1970-01-01') * 86400"
        " + hour(ts) * 3600 + minute(ts) * 60 + floor(second(ts))"
    )
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        f"cast({epoch} as bigint) AS s",
        f"cast({epoch} as bigint) + {ttl} AS e",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    flagged = ev.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(
            F.max("e").over(wprev).isNull()
            | (F.col("s") > F.max("e").over(wprev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.expr("sum(i_end - i_start) div 60")
            .cast("bigint")
            .alias("covered_minutes"),
        )
        .orderBy("user_id")
    )


def q_events_interval_union_sql() -> str:
    ttl = SESSION_TTL_MIN * 60
    return f"""
    WITH ev AS (
        SELECT user_id, floor(epoch(ts::TIMESTAMP))::BIGINT AS s,
               floor(epoch(ts::TIMESTAMP))::BIGINT + {ttl} AS e, event_id
        FROM events
    ), flagged AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                    THEN 1 ELSE 0 END AS new_island
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), merged AS (
        SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
        FROM isl GROUP BY 1, 2
    )
    SELECT user_id, count(*)::BIGINT AS n_intervals,
           (sum(i_end - i_start) // 60)::BIGINT AS covered_minutes
    FROM merged GROUP BY user_id ORDER BY user_id
    """


def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: JB = n/6·(S² + K²/4)
    from skewness S and excess kurtosis K. TWO-pass centered moments —
    the raw-moment expansion (Σx⁴ − 4μΣx³ + …) cancels catastrophically
    at double precision, so pass 1 computes a per-group mean ROUNDED to
    6 dp (making both engines center on the identical constant) and
    pass 2 aggregates Σ(x−μ̂)^{2,3,4} of well-scaled values. The K-row
    mean table broadcasts back; everything else is arithmetic on the
    group table.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    mu = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"), F.count(F.lit(1)).alias("n")
    )
    c = ev.join(F.broadcast(mu), "event_type").selectExpr(
        "event_type", "n", "(value - mu) AS d"
    )
    g = c.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.expr("d * d")).alias("c2"),
        F.sum(F.expr("d * d * d")).alias("c3"),
        F.sum(F.expr("d * d * d * d")).alias("c4"),
    )
    skew = "((c3 / n) / pow(c2 / n, 1.5))"
    kurt = "((c4 / n) / ((c2 / n) * (c2 / n)) - 3.0)"
    # n/6 amplifies sub-1e-6 sum-order noise ~1000x, so the JB output
    # rounds at 2 dp (it is read against chi-square criticals like
    # 5.99; 6 dp precision on the amplified statistic is meaningless)
    jb = f"(n / 6.0 * ({skew} * {skew} + {kurt} * {kurt} / 4.0))"
    # c2 = 0 (zero-variance / single-value group, round-9 probe) leaves
    # skewness/kurtosis undefined: NULL, not an ANSI crash; c2 is the
    # identical summed expression on both engines, so the branch agrees
    # + 0.0 normalizes IEEE −0.0: a symmetric 2-value group rounds the
    # skewness to −0.0 on DuckDB (its round keeps the sign) and +0.0 on
    # Spark (round-10 n=5 probe); identity for every other double
    return g.selectExpr(
        "event_type",
        "n",
        f"CASE WHEN c2 > 0 THEN round({skew}, 6) + 0.0 END AS skewness",
        f"CASE WHEN c2 > 0 THEN round({kurt}, 6) + 0.0 END"
        " AS excess_kurtosis",
        f"CASE WHEN c2 > 0 THEN round({jb}, 2) + 0.0 END AS jb_stat",
    ).orderBy("event_type")


def stats_jarque_bera_sql() -> str:
    skew = "((c3 / n) / pow(c2 / n, 1.5))"
    kurt = "((c4 / n) / ((c2 / n) * (c2 / n)) - 3.0)"
    jb = f"(n / 6.0 * ({skew} * {skew} + {kurt} * {kurt} / 4.0))"
    return f"""
    WITH mu AS (
        SELECT event_type, round(avg(value), 6) AS mu,
               count(*)::DOUBLE AS n
        FROM events GROUP BY 1
    ), c AS (
        SELECT e.event_type, m.n, (e.value - m.mu) AS d
        FROM events e JOIN mu m USING (event_type)
    ), g AS (
        SELECT event_type, max(n) AS n,
               sum(d * d) AS c2, sum(d * d * d) AS c3,
               sum(d * d * d * d) AS c4
        FROM c GROUP BY 1
    )
    SELECT event_type, n::BIGINT AS n,
           CASE WHEN c2 > 0 THEN round({skew}, 6) + 0.0 END AS skewness,
           CASE WHEN c2 > 0 THEN round({kurt}, 6) + 0.0 END
               AS excess_kurtosis,
           CASE WHEN c2 > 0 THEN round({jb}, 2) + 0.0 END AS jb_stat
    FROM g ORDER BY event_type
    """


import statistics as _pystats

QQ_PROBS = [round(0.05 * i, 2) for i in range(1, 20)]
QQ_Z = {p: _pystats.NormalDist().inv_cdf(p) for p in QQ_PROBS}


def stats_qq_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q table of order values against the normal distribution: the
    19 ventile empirical quantiles standardized by (rounded) mean/sd
    next to the theoretical normal quantiles — the plot behind every
    "is this normal?" eyeball, as data. Theoretical z values are
    PYTHON-precomputed literals (statistics.NormalDist.inv_cdf), so no
    in-engine probit approximation exists to drift; the empirical side
    is ONE exact multi-quantile aggregate + a 1-row moment broadcast.
    """
    probs = ", ".join(str(p) for p in QQ_PROBS)
    agg = load_table(spark, sf_dir, "orders").agg(
        F.expr(f"percentile(o_totalprice, array({probs}))").alias("qs"),
        F.round(F.avg("o_totalprice"), 6).alias("mu"),
        F.round(F.stddev_samp("o_totalprice"), 6).alias("sd"),
    )
    # z_theory is a PYTHON-pre-rounded double literal on BOTH engines:
    # a bare float repr parses as DECIMAL in each engine (Spark
    # round(decimal,6) → decimal(18,6) surface vs double — r7 judge
    # census latent type-flip), so the literal is rounded in Python and
    # cast to double, leaving no in-engine decimal anywhere.
    z_map = F.create_map(
        *[
            x
            for p in QQ_PROBS
            for x in (F.lit(p), F.lit(round(QQ_Z[p], 6)).cast("double"))
        ]
    )
    rows = agg.select(
        F.posexplode(F.array(*[F.lit(p) for p in QQ_PROBS])).alias("i", "p"),
        "qs",
        "mu",
        "sd",
    ).select(
        "p",
        z_map[F.col("p")].alias("z_theory"),
        # + 0.0 normalizes IEEE negative zero: at tiny n the p=0.5
        # interpolant can land an ulp below the rounded mean, and
        # DuckDB's round() preserves the sign (−0.0) while Spark's
        # doesn't (round-10 n=2 probe). x + 0.0 is the identity for
        # every other double in BOTH engines. nullif(sd, 0): a
        # zero-variance corpus (round-11 all-ties axis) has no
        # standardization — NULL, matching DuckDB's div-by-zero→NULL.
        (
            F.round(
                (F.expr("qs[i]") - F.col("mu"))
                / F.expr("nullif(sd, cast(0.0 as double))"),
                6,
            )
            + F.lit(0.0)
        ).alias("z_empirical"),
    )
    return rows.select(
        "p",
        "z_theory",
        "z_empirical",
        (
            F.round(F.col("z_empirical") - F.col("z_theory"), 6) + F.lit(0.0)
        ).alias("gap"),
    ).orderBy("p")


def stats_qq_normal_sql() -> str:
    probs = ", ".join(str(p) for p in QQ_PROBS)
    # Python-pre-rounded double literals, mirroring the Spark side (a
    # bare repr literal would parse as DECIMAL and round(decimal, 6)
    # surfaces as DECIMAL(18,6) vs Spark's double — r7 latent flip).
    zcase = " ".join(
        f"WHEN {p} THEN cast({round(QQ_Z[p], 6)!r} as double)"
        for p in QQ_PROBS
    )
    return f"""
    WITH agg AS (
        SELECT quantile_cont(o_totalprice, [{probs}]) AS qs,
               round(avg(o_totalprice), 6) AS mu,
               round(stddev_samp(o_totalprice), 6) AS sd
        FROM orders
    ), rows_ AS (
        SELECT u.i AS i, [{probs}][u.i]::DOUBLE AS p, qs, mu, sd
        FROM agg, unnest(generate_series(1, {len(QQ_PROBS)})) AS u(i)
    )
    SELECT p,
           CASE p {zcase} END AS z_theory,
           round((qs[i] - mu) / nullif(sd, 0.0), 6) + 0.0 AS z_empirical,
           round(round((qs[i] - mu) / nullif(sd, 0.0), 6) + 0.0
                 - CASE p {zcase} END, 6) + 0.0 AS gap
    FROM rows_ ORDER BY p
    """


def q_reconcile_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source reconciliation report — the system-A-vs-system-B
    audit every migration/CDC deployment runs: FULL OUTER join on the
    business key, then per-field agreement classified into
    matched / value-mismatch / A-only / B-only. Source B is a
    deterministic derivation of orders (keys %11 dropped, prices %7
    bumped, %13 keys re-keyed into a disjoint range), so the oracle
    replays the whole reconciliation. ONE key shuffle; field compares
    on ROUNDED values (repo float rule); counts are exact integers.
    """
    a = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round("o_totalprice", 6).alias("price_a"),
        F.col("o_orderstatus").alias("status_a"),
    )
    o = load_table(spark, sf_dir, "orders")
    b = o.where("o_orderkey % 11 <> 0").selectExpr(
        "CASE WHEN o_orderkey % 13 = 0 THEN o_orderkey + 100000000 "
        "ELSE o_orderkey END AS k",
        "round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05 "
        "ELSE o_totalprice END, 6) AS price_b",
        "o_orderstatus AS status_b",
    )
    j = a.join(b, "k", "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("price_a").isNull()).cast("int")).cast("bigint").alias("b_only"),
        F.sum((F.col("price_b").isNull()).cast("int")).cast("bigint").alias("a_only"),
        F.sum(
            (
                F.col("price_a").isNotNull()
                & F.col("price_b").isNotNull()
                & (F.col("price_a") == F.col("price_b"))
                & (F.col("status_a") == F.col("status_b"))
            ).cast("int")
        ).cast("bigint").alias("matched"),
        F.sum(
            (
                F.col("price_a").isNotNull()
                & F.col("price_b").isNotNull()
                & (F.col("price_a") != F.col("price_b"))
            ).cast("int")
        ).cast("bigint").alias("price_mismatch"),
        F.sum(
            (
                F.col("status_a").isNotNull()
                & F.col("status_b").isNotNull()
                & (F.col("status_a") != F.col("status_b"))
            ).cast("int")
        ).cast("bigint").alias("status_mismatch"),
    )


def q_reconcile_sources_sql() -> str:
    return """
    WITH a AS (
        SELECT o_orderkey AS k, round(o_totalprice, 6) AS price_a,
               o_orderstatus AS status_a
        FROM orders
    ), b AS (
        SELECT CASE WHEN o_orderkey % 13 = 0 THEN o_orderkey + 100000000
                    ELSE o_orderkey END AS k,
               round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05
                          ELSE o_totalprice END, 6) AS price_b,
               o_orderstatus AS status_b
        FROM orders WHERE o_orderkey % 11 <> 0
    ), j AS (
        SELECT * FROM a FULL OUTER JOIN b USING (k)
    )
    SELECT count(*)::BIGINT AS n_keys,
           sum((price_a IS NULL)::INT)::BIGINT AS b_only,
           sum((price_b IS NULL)::INT)::BIGINT AS a_only,
           sum((price_a IS NOT NULL AND price_b IS NOT NULL
                AND price_a = price_b AND status_a = status_b)::INT)::BIGINT
               AS matched,
           sum((price_a IS NOT NULL AND price_b IS NOT NULL
                AND price_a != price_b)::INT)::BIGINT AS price_mismatch,
           sum((status_a IS NOT NULL AND status_b IS NOT NULL
                AND status_a != status_b)::INT)::BIGINT AS status_mismatch
    FROM j
    """


ATTR_LOOKBACK_H = 24


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear marketing attribution: each purchase splits one unit of
    credit (and its value) equally across the user's clicks in the
    preceding 24 hours; the report rolls credited value up by the
    CLICK's hour-of-day — when does engagement actually convert?

    Scale shape: the purchase×click pairing is a (user, day-bucket)
    EQUIJOIN (each purchase probes its day and the previous day — a
    2-row metadata explode) with the Δt window as a post-join filter —
    the q_events_range_join discipline, never an unbounded per-user
    cross join. The CLICK side first collapses to distinct
    (user, second, hour) grain with a multiplicity count (the
    Mann-Whitney distinct-value discipline): identical clicks pair
    ONCE and re-expand by count in the aggregates, so the candidate
    pair set stays flat under duplicate explosion (100x-dup probe:
    2.5x -> ~1x). Per-purchase touch counts are one grouped agg;
    credit arithmetic uses exact integer epoch seconds and rounds
    once.
    """
    ep = (
        "datediff(cast(ts as date), date'1970-01-01') * 86400"
        " + hour(ts) * 3600 + minute(ts) * 60 + floor(second(ts))"
    )
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where("event_type = 'click'")
        .selectExpr(
            "user_id",
            f"cast({ep} as bigint) AS cs",
            "hour(ts) AS click_hour",
        )
        .groupBy("user_id", "cs", "click_hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    purch = ev.where("event_type = 'purchase'").selectExpr(
        "user_id",
        f"cast({ep} as bigint) AS ps",
        "event_id AS purchase_id",
        "value",
    )
    lb = ATTR_LOOKBACK_H * 3600
    pp = purch.select(
        "*", F.explode(F.expr(f"array(ps div {lb}, ps div {lb} - 1)")).alias("bkt")
    )
    cc = clicks.withColumn("bkt", F.expr(f"cs div {lb}"))
    # pairs feeds the touch counts AND the credit rollup —
    # unpinned, the bucket equijoin (and both event passes under
    # it) ran twice. Candidate-pair grain (bounded by the lookback
    # window): pin it; events is scanned twice total (clicks +
    # purchases).
    pairs = pp.join(cc, ["user_id", "bkt"]).where(
        (F.col("cs") < F.col("ps")) & (F.col("cs") >= F.col("ps") - lb)
    ).transform(pin)
    touches = pairs.groupBy("purchase_id").agg(
        F.sum("cnt").alias("n_touch")
    )
    credited = (
        pairs.join(touches, "purchase_id")
        .groupBy("click_hour")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_credits"),
            F.round(
                F.sum(F.col("value") / F.col("n_touch") * F.col("cnt")), 6
            ).alias("credited_value"),
        )
    )
    return credited.orderBy("click_hour")


def q_events_attribution_sql() -> str:
    lb = ATTR_LOOKBACK_H * 3600
    return f"""
    WITH clicks AS (
        SELECT user_id, floor(epoch(ts::TIMESTAMP))::BIGINT AS cs,
               event_id AS click_id, hour(ts::TIMESTAMP) AS click_hour
        FROM events WHERE event_type = 'click'
    ), purch AS (
        SELECT user_id, floor(epoch(ts::TIMESTAMP))::BIGINT AS ps,
               event_id AS purchase_id, value
        FROM events WHERE event_type = 'purchase'
    ), pairs AS (
        SELECT p.purchase_id, p.value, c.click_hour
        FROM purch p JOIN clicks c
          ON p.user_id = c.user_id
         AND c.cs < p.ps AND c.cs >= p.ps - {lb}
    ), touches AS (
        SELECT purchase_id, count(*)::BIGINT AS n_touch
        FROM pairs GROUP BY 1
    )
    SELECT click_hour, count(*)::BIGINT AS n_credits,
           round(sum(value / n_touch), 6) AS credited_value
    FROM pairs JOIN touches USING (purchase_id)
    GROUP BY click_hour ORDER BY click_hour
    """


def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: do two classifiers of the SAME orders
    differ in error pattern? Truth = order value above the (rounded)
    global median; classifier A predicts from basket size (≥4 line
    items), classifier B from order priority (urgent/high). The test
    reads ONLY the discordant counts b (A right, B wrong) and c — the
    right tool when both classifiers score the same rows (a two-sample
    test would ignore the pairing).

    One orders⋈lineitem count (fact shuffle), a 1-row median
    broadcast, then a single conditional-count collapse. Integers
    until the continuity-corrected chi²; the truth threshold compares
    ROUNDED values (repo float rule).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    li_cnt = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    med = F.broadcast(
        o.agg(F.expr("round(percentile(o_totalprice, 0.5), 6)").alias("med"))
    )
    j = (
        o.join(li_cnt, o.o_orderkey == li_cnt.l_orderkey)
        .crossJoin(med)
        .selectExpr(
            "round(o_totalprice, 6) > med AS truth",
            "n_items >= 4 AS pred_a",
            "o_orderpriority IN ('1-URGENT', '2-HIGH') AS pred_b",
        )
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("pred_a") == F.col("truth")).cast("int")).alias("ok_a"),
        F.sum((F.col("pred_b") == F.col("truth")).cast("int")).alias("ok_b"),
        F.sum(
            ((F.col("pred_a") == F.col("truth"))
             & (F.col("pred_b") != F.col("truth"))).cast("int")
        ).alias("b_disc"),
        F.sum(
            ((F.col("pred_a") != F.col("truth"))
             & (F.col("pred_b") == F.col("truth"))).cast("int")
        ).alias("c_disc"),
    )
    # acc_a/acc_b and the continuity-corrected chi2 =
    # (|b−c|−1)²/(b+c) are PURE integer rationals — integer-exact
    # HALF_UP (repo round-boundary rule).
    chi2p = (
        "(cast(abs(b_disc - c_disc) - 1 as decimal(38,0))"
        " * (abs(b_disc - c_disc) - 1))"
    )
    return agg.selectExpr(
        "n",
        "b_disc",
        "c_disc",
        f"{sp_rat6('ok_a', 'n')} AS acc_a",
        f"{sp_rat6('ok_b', 'n')} AS acc_b",
        f"{sp_rat6(chi2p, 'b_disc + c_disc')} AS mcnemar_chi2",
    )


def stats_mcnemar_sql() -> str:
    chi2p = (
        "((abs(b_disc - c_disc) - 1)::HUGEINT"
        " * (abs(b_disc - c_disc) - 1))"
    )
    return f"""
    WITH li_cnt AS (
        SELECT l_orderkey, count(*)::BIGINT AS n_items
        FROM lineitem GROUP BY 1
    ), med AS (
        SELECT round(quantile_cont(o_totalprice, 0.5), 6) AS med FROM orders
    ), j AS (
        SELECT round(o_totalprice, 6) > med AS truth,
               n_items >= 4 AS pred_a,
               o_orderpriority IN ('1-URGENT', '2-HIGH') AS pred_b
        FROM orders JOIN li_cnt ON o_orderkey = l_orderkey CROSS JOIN med
    ), agg AS (
        SELECT count(*)::BIGINT AS n,
               sum((pred_a = truth)::INT)::BIGINT AS ok_a,
               sum((pred_b = truth)::INT)::BIGINT AS ok_b,
               sum((pred_a = truth AND pred_b != truth)::INT)::BIGINT AS b_disc,
               sum((pred_a != truth AND pred_b = truth)::INT)::BIGINT AS c_disc
        FROM j
    )
    SELECT n, b_disc, c_disc,
           {dk_rat6('ok_a', 'n')} AS acc_a,
           {dk_rat6('ok_b', 'n')} AS acc_b,
           {dk_rat6(chi2p, 'b_disc + c_disc')} AS mcnemar_chi2
    FROM agg
    """


SKYLINE_BLOCKS = 64


def q_orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders on (cheaper price,
    more recent date): an order is on the frontier iff no other order
    is both cheaper-or-equal and strictly more recent — the
    multi-objective "best trade-offs" query optimizers and shoppers
    both run.

    For a 2-D skyline the frontier is one prefix-max sweep in price
    order, which this computes WITHOUT a global sort: the repo's
    two-level discipline — price range-blocks from a 1-row min/max
    broadcast, within-block running max of date, then a 64-row
    block-prefix table joined back. All comparisons on integer cents
    and days; ties on price keep the latest date only.
    """
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "cast(round(o_totalprice * 100) as bigint) AS cents",
        "datediff(o_orderdate, date'1970-01-01') AS days",
    )
    # b is consumed by BOTH the in-block window and the 64-row block
    # table, and each copy re-derived rng — 4 orders scans unpinned.
    # Pinning the 1-row range removes the duplicated min/max passes;
    # the two fact passes that remain (window + block max) are the
    # shape's floor without a fact-grain pin, which at 100 TB would
    # cost more than the narrow column-pruned rescan.
    rng = o.agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    ).transform(pin)
    b = o.crossJoin(F.broadcast(rng)).select(
        "o_orderkey",
        "cents",
        "days",
        (
            (F.col("cents") - F.col("mn"))
            * SKYLINE_BLOCKS
            / (F.col("mx") - F.col("mn") + 1)
        )
        .cast("bigint")
        .alias("blk"),
    )
    w_in = (
        Window.partitionBy("blk")
        .orderBy("cents", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    inb = b.withColumn("pmax_in", F.max("days").over(w_in))
    bt = b.groupBy("blk").agg(F.max("days").alias("blk_max"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    bt = bt.withColumn("off_max", F.max("blk_max").over(w_blk))
    j = inb.join(F.broadcast(bt.select("blk", "off_max")), "blk").select(
        "o_orderkey",
        "cents",
        "days",
        F.greatest(
            F.coalesce(F.col("pmax_in"), F.lit(-1)),
            F.coalesce(F.col("off_max"), F.lit(-1)),
        ).alias("prefix_max_days"),
    )
    return (
        j.where(F.col("days") > F.col("prefix_max_days"))
        .select("o_orderkey", "cents", "days")
        .orderBy("cents", "o_orderkey")
    )


def q_orders_skyline_sql() -> str:
    return """
    WITH o AS (
        SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents,
               datediff('day', DATE '1970-01-01', o_orderdate::DATE)::INT
                   AS days
        FROM orders
    ), swept AS (
        SELECT o_orderkey, cents, days,
               coalesce(max(days) OVER (ORDER BY cents, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                   AS prefix_max_days
        FROM o
    )
    SELECT o_orderkey, cents, days
    FROM swept WHERE days > prefix_max_days
    ORDER BY cents, o_orderkey
    """


SPECTRAL_PERIODS_H = [24, 12, 168]


def stats_spectral_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel-style single-frequency spectral power of the hourly
    event-count series at candidate periods (24 h, 12 h, weekly) — the
    cheap periodicity detector behind seasonality-aware anomaly
    baselines: power(T) = C(T)² + S(T)² with C = Σ x_t·cos(2πt/T),
    S = Σ x_t·sin(2πt/T).

    The corpus collapses to the HOURS-bounded count series first; each
    period is two trig-weighted sums over that bounded table (one
    grouped pass via a 3-row period explode). The mean is removed
    using a ROUNDED 1-row broadcast so both engines detrend on the
    identical constant; trig of integer hour indexes is bit-identical.
    """
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("h")
    idx = hourly.select(
        (F.row_number().over(w) - 1).alias("t"), F.col("c").cast("double").alias("x")
    )
    mu = F.broadcast(idx.agg(F.round(F.avg("x"), 6).alias("mu")))
    periods = ", ".join(str(p) for p in SPECTRAL_PERIODS_H)
    d = idx.crossJoin(mu).select(
        F.expr("x - mu").alias("xd"),
        "t",
        F.explode(F.expr(f"array({periods})")).alias("period_h"),
    )
    g = d.groupBy("period_h").agg(
        F.count(F.lit(1)).alias("n3"),
        F.sum(F.expr("xd * cos(2 * pi() * t / period_h)")).alias("cs"),
        F.sum(F.expr("xd * sin(2 * pi() * t / period_h)")).alias("sn"),
    )
    return g.selectExpr(
        "period_h",
        "cast(n3 as bigint) AS n_hours",
        "round((cs * cs + sn * sn) / n3, 2) AS power",
    ).orderBy("period_h")


def stats_spectral_peak_sql() -> str:
    periods = ", ".join(str(p) for p in SPECTRAL_PERIODS_H)
    return f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts::TIMESTAMP) AS h, count(*)::DOUBLE AS x
        FROM events GROUP BY 1
    ), idx AS (
        SELECT row_number() OVER (ORDER BY h) - 1 AS t, x FROM hourly
    ), mu AS (
        SELECT round(avg(x), 6) AS mu FROM idx
    ), d AS (
        SELECT x - mu AS xd, t, u.period_h
        FROM idx CROSS JOIN mu,
             unnest([{periods}]) AS u(period_h)
    ), g AS (
        SELECT period_h, count(*)::BIGINT AS n3,
               sum(xd * cos(2 * pi() * t / period_h)) AS cs,
               sum(xd * sin(2 * pi() * t / period_h)) AS sn
        FROM d GROUP BY 1
    )
    SELECT period_h, n3 AS n_hours,
           round((cs * cs + sn * sn) / n3, 2) AS power
    FROM g ORDER BY period_h
    """


XBAR_A2 = 0.577   # Shewhart constant for subgroup size 5
XBAR_D4 = 2.114
XBAR_D3 = 0.0
XBAR_N = 5


def stats_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X̄-R control chart over daily revenue in weekly
    subgroups of 5 business days: per-subgroup mean and range, grand
    center lines, A2/D3/D4 control limits, and the out-of-control
    counts — the SPC monitor that predates (and still outperforms)
    most anomaly detectors for drifting processes.

    DAYS-bounded collapse → subgroup id by integer division of the day
    index (two-level-free: the index is a calendar-bounded
    row_number) → subgroup agg → 1-row grand-means broadcast back.
    Limits compare ROUNDED values (repo float rule).
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    w = Window.orderBy("o_orderdate")
    sub = daily.select(
        "rev", ((F.row_number().over(w) - 1) / XBAR_N).cast("bigint").alias("g")
    )
    gstats = sub.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("rev"), 6).alias("xbar"),
        F.round(F.max("rev") - F.min("rev"), 6).alias("r"),
    ).where(F.col("n") == XBAR_N)
    grand = F.broadcast(
        gstats.agg(
            F.round(F.avg("xbar"), 6).alias("xbb"),
            F.round(F.avg("r"), 6).alias("rbar"),
        )
    )
    j = gstats.crossJoin(grand)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subgroups"),
        F.max("xbb").alias("x_center"),
        F.max("rbar").alias("r_center"),
        F.round(F.max(F.expr(f"xbb + {XBAR_A2} * rbar")), 6).alias("x_ucl"),
        F.round(F.max(F.expr(f"xbb - {XBAR_A2} * rbar")), 6).alias("x_lcl"),
        F.round(F.max(F.expr(f"{XBAR_D4} * rbar")), 6).alias("r_ucl"),
        F.sum(
            F.expr(
                f"CASE WHEN xbar > round(xbb + {XBAR_A2} * rbar, 6) "
                f"OR xbar < round(xbb - {XBAR_A2} * rbar, 6) "
                "THEN 1 ELSE 0 END"
            )
        ).cast("bigint").alias("x_violations"),
        F.sum(
            F.expr(f"CASE WHEN r > round({XBAR_D4} * rbar, 6) THEN 1 ELSE 0 END")
        ).cast("bigint").alias("r_violations"),
    )


def stats_control_chart_sql() -> str:
    return f"""
    WITH daily AS (
        SELECT o_orderdate, round(sum(o_totalprice), 6) AS rev
        FROM orders GROUP BY 1
    ), sub AS (
        SELECT rev,
               (row_number() OVER (ORDER BY o_orderdate) - 1) // {XBAR_N} AS g
        FROM daily
    ), gstats AS (
        SELECT g, count(*)::BIGINT AS n, round(avg(rev), 6) AS xbar,
               round(max(rev) - min(rev), 6) AS r
        FROM sub GROUP BY g
        HAVING count(*) = {XBAR_N}
    ), grand AS (
        SELECT round(avg(xbar), 6) AS xbb, round(avg(r), 6) AS rbar
        FROM gstats
    )
    SELECT count(*)::BIGINT AS n_subgroups,
           max(xbb) AS x_center,
           max(rbar) AS r_center,
           round(max(xbb + {XBAR_A2} * rbar), 6) AS x_ucl,
           round(max(xbb - {XBAR_A2} * rbar), 6) AS x_lcl,
           round(max({XBAR_D4} * rbar), 6) AS r_ucl,
           sum(CASE WHEN xbar > round(xbb + {XBAR_A2} * rbar, 6)
                    OR xbar < round(xbb - {XBAR_A2} * rbar, 6)
                    THEN 1 ELSE 0 END)::BIGINT AS x_violations,
           sum(CASE WHEN r > round({XBAR_D4} * rbar, 6)
                    THEN 1 ELSE 0 END)::BIGINT AS r_violations
    FROM gstats CROSS JOIN grand
    """


MOVMED_WINDOW = 7


def stats_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day MOVING MEDIAN of daily revenue — the robust smoother a
    spiky series needs where the moving average (stats_seasonal's
    trend) chases outliers; reported beside the mean so the gap column
    flags spike days directly.

    DAYS-bounded collapse, then percentile(…) as a WINDOW aggregate
    over a 7-row frame (full frames only) — certifying the
    exact-percentile-as-window-function rung; the frame has a fixed
    7-term order so the interpolation is bit-identical cross-engine.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 6).alias("rev"))
    )
    w = Window.orderBy("o_orderdate").rowsBetween(-3, 3)
    t = daily.select(
        "o_orderdate",
        "rev",
        F.round(F.expr("percentile(rev, 0.5)").over(w), 6).alias("med7"),
        F.round(F.avg("rev").over(w), 6).alias("avg7"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).where(F.col("wn") == MOVMED_WINDOW)
    return (
        t.select(
            F.substring(F.col("o_orderdate").cast("string"), 1, 10).alias("d"),
            "rev",
            "med7",
            "avg7",
            F.round(F.col("avg7") - F.col("med7"), 6).alias("spike_gap"),
        )
        .orderBy("d")
        .limit(200)
    )


def stats_moving_median_sql() -> str:
    return f"""
    WITH daily AS (
        SELECT o_orderdate, round(sum(o_totalprice), 6) AS rev
        FROM orders GROUP BY 1
    ), t AS (
        SELECT o_orderdate, rev,
               round(quantile_cont(rev, 0.5) OVER w, 6) AS med7,
               round(avg(rev) OVER w, 6) AS avg7,
               count(*) OVER w AS wn
        FROM daily
        WINDOW w AS (ORDER BY o_orderdate
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT substr(cast(o_orderdate as varchar), 1, 10) AS d, rev, med7, avg7,
           round(avg7 - med7, 6) AS spike_gap
    FROM t WHERE wn = {MOVMED_WINDOW}
    ORDER BY d LIMIT 200
    """


WINSOR_P = 0.05


def stats_winsorized_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means of order value at the 5% tails —
    the robust-location pair a reporting layer quotes next to the raw
    mean when whales distort it: winsorizing CLAMPS the tails to the
    cut points, trimming DROPS them.

    One exact two-quantile aggregate (1-row broadcast back), then a
    single conditional pass; tail membership compares ROUNDED values
    (repo float rule).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.round("o_totalprice", 6).alias("x")
    )
    cuts = F.broadcast(
        o.agg(
            F.expr(f"round(percentile(x, {WINSOR_P}), 6)").alias("lo"),
            F.expr(f"round(percentile(x, {1 - WINSOR_P}), 6)").alias("hi"),
        )
    )
    j = o.crossJoin(cuts)
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("lo").alias("cut_lo"),
        F.max("hi").alias("cut_hi"),
        F.round(F.avg("x"), 6).alias("raw_mean"),
        F.round(
            F.avg(F.expr("CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END")),
            6,
        ).alias("winsorized_mean"),
        F.round(
            F.avg(F.expr("CASE WHEN x >= lo AND x <= hi THEN x END")), 6
        ).alias("trimmed_mean"),
        F.sum(F.expr("CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_tail"),
    )


def stats_winsorized_trimmed_sql() -> str:
    return f"""
    WITH o AS (
        SELECT round(o_totalprice, 6) AS x FROM orders
    ), cuts AS (
        SELECT round(quantile_cont(x, {WINSOR_P}), 6) AS lo,
               round(quantile_cont(x, {1 - WINSOR_P}), 6) AS hi
        FROM o
    )
    SELECT count(*)::BIGINT AS n,
           max(lo) AS cut_lo,
           max(hi) AS cut_hi,
           round(avg(x), 6) AS raw_mean,
           round(avg(CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END), 6)
               AS winsorized_mean,
           round(avg(CASE WHEN x >= lo AND x <= hi THEN x END), 6)
               AS trimmed_mean,
           sum(CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END)::BIGINT AS n_tail
    FROM o CROSS JOIN cuts
    """


def stats_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA with interaction on event value over the
    (event_type × day-of-week) grid: does value depend on the type,
    the weekday, or specifically on their COMBINATION? The factorial
    generalization of stats_anova — its SS decomposition (SSA + SSB +
    SSAB + SSE) is what separates "purchases are bigger" from
    "purchases are bigger on Sundays".

    ONE pass of CELL-grain (type × dow — a bounded 5×7 grid) moments;
    margins and grand totals re-aggregate from the 35-row cell table;
    unbalanced cells use the standard weighted (Type-I-style
    sequential) sums. Integers/moments until the final F ratios, which
    round at 2 dp (squared-sum amplification, the stats_jarque_bera
    rule).

    NULL rule: an observation with a NULL factor level or NULL value is
    not a valid ANOVA observation — without the filter, Spark's inner
    margin join drops the NULL-type cells that the oracle's GROUP BY
    keeps (r5 NULL-injection find), and count(*) vs sum-skips-NULL
    makes the cell moments internally inconsistent.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            "value",
        )
    )
    cents = "cast(round(value * 100) as bigint)"
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.expr("value * value")).alias("q"),
        F.sum(F.expr(cents)).alias("sc"),
        F.sum(F.expr(f"cast({cents} as decimal(38,0)) * {cents}")).alias("qc"),
    # cells fans out to both margins and the grand totals — 3 events
    # scans unpinned. The 5x7 grid is bounded, so pin; the fact is
    # scanned once.
    ).transform(pin)
    ca = cells.groupBy("event_type").agg(
        F.sum("n").alias("na"), F.sum("s").alias("sa")
    )
    cb = cells.groupBy("dow").agg(F.sum("n").alias("nb"), F.sum("s").alias("sb"))
    tot = cells.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("event_type").alias("ka"),
        F.countDistinct("dow").alias("kb"),
        # EXACT within-cell variation discriminant (integer cents):
        # zero iff every cell's values tie — the float ss_e residue's
        # sign is engine-dependent at an all-ties corpus (round-11
        # axis) and was defining garbage F ratios on one engine only
        F.sum(
            F.expr(
                "cast(n as decimal(38,0)) * qc - cast(sc as decimal(38,0)) * sc"
            )
        ).alias("vw"),
        # cell raw SS lives in the same global agg as the other grand
        # totals (it only reads cell-grain columns): pulling constants
        # through max() over a cells-join instead left every tot field
        # NULL-not-0 on an empty corpus while the oracle's direct
        # global agg kept ka/kb/nc = 0 — the r11 empty-allowlist shape
        # retired by this formulation (which also drops two broadcast
        # joins the output never used).
        F.sum(F.expr("s * s / n")).alias("ss_cells_raw"),
    )
    agg = tot.withColumn(
        "cf", F.expr("st * st / nt")
    ).withColumnRenamed("n_cells", "nc")
    # marginal raw SS re-aggregated from the margin tables (1-row each)
    ssa = ca.agg(F.sum(F.expr("sa * sa / na")).alias("ssa_raw"))
    ssb = cb.agg(F.sum(F.expr("sb * sb / nb")).alias("ssb_raw"))
    out = agg.crossJoin(F.broadcast(ssa)).crossJoin(F.broadcast(ssb))
    ss_a = "(ssa_raw - cf)"
    ss_b = "(ssb_raw - cf)"
    ss_ab = "(ss_cells_raw - ssa_raw - ssb_raw + cf)"
    ss_e = "(qt - ss_cells_raw)"
    df_a = "(ka - 1.0)"
    df_b = "(kb - 1.0)"
    df_ab = "((ka - 1.0) * (kb - 1.0))"
    df_e = "(nt - nc)"
    # each F is undefined with a single level on its factor, no error
    # df, or zero within-cell variation (the stats_anova guard,
    # factorial form — round-10 single-row probe): NULL, not an ANSI
    # crash; identical guard both engines
    mse_ok = "(nt > nc AND vw > 0)"
    # + 0.0 normalizes IEEE −0.0: a degenerate grid leaves an SS as
    # round(−1e−18, 2), whose sign DuckDB's round keeps and Spark's
    # drops (round-10 n=3 probe); identity for every other double
    return out.selectExpr(
        "nt AS n_rows",
        "cast(ka as bigint) AS k_types",
        "cast(kb as bigint) AS k_dows",
        f"round({ss_a}, 2) + 0.0 AS ss_type",
        f"round({ss_b}, 2) + 0.0 AS ss_dow",
        f"round({ss_ab}, 2) + 0.0 AS ss_interaction",
        f"round({ss_e}, 2) + 0.0 AS ss_error",
        f"CASE WHEN ka >= 2 AND {mse_ok} THEN "
        f"round(({ss_a} / {df_a}) / ({ss_e} / {df_e}), 2) END AS f_type",
        f"CASE WHEN kb >= 2 AND {mse_ok} THEN "
        f"round(({ss_b} / {df_b}) / ({ss_e} / {df_e}), 2) END AS f_dow",
        f"CASE WHEN ka >= 2 AND kb >= 2 AND {mse_ok} THEN "
        f"round(({ss_ab} / {df_ab}) / ({ss_e} / {df_e}), 2) END"
        " AS f_interaction",
    )


def stats_two_way_anova_sql() -> str:
    ss_a = "(ssa_raw - cf)"
    ss_b = "(ssb_raw - cf)"
    ss_ab = "(ss_cells_raw - ssa_raw - ssb_raw + cf)"
    ss_e = "(qt - ss_cells_raw)"
    df_a = "(ka - 1.0)"
    df_b = "(kb - 1.0)"
    df_ab = "((ka - 1.0) * (kb - 1.0))"
    df_e = "(nt - nc)"
    return f"""
    WITH cells AS (
        SELECT event_type, dayofweek(ts::TIMESTAMP)::INT AS dow,
               count(*)::BIGINT AS n, sum(value) AS s,
               sum(value * value) AS q,
               sum(round(value * 100)::BIGINT)::BIGINT AS sc,
               sum(round(value * 100)::HUGEINT
                   * round(value * 100)::BIGINT) AS qc
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2
    ), tot AS (
        SELECT sum(n)::BIGINT AS nt, sum(s) AS st, sum(q) AS qt,
               count(*)::BIGINT AS nc,
               sum(n::HUGEINT * qc - sc::HUGEINT * sc) AS vw,
               count(DISTINCT event_type)::BIGINT AS ka,
               count(DISTINCT dow)::BIGINT AS kb,
               sum(s * s / n) AS ss_cells_raw
        FROM cells
    ), ma AS (
        SELECT sum(t.sa * t.sa / t.na) AS ssa_raw FROM (
            SELECT event_type, sum(n)::BIGINT AS na, sum(s) AS sa
            FROM cells GROUP BY 1) t
    ), mb AS (
        SELECT sum(t.sb * t.sb / t.nb) AS ssb_raw FROM (
            SELECT dow, sum(n)::BIGINT AS nb, sum(s) AS sb
            FROM cells GROUP BY 1) t
    ), x AS (
        SELECT nt, ka, kb, nc, st * st / nt AS cf, qt, vw, ss_cells_raw,
               ssa_raw, ssb_raw
        FROM tot CROSS JOIN ma CROSS JOIN mb
    )
    SELECT nt AS n_rows, ka AS k_types, kb AS k_dows,
           round({ss_a}, 2) + 0.0 AS ss_type,
           round({ss_b}, 2) + 0.0 AS ss_dow,
           round({ss_ab}, 2) + 0.0 AS ss_interaction,
           round({ss_e}, 2) + 0.0 AS ss_error,
           CASE WHEN ka >= 2 AND nt > nc AND vw > 0 THEN
               round(({ss_a} / {df_a}) / ({ss_e} / {df_e}), 2)
           END AS f_type,
           CASE WHEN kb >= 2 AND nt > nc AND vw > 0 THEN
               round(({ss_b} / {df_b}) / ({ss_e} / {df_e}), 2)
           END AS f_dow,
           CASE WHEN ka >= 2 AND kb >= 2 AND nt > nc AND vw > 0 THEN
               round(({ss_ab} / {df_ab}) / ({ss_e} / {df_e}), 2)
           END AS f_interaction
    FROM x
    """


def stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe/Levene homogeneity-of-variances test across event
    types — the gatekeeper assumption check BEFORE trusting stats_anova
    (classic ANOVA assumes equal variances): one-way ANOVA's F applied
    to the MEDIAN-centered absolute deviations z = |x − med_group|.

    Two K-bounded grouped passes (exact medians broadcast, then
    deviation moments) and arithmetic on the K-row table. The W
    statistic rounds at 2 dp (ratio-of-sums amplification, the
    stats_jarque_bera rule).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("round(percentile(value, 0.5), 6)").alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    # g fans out to tot and j — unpinned, the whole ev-join-med
    # subtree (2 events scans) duplicated, 4 scans total. K-bounded,
    # so pin; events is scanned twice (the exact-median two-pass
    # floor), not 4x.
    g = (
        z.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("z").alias("sz"),
            F.sum(F.expr("z * z")).alias("qz"),
        )
        .transform(pin)
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("sz").alias("st"),
        F.count(F.lit(1)).alias("k"),
    )
    j = g.crossJoin(F.broadcast(tot))
    agg = j.agg(
        F.max("nt").alias("nt"),
        F.max("k").alias("k"),
        F.sum(F.expr("sz * sz / n")).alias("ssb_raw"),
        F.max(F.expr("st * st / nt")).alias("cf"),
        F.sum("qz").alias("qt"),
    )
    w = (
        "(((ssb_raw - cf) / (k - 1.0)) "
        "/ ((qt - ssb_raw) / (nt - k)))"
    )
    # Levene needs >= 2 groups, more rows than groups, and nonzero
    # within-group deviation (round-9 degenerate-input probe): NULL
    # otherwise, not an ANSI crash; identical guard both engines
    pos = "(k >= 2 AND nt > k AND (qt - ssb_raw) > 0)"
    return agg.selectExpr(
        "nt AS n_rows",
        "cast(k as bigint) AS k_groups",
        f"CASE WHEN {pos} THEN round({w}, 2) END AS levene_w",
    )


def stats_levene_sql() -> str:
    w = (
        "(((ssb_raw - cf) / (k - 1.0)) "
        "/ ((qt - ssb_raw) / (nt - k)))"
    )
    return f"""
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY 1
    ), z AS (
        SELECT e.event_type, abs(e.value - m.med) AS z
        FROM events e JOIN med m USING (event_type)
    ), g AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(z) AS sz,
               sum(z * z) AS qz
        FROM z GROUP BY 1
    ), tot AS (
        SELECT sum(n)::BIGINT AS nt, sum(sz) AS st, count(*)::BIGINT AS k
        FROM g
    ), agg AS (
        SELECT max(nt) AS nt, max(k) AS k,
               sum(sz * sz / n) AS ssb_raw,
               max(st * st / nt) AS cf,
               sum(qz) AS qt
        FROM g CROSS JOIN tot
    )
    SELECT nt AS n_rows, k AS k_groups,
           CASE WHEN k >= 2 AND nt > k AND (qt - ssb_raw) > 0 THEN
               round({w}, 2) END AS levene_w
    FROM agg
    """


def stats_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (errors-in-both-variables) regression of daily revenue on
    daily order count — the fit OLS gets WRONG when the x-axis is noisy
    too (both are sampled daily measurements): with error-variance
    ratio δ=1 the slope is the closed form
    (syy − sxx + √((syy−sxx)² + 4·sxy²)) / (2·sxy) over centered
    moments. Reported beside the OLS slope so the attenuation bias is
    visible. One DAYS-bounded collapse + one moment pass; means are
    ROUNDED before centering (the stats_jarque_bera two-pass rule).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.count(F.lit(1)).cast("double").alias("x"),
            F.round(F.sum("o_totalprice"), 6).alias("y"),
        )
    )
    mu = F.broadcast(
        d.agg(
            F.round(F.avg("x"), 6).alias("mx"),
            F.round(F.avg("y"), 6).alias("my"),
        )
    )
    c = d.crossJoin(mu).selectExpr("(x - mx) AS dx", "(y - my) AS dy")
    agg = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("dx * dx")).alias("sxx"),
        F.sum(F.expr("dy * dy")).alias("syy"),
        F.sum(F.expr("dx * dy")).alias("sxy"),
    )
    deming = (
        "((syy - sxx + sqrt((syy - sxx) * (syy - sxx) "
        "+ 4 * sxy * sxy)) / (2 * sxy))"
    )
    # the closed form needs nonzero covariance (2·sxy denominator) and
    # OLS nonzero x-variation — a 1-day series has neither (round-10
    # single-row probe): NULL, not an ANSI crash; identical guard both
    # engines
    return agg.selectExpr(
        "n AS n_days",
        f"CASE WHEN sxy <> 0 THEN round({deming}, 2) END AS deming_slope",
        "CASE WHEN sxx > 0 THEN round(sxy / sxx, 2) END AS ols_slope",
        f"CASE WHEN sxy <> 0 AND sxx > 0 THEN "
        f"round({deming} - sxy / sxx, 2) END AS attenuation_gap",
    )


def stats_deming_regression_sql() -> str:
    deming = (
        "((syy - sxx + sqrt((syy - sxx) * (syy - sxx) "
        "+ 4 * sxy * sxy)) / (2 * sxy))"
    )
    return f"""
    WITH d AS (
        SELECT o_orderdate, count(*)::DOUBLE AS x,
               round(sum(o_totalprice), 6) AS y
        FROM orders GROUP BY 1
    ), mu AS (
        SELECT round(avg(x), 6) AS mx, round(avg(y), 6) AS my FROM d
    ), c AS (
        SELECT (x - mx) AS dx, (y - my) AS dy FROM d CROSS JOIN mu
    ), agg AS (
        SELECT count(*)::BIGINT AS n, sum(dx * dx) AS sxx,
               sum(dy * dy) AS syy, sum(dx * dy) AS sxy
        FROM c
    )
    SELECT n AS n_days,
           CASE WHEN sxy <> 0 THEN round({deming}, 2) END AS deming_slope,
           CASE WHEN sxx > 0 THEN round(sxy / sxx, 2) END AS ols_slope,
           CASE WHEN sxy <> 0 AND sxx > 0 THEN
               round({deming} - sxy / sxx, 2) END AS attenuation_gap
    FROM agg
    """


def q_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() dynamic-name binding (the injection-safe way to
    parameterize TABLE/COLUMN names, which ?-placeholders cannot do):
    the table name and the grouping column both arrive as string
    parameters and are bound through IDENTIFIER(:param) — certifying
    the rung beside q_parameterized_sql (value params) and
    q_sql_exec_immediate (statement templating).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_idf")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp_col) AS grp,
               count(*) AS n_orders,
               round(sum(o_totalprice), 6) AS revenue
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp_col)
        ORDER BY grp
        """,
        args={"tbl": "orders_idf", "grp_col": "o_orderstatus"},
    )


def q_sql_identifier_sql() -> str:
    return """
    SELECT o_orderstatus AS grp, count(*)::BIGINT AS n_orders,
           round(sum(o_totalprice), 6) AS revenue
    FROM orders GROUP BY 1 ORDER BY grp
    """


# --------------------------------------------------------------------------
# round-5 batch: K-group rank test / rank correlation / categorical effect
# size / inter-arrival profile / error-safe arithmetic surface
# --------------------------------------------------------------------------

def _event_type_rank_sums(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Per-event-type rank sums of the event values, for the K-group
    rank tests: (event_type, n_j, r_j) with r_j the sum of the group's
    average tie ranks, and a 1-row ``tie3`` = Σ(c³−c) over the
    distinct-value counts c.

    The corpus collapses to DISTINCT-VALUE counts in one shuffle
    (duplicate explosion invisible) and the cumulative below-count comes
    from ``below_sums`` (the two-level block prefix sum). Each r_j is an
    exact multiple of 0.5 (avg tie rank = below + (c+1)/2), so the
    tests' inputs are bit-identical in both engines.

    NULL rule: rank tests are undefined for NULL observations — NULL
    value or NULL type rows are dropped in BOTH engines.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value")
    )
    # tv feeds vc AND the per-group rank pass, and vc fans out to the
    # rank pass and the tie sum, so unpinned the events scan ran up to
    # 6x in one plan. tv is (event_type, value) grain — bounded by K
    # types x the quantized value lattice at any corpus size — so pin
    # it; the events fact is scanned ONCE and every downstream pass
    # re-reads the pin.
    tv = (
        ev.groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("cg"))
        .transform(pin)
    )
    vc = tv.groupBy("value").agg(F.sum("cg").alias("c"))
    ranked = below_sums(vc, "value", below=F.col("c")).select(
        "value",
        # avg tie rank: exact multiple of 0.5
        (
            F.col("below").cast("double")
            + (F.col("c").cast("double") + 1.0) / 2.0
        ).alias("avg_rank"),
    )
    grp = (
        tv.join(ranked, "value")
        .groupBy("event_type")
        .agg(
            F.sum("cg").alias("n_j"),
            F.sum(F.col("cg").cast("double") * F.col("avg_rank")).alias("r_j"),
        )
    )
    ties = vc.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie3")
    )
    return grp, ties


def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: do event values differ across ALL event types?
    The K-group generalization of stats_mann_whitney, sharing its scale
    discipline: the per-group rank sums R_j and the exact integer tie
    sum Σ(c³−c) come from ``_event_type_rank_sums``, so H's inputs are
    bit-identical in both engines.
    """
    grp, ties = _event_type_rank_sums(spark, sf_dir)
    agg = grp.agg(
        F.sum("n_j").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.expr("r_j * r_j / cast(n_j as double)")).alias("s_rr"),
    ).crossJoin(F.broadcast(ties))
    h_raw = "(12.0 / (n * (n + 1.0)) * s_rr - 3.0 * (n + 1.0))"
    corr = "(1.0 - tie3 / cast(n * n * n - n as double))"
    # the tie correction divides by n^3 - n (zero at n = 1) and is
    # itself zero when EVERY observation ties: H emits NULL there, not
    # an ANSI crash; the corr > 0 check nests inside the n-guard so
    # n^3 - n never evaluates at n = 1
    h_guard = f"CASE WHEN n >= 2 THEN CASE WHEN {corr} > 0 THEN"
    return agg.selectExpr(
        "cast(n as bigint) AS n_obs",
        "cast(k as bigint) AS k_groups",
        f"round({h_raw}, 6) AS h_uncorrected",
        f"{h_guard} round({h_raw} / {corr}, 6) END END AS h_stat",
    )


def stats_kruskal_wallis_sql() -> str:
    h_raw = "(12.0 / (n * (n + 1.0)) * s_rr - 3.0 * (n + 1.0))"
    corr = "(1.0 - tie3 / cast(n * n * n - n AS DOUBLE))"
    return f"""
    WITH ev AS (
        SELECT event_type, value FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), tv AS (
        SELECT event_type, value, count(*)::BIGINT AS cg
        FROM ev GROUP BY 1, 2
    ), vc AS (
        SELECT value, sum(cg)::BIGINT AS c FROM tv GROUP BY 1
    ), ranked AS (
        SELECT value, c,
               coalesce(sum(c) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
               + (c::DOUBLE + 1.0) / 2.0 AS avg_rank
        FROM vc
    ), grp AS (
        SELECT event_type, sum(cg)::BIGINT AS n_j,
               sum(cg::DOUBLE * avg_rank) AS r_j
        FROM tv JOIN ranked USING (value)
        GROUP BY event_type
    ), ties AS (
        SELECT sum(c * c * c - c)::BIGINT AS tie3 FROM vc
    ), agg AS (
        SELECT sum(n_j)::BIGINT AS n, count(*)::BIGINT AS k,
               sum(r_j * r_j / n_j::DOUBLE) AS s_rr
        FROM grp
    )
    SELECT n AS n_obs, k AS k_groups,
           round({h_raw}, 6) AS h_uncorrected,
           CASE WHEN n >= 2 THEN CASE WHEN {corr} > 0 THEN
               round({h_raw} / {corr}, 6) END END AS h_stat
    FROM agg CROSS JOIN ties
    """


def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between daily order volume and daily revenue —
    the concordance-based sibling of stats_spearman_daily (robust to
    monotone transforms, different tie treatment). The fact table
    collapses to the DAYS-bounded calendar grain first (one shuffle);
    the O(D²) day-pair comparison runs on that bounded dimension (a
    deliberate non-equi self-join — ~2.4k days a decade, 3M pairs,
    metadata-scale at any corpus size). Revenue compares on exact
    integer cents; concordant/discordant/tie counts stay integers until
    the final ratio, which both engines evaluate from identical inputs.
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"),
        )
    )
    a = d.select(
        F.col("o_orderdate").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    bb = d.select(
        F.col("o_orderdate").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(bb, F.col("da") < F.col("db"))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(
            (
                ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
                | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb")))
            ).cast("bigint")
        ).alias("nc"),
        F.sum(
            (
                ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
                | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb")))
            ).cast("bigint")
        ).alias("nd"),
        F.sum(
            ((F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb"))).cast(
                "bigint"
            )
        ).alias("tx"),
        F.sum(
            ((F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb"))).cast(
                "bigint"
            )
        ).alias("ty"),
        F.sum(
            ((F.col("xa") == F.col("xb")) & (F.col("ya") == F.col("yb"))).cast(
                "bigint"
            )
        ).alias("txy"),
    )
    tau = (
        "(nc - nd) / sqrt((n0 - (tx + txy)) * cast(n0 - (ty + txy) as double))"
    )
    # tau-b is undefined when EVERY pair ties on x (or on y) — exact
    # integer guard (round-10 n=2 probe): NULL, not an ANSI crash
    return agg.selectExpr(
        "n0 AS n_pairs",
        "nc AS n_concordant",
        "nd AS n_discordant",
        f"CASE WHEN n0 > tx + txy AND n0 > ty + txy THEN "
        f"round({tau}, 6) END AS tau_b",
    )


def stats_kendall_tau_sql() -> str:
    tau = "(nc - nd) / sqrt((n0 - (tx + txy)) * cast(n0 - (ty + txy) AS DOUBLE))"
    return f"""
    WITH d AS (
        SELECT o_orderdate, count(*)::BIGINT AS x,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        FROM orders GROUP BY 1
    ), agg AS (
        SELECT count(*)::BIGINT AS n0,
               sum(((a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y))::INT)::BIGINT AS nc,
               sum(((a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y))::INT)::BIGINT AS nd,
               sum((a.x = b.x AND a.y <> b.y)::INT)::BIGINT AS tx,
               sum((a.y = b.y AND a.x <> b.x)::INT)::BIGINT AS ty,
               sum((a.x = b.x AND a.y = b.y)::INT)::BIGINT AS txy
        FROM d a JOIN d b ON a.o_orderdate < b.o_orderdate
    )
    SELECT n0 AS n_pairs, nc AS n_concordant, nd AS n_discordant,
           CASE WHEN n0 > tx + txy AND n0 > ty + txy THEN
               round({tau}, 6) END AS tau_b
    FROM agg
    """


def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (+ the Bergsma bias-corrected variant) for the
    o_orderpriority × o_orderstatus contingency — the EFFECT SIZE next
    to stats_chi_square's significance: how strong is the association,
    on a 0-1 scale comparable across table shapes.

    Same bounded-grid discipline: one fact shuffle to cells, margins
    and χ² by re-aggregating the |priorities|×|statuses| cell table
    (dense grid so zero cells contribute), integers until the final
    ratios, which both engines compute from identical inputs.

    NULL rule: rows with a NULL level in either factor are excluded in
    both engines (a NULL level is a missing observation, not a
    category).
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderpriority").isNotNull() & F.col("o_orderstatus").isNotNull()
        )
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("o"))
        # cells fans out to rowt/colt/tot/dense — 4 orders scans
        # unpinned. The |priorities|x|statuses| grid is bounded, so
        # pin; the fact is scanned once.
        .transform(pin)
    )
    rowt = cells.groupBy("o_orderpriority").agg(F.sum("o").alias("rt"))
    colt = cells.groupBy("o_orderstatus").agg(F.sum("o").alias("ct"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("o_orderpriority").alias("r"),
        F.countDistinct("o_orderstatus").alias("c"),
    )
    dense = (
        rowt.crossJoin(F.broadcast(colt))
        .join(F.broadcast(cells), ["o_orderpriority", "o_orderstatus"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    chi2 = dense.agg(
        F.max("n").alias("n"),
        F.max("r").alias("r"),
        F.max("c").alias("c"),
        F.sum(
            F.expr(
                "(o - rt * cast(ct as double) / n) * (o - rt * cast(ct as double) / n)"
                " / (rt * cast(ct as double) / n)"
            )
        ).alias("chi2"),
    )
    # Bergsma correction: phi2~ = max(0, phi2 - (r-1)(c-1)/(n-1)),
    # r~ = r - (r-1)^2/(n-1), c~ = c - (c-1)^2/(n-1)
    phi2 = "(chi2 / n)"
    phi2t = f"greatest(0.0, {phi2} - (r - 1.0) * (c - 1.0) / (n - 1.0))"
    rt_ = "(r - (r - 1.0) * (r - 1.0) / (n - 1.0))"
    ct_ = "(c - (c - 1.0) * (c - 1.0) / (n - 1.0))"
    # V needs a real 2x2+ table and n >= 2 (round-9 degenerate-input
    # probe); the bias-corrected form additionally needs its shrunken
    # dimension terms to stay positive — NULL otherwise, not an ANSI
    # DIVIDE_BY_ZERO / sqrt-domain crash (identical guards both engines)
    vpos = "(n >= 2 AND r >= 2 AND c >= 2)"
    cpos = f"({vpos} AND least({rt_} - 1.0, {ct_} - 1.0) > 0)"
    return chi2.selectExpr(
        "cast(n as bigint) AS n_obs",
        "cast(r as bigint) AS n_priorities",
        "cast(c as bigint) AS n_statuses",
        "round(chi2, 6) AS chi2",
        f"CASE WHEN {vpos} THEN"
        f" round(sqrt({phi2} / least(r - 1.0, c - 1.0)), 6) END AS cramers_v",
        f"CASE WHEN {cpos} THEN"
        f" round(sqrt({phi2t} / least({rt_} - 1.0, {ct_} - 1.0)), 6) END"
        " AS cramers_v_corrected",
    )


def stats_cramers_v_sql() -> str:
    phi2 = "(chi2 / n)"
    phi2t = f"greatest(0.0, {phi2} - (r - 1.0) * (c - 1.0) / (n - 1.0))"
    rt_ = "(r - (r - 1.0) * (r - 1.0) / (n - 1.0))"
    ct_ = "(c - (c - 1.0) * (c - 1.0) / (n - 1.0))"
    return f"""
    WITH base AS (
        SELECT o_orderpriority, o_orderstatus FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
    ), cells AS (
        SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS o
        FROM base GROUP BY 1, 2
    ), rowt AS (
        SELECT o_orderpriority, sum(o)::BIGINT AS rt FROM cells GROUP BY 1
    ), colt AS (
        SELECT o_orderstatus, sum(o)::BIGINT AS ct FROM cells GROUP BY 1
    ), tot AS (
        SELECT sum(o)::BIGINT AS n,
               count(DISTINCT o_orderpriority)::BIGINT AS r,
               count(DISTINCT o_orderstatus)::BIGINT AS c
        FROM cells
    ), dense AS (
        SELECT rowt.rt, colt.ct, coalesce(cells.o, 0)::BIGINT AS o, tot.n,
               tot.r, tot.c
        FROM rowt CROSS JOIN colt
        LEFT JOIN cells USING (o_orderpriority, o_orderstatus)
        CROSS JOIN tot
    ), x AS (
        SELECT max(n)::BIGINT AS n, max(r)::BIGINT AS r, max(c)::BIGINT AS c,
               sum((o - rt * ct::DOUBLE / n) * (o - rt * ct::DOUBLE / n)
                   / (rt * ct::DOUBLE / n)) AS chi2
        FROM dense
    )
    SELECT n AS n_obs, r AS n_priorities, c AS n_statuses,
           round(chi2, 6) AS chi2,
           CASE WHEN n >= 2 AND r >= 2 AND c >= 2 THEN
               round(sqrt({phi2} / least(r - 1.0, c - 1.0)), 6)
           END AS cramers_v,
           CASE WHEN n >= 2 AND r >= 2 AND c >= 2
                    AND least({rt_} - 1.0, {ct_} - 1.0) > 0 THEN
               round(sqrt({phi2t} / least({rt_} - 1.0, {ct_} - 1.0)), 6)
           END AS cramers_v_corrected
    FROM x
    """


def q_events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival profile over each user's stream:
    the gap distribution (count / mean / p50 / p95 in seconds) between
    a user's consecutive events of the same type — the traffic-shape
    diagnostic behind rate limits, session gap tuning, and burst
    detection thresholds.

    ONE (user, type) shuffle carries the lag window; gaps are exact
    integer microseconds (no float until the final divisions); the
    percentile runs per TYPE on the gap rows (bounded group count).
    NULL event_type rows are excluded in both engines (no stream to
    belong to).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.expr(sp_epoch_us("ts")).alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    gaps = ev.withColumn("gap_us", F.col("us") - F.lag("us").over(w)).where(
        F.col("gap_us").isNotNull()
    )
    # mean/percentile outputs are integer rationals: the mean is
    # Σgap_us/(n·1e6); percentile(p=k/20) linearly interpolates on the
    # integer micro grid so 2·p50 and 20·p95 are exact integers — all
    # three go through the integer-exact HALF_UP helper (repo
    # round-boundary rule; a .5-micro median is EXACTLY the class).
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_us").alias("sum_gap_us"),
            F.expr(
                "cast(round(percentile(gap_us, 0.5) * 2) as bigint)"
            ).alias("p50_2us"),
            F.expr(
                "cast(round(percentile(gap_us, 0.95) * 20) as bigint)"
            ).alias("p95_20us"),
        )
        .select(
            "event_type",
            "n_gaps",
            F.expr(sp_rat6("sum_gap_us", "n_gaps * 1000000")).alias("mean_gap_s"),
            F.expr(sp_rat6("p50_2us", "2000000")).alias("p50_gap_s"),
            F.expr(sp_rat6("p95_20us", "20000000")).alias("p95_gap_s"),
        )
        .orderBy("event_type")
    )


def q_events_inter_arrival_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, event_type, event_id,
               epoch_us(ts::TIMESTAMP) AS us
        FROM events WHERE event_type IS NOT NULL
    ), g AS (
        SELECT event_type,
               us - lag(us) OVER (PARTITION BY user_id, event_type
                                  ORDER BY us, event_id) AS gap_us
        FROM ev
    ), agg AS (
        SELECT event_type, count(*)::BIGINT AS n_gaps,
               sum(gap_us)::BIGINT AS sum_gap_us,
               round(quantile_cont(gap_us, 0.5) * 2)::BIGINT AS p50_2us,
               round(quantile_cont(gap_us, 0.95) * 20)::BIGINT AS p95_20us
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           {dk_rat6('sum_gap_us', 'n_gaps * 1000000')} AS mean_gap_s,
           {dk_rat6('p50_2us', '2000000')} AS p50_gap_s,
           {dk_rat6('p95_20us', '20000000')} AS p95_gap_s
    FROM agg ORDER BY event_type
    """


def q_sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The error-safe expression surface (try_divide / try_cast /
    try_element_at) under ANSI mode — the semantics a production
    pipeline needs so one malformed row degrades to NULL instead of
    killing a 100 TB job (ANSI divide/cast THROW; the try_ family is
    the per-expression opt-out). Certified against DuckDB, whose
    division and TRY_CAST return NULL on the same inputs.

    Per order-priority: rows whose price/(quantity-25) hits the zero
    divisor, rows whose priority prefix fails a numeric cast, and a
    try_element_at past the array end — each counted and aggregated,
    so the NULL-on-error semantics are value-certified, not assumed.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_linenumber"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.expr("try_divide(l_extendedprice, l_quantity - 25)").alias("unit25"),
        F.expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").alias("prio_num"),
        F.expr(
            "try_element_at(array(l_linenumber, l_linenumber * 2), 3)"
        ).alias("past_end"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("unit25").isNull().cast("bigint")).alias("n_div_zero"),
            F.round(F.sum("unit25"), 2).alias("sum_unit25"),
            F.max("prio_num").alias("prio_num"),
            F.sum(F.col("past_end").isNull().cast("bigint")).alias("n_past_end"),
        )
        .orderBy("o_orderpriority")
    )


def q_sql_try_arithmetic_sql() -> str:
    return """
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_lines,
           sum((l_extendedprice / nullif(l_quantity - 25, 0) IS NULL)::INT)::BIGINT
               AS n_div_zero,
           round(sum(l_extendedprice / nullif(l_quantity - 25, 0)), 2)
               AS sum_unit25,
           max(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)) AS prio_num,
           count(*)::BIGINT AS n_past_end
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


# --------------------------------------------------------------------------
# round-5 second batch: trend test / long-memory exponent / ABC analysis /
# latest-per-key surface
# --------------------------------------------------------------------------

def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on daily revenue — "is revenue
    drifting?" without assuming linearity or normality (the hypothesis
    test beside stats_theil_sen's slope ESTIMATE). S = Σ sign(y_j − y_i)
    over day pairs; tie-corrected variance; continuity-corrected z.

    Scale shape: the fact table collapses to the DAYS-bounded calendar
    grain first (one shuffle, revenue in exact integer cents), the
    O(D²) pair comparison runs on that bounded dimension (same
    deliberate non-equi self-join as stats_kendall_tau), and S / tie
    terms stay integers until the final ratio.
    """
    # d fans out to BOTH pair sides, the n count and the tie table —
    # unpinned, the orders fact scanned 4x in one plan. d is
    # DAYS-bounded (calendar grain at any corpus size), so pin it; the
    # fact is scanned once.
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
        )
        .transform(pin)
    )
    a = d.select(F.col("o_orderdate").alias("da"), F.col("y").alias("ya"))
    b = d.select(F.col("o_orderdate").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(F.signum(F.col("yb") - F.col("ya")).cast("bigint")).alias(
                "s_stat"
            )
        )
    )
    n_t = d.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        d.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    out = s.crossJoin(F.broadcast(n_t)).crossJoin(F.broadcast(ties))
    # var_s = (n(n−1)(2n+5) − tie)/18 is a PURE integer rational —
    # integer-exact HALF_UP (rendered-SQL lint, round 7); z is
    # +,−,÷,sqrt over bit-identical integer operands, emitted RAW
    # (functions/exact.py raw-emission policy).
    var_p = "(cast(n as decimal(38,0)) * (n - 1) * (2 * n + 5) - tie_term)"
    var_d = f"(cast({var_p} as double) / 18.0)"
    z = (
        f"CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt({var_d}) "
        f"WHEN s_stat < 0 THEN (s_stat + 1) / sqrt({var_d}) ELSE 0.0 END"
    )
    return out.selectExpr(
        "n AS n_days",
        "s_stat",
        f"{sp_rat6(var_p, '18')} AS var_s",
        f"{z} AS z",
    )


def stats_mann_kendall_sql() -> str:
    var_p = "(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tie_term)"
    var_d = f"(({var_p})::DOUBLE / 18.0)"
    z = (
        f"CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt({var_d}) "
        f"WHEN s_stat < 0 THEN (s_stat + 1) / sqrt({var_d}) ELSE 0.0 END"
    )
    return f"""
    WITH d AS (
        SELECT o_orderdate, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        FROM orders GROUP BY 1
    ), s AS (
        SELECT sum(sign(b.y - a.y))::BIGINT AS s_stat
        FROM d a JOIN d b ON a.o_orderdate < b.o_orderdate
    ), nt AS (
        SELECT count(*)::BIGINT AS n FROM d
    ), ties AS (
        SELECT sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term FROM (
            SELECT count(*)::BIGINT AS t FROM d GROUP BY y)
    )
    SELECT n AS n_days, s_stat,
           {dk_rat6(var_p, '18')} AS var_s,
           {z} AS z
    FROM s CROSS JOIN nt CROSS JOIN ties
    """


HURST_BLOCKS = [8, 16, 32]  # R/S window sizes (complete blocks only)


def stats_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue via classic rescaled-range (R/S)
    analysis: H > 0.5 means persistent long-memory demand, H < 0.5
    anti-persistent mean reversion — the long-range-dependence
    diagnostic behind capacity planning and anomaly baselines.

    Per block size m ∈ {8,16,32}: consecutive COMPLETE m-day blocks,
    cumulative deviation from the block mean, R = range of that walk,
    S = population σ, avg(R/S) per m; H = OLS slope of ln(avg R/S) on
    ln(m) over the three points. Every window is (m, block)-partitioned
    on the DAYS-bounded grain; the day index is ONE bounded global
    row_number (calendar dimension); integer cents in, identical double
    expressions out (3-point closed-form OLS on a 1-row table).
    """
    mdf = spark.createDataFrame([(m,) for m in HURST_BLOCKS], "m int")
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
        )
        .withColumn("idx", F.row_number().over(Window.orderBy("o_orderdate")))
    )
    g = d.crossJoin(F.broadcast(mdf)).withColumn(
        "blk", F.expr("cast((idx - 1) div m as int)")
    )
    wb = Window.partitionBy("m", "blk")
    wcum = (
        Window.partitionBy("m", "blk")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = (
        g.withColumn("bn", F.count(F.lit(1)).over(wb))
        .where(F.col("bn") == F.col("m"))
        .withColumn("mean", F.avg(F.col("y").cast("double")).over(wb))
        .withColumn("t", F.row_number().over(Window.partitionBy("m", "blk").orderBy("idx")))
        .withColumn(
            "z",
            F.sum(F.col("y").cast("double")).over(wcum)
            - F.col("t") * F.col("mean"),
        )
    )
    blocks = g.groupBy("m", "blk").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.sqrt(
            F.avg(
                (F.col("y").cast("double") - F.col("mean"))
                * (F.col("y").cast("double") - F.col("mean"))
            )
        ).alias("s"),
    )
    per_m = (
        blocks.where(F.col("s") > 0)
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.avg(F.col("r") / F.col("s")).alias("rs"),
        )
        .select("m", "n_blocks", F.log("rs").alias("ly"), F.log("m").alias("lx"))
    )
    fit = per_m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("n_blocks")).alias("n_blocks_total"),
    )
    return fit.selectExpr(
        "n_blocks_total",
        "cast(k as bigint) AS n_scales",
        "round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS hurst",
    )


def stats_hurst_exponent_sql() -> str:
    ms = ", ".join(f"({m})" for m in HURST_BLOCKS)
    return f"""
    WITH mdf(m) AS (VALUES {ms}),
    d AS (
        SELECT o_orderdate, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y,
               row_number() OVER (ORDER BY o_orderdate) AS idx
        FROM orders GROUP BY o_orderdate
    ), g AS (
        SELECT m, ((idx - 1) // m)::INT AS blk, idx, y FROM d CROSS JOIN mdf
    ), full_blocks AS (
        SELECT m, blk, idx, y,
               count(*) OVER (PARTITION BY m, blk) AS bn,
               avg(y::DOUBLE) OVER (PARTITION BY m, blk) AS mean,
               row_number() OVER (PARTITION BY m, blk ORDER BY idx) AS t,
               sum(y::DOUBLE) OVER (PARTITION BY m, blk ORDER BY idx
                   ROWS UNBOUNDED PRECEDING) AS cy
        FROM g
    ), zz AS (
        SELECT m, blk, y, mean, cy - t * mean AS z
        FROM full_blocks WHERE bn = m
    ), blocks AS (
        SELECT m, blk, max(z) - min(z) AS r,
               sqrt(avg((y::DOUBLE - mean) * (y::DOUBLE - mean))) AS s
        FROM zz GROUP BY 1, 2
    ), per_m AS (
        SELECT m, count(*)::BIGINT AS n_blocks, ln(avg(r / s)) AS ly,
               ln(m) AS lx
        FROM blocks WHERE s > 0 GROUP BY m
    ), fit AS (
        SELECT count(*)::BIGINT AS k, sum(lx) AS sx, sum(ly) AS sy,
               sum(lx * ly) AS sxy, sum(lx * lx) AS sxx,
               sum(n_blocks)::BIGINT AS n_blocks_total
        FROM per_m
    )
    SELECT n_blocks_total, k AS n_scales,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS hurst
    FROM fit
    """


ABC_CUT_A_PERMILLE = 700   # class A: cumulative share <= 70.0%
ABC_CUT_B_PERMILLE = 900   # class B: <= 90.0%


def q_orders_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification of parts by revenue:
    parts ranked by revenue, class A = parts inside the top 70% of
    cumulative revenue, B to 90%, C the tail — the warehouse-ops
    primitive behind stocking policies and slow-mover audits.

    The cumulative-revenue rank NEVER runs as a global window over the
    part dimension (it scales with the corpus): the repo's two-level
    prefix-sum discipline ranges parts into 1024 revenue blocks off a
    1-row min/max broadcast, cumulates within blocks (desc revenue,
    partkey tiebreak), and joins the ≤1024-row block-offset table back.
    Class boundaries compare EXACT integer products (cum*1000 vs
    total*cut) — no float share crosses an inequality.
    """
    # pr feeds rng, tot AND the block pass (which itself fans out to the
    # block-offset side) — unpinned, the lineitem scan + part-grain
    # aggregation ran 5x in one plan. Pin the part-grain table: the fact
    # is scanned ONCE and the range/total/block passes re-read the
    # (|parts|-sized) pin.
    pr = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.expr("l_extendedprice * (1 - l_discount)") * 100
                ).cast("bigint")
            ).alias("cents")
        )
        .transform(pin)
    )
    rng = pr.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    b = pr.crossJoin(F.broadcast(rng)).withColumn(
        "blk",
        F.least(
            F.lit(1023),
            F.floor(
                (F.col("mx") - F.col("cents")).cast("double")
                / (F.col("mx") - F.col("mn") + F.lit(1)).cast("double")
                * 1024
            ),
        ).cast("int"),
    )
    w_in = (
        Window.partitionBy("blk")
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = b.withColumn("cum_in", F.sum("cents").over(w_in))
    bt = b.groupBy("blk").agg(F.sum("cents").alias("blk_cents"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    bt = bt.withColumn("off", F.coalesce(F.sum("blk_cents").over(w_blk), F.lit(0)))
    tot = pr.agg(F.sum("cents").alias("total"))
    j = (
        b.join(F.broadcast(bt.select("blk", "off")), "blk")
        .crossJoin(F.broadcast(tot))
        .withColumn("cum", F.col("off") + F.col("cum_in"))
        .withColumn(
            "abc",
            F.when(
                F.col("cum") * 1000 <= F.col("total") * ABC_CUT_A_PERMILLE, "A"
            )
            .when(
                F.col("cum") * 1000 <= F.col("total") * ABC_CUT_B_PERMILLE, "B"
            )
            .otherwise("C"),
        )
    )
    return (
        j.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("revenue_cents"),
            F.expr("cast(sum(cents) * 1000 div max(total) as bigint)").alias(
                "share_permille"
            ),
        )
        .orderBy("abc")
    )


def q_orders_abc_class_sql() -> str:
    return f"""
    WITH pr AS (
        SELECT l_partkey,
               sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
                   AS cents
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT sum(cents)::BIGINT AS total FROM pr
    ), c AS (
        SELECT l_partkey, cents,
               sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM pr
    ), cls AS (
        SELECT cents,
               CASE WHEN cum * 1000 <= total * {ABC_CUT_A_PERMILLE} THEN 'A'
                    WHEN cum * 1000 <= total * {ABC_CUT_B_PERMILLE} THEN 'B'
                    ELSE 'C' END AS abc,
               total
        FROM c CROSS JOIN tot
    )
    SELECT abc, count(*)::BIGINT AS n_parts,
           sum(cents)::BIGINT AS revenue_cents,
           (sum(cents) * 1000 // max(total))::BIGINT AS share_permille
    FROM cls GROUP BY abc ORDER BY abc
    """


def q_events_latest_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest/earliest row per key via the max_by/min_by aggregate
    surface — the "current state per entity" primitive (SCD snapshots,
    sessionless personalization) expressed WITHOUT a rank window:
    max_by is a one-pass map-side-combinable aggregate, the right shape
    when only the newest row per key is wanted from a 100 TB log.

    Determinism under timestamp ties: events first collapse to UNIQUE
    (user, microsecond) keys — same-instant rows fold by min(struct)
    on the unique event_id — so the max_by/min_by ordering key is
    tie-free and the oracle's arg_max/arg_min replay exactly.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(sp_epoch_us("ts")).alias("us"),
        F.struct("event_id", "event_type", "value").alias("row"),
    )
    uniq = ev.groupBy("user_id", "us").agg(
        F.min("row").alias("row"), F.count(F.lit(1)).alias("n")
    )
    # max_by/min_by take the WHOLE struct (never NULL even when its
    # fields are), then project: per-field max_by calls would silently
    # skip a NULL field at the latest timestamp and tear the matched
    # row apart (Spark max_by ignores NULL values — r5 injection find)
    return (
        uniq.groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.expr("max_by(row, us)").alias("last"),
            F.expr("min_by(row, us)").alias("first"),
            ((F.max("us") - F.min("us")) / F.lit(1e6)).alias("span_raw"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("last.event_type").alias("last_type"),
            F.round(F.col("last.value"), 6).alias("last_value"),
            F.col("first.event_type").alias("first_type"),
            F.round("span_raw", 6).alias("span_s"),
        )
        .orderBy("user_id")
    )


def q_events_latest_by_sql() -> str:
    return """
    WITH ev AS (
        SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
               {'event_id': event_id, 'event_type': event_type,
                'value': value} AS row
        FROM events
    ), uniq AS (
        SELECT user_id, us, min(row) AS row, count(*)::BIGINT AS n
        FROM ev GROUP BY 1, 2
    )
    SELECT user_id, sum(n)::BIGINT AS n_events,
           arg_max(row, us).event_type AS last_type,
           round(arg_max(row, us).value, 6) AS last_value,
           arg_min(row, us).event_type AS first_type,
           round((max(us) - min(us)) / 1e6, 6) AS span_s
    FROM uniq GROUP BY user_id ORDER BY user_id
    """


# --------------------------------------------------------------------------
# round-5 third batch: CUPED variance reduction / bimodality / power
# analysis
# --------------------------------------------------------------------------

CUPED_CUT = "2024-01-16"   # pre-period: events strictly before this date


def stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (the experimentation-platform
    pre-period adjustment): using each user's PRE-period spend as the
    covariate for their POST-period spend, θ = cov(pre, post)/var(pre)
    and the achieved variance reduction 1 − var(post − θ·pre) /
    var(post) = ρ² — the number that says how much smaller an A/B test
    gets after adjustment.

    ONE user-grain conditional aggregation builds (pre, post) per user
    (missing period ⇒ 0 by the counter rule, both engines); a 1-row
    moment collapse yields all five sums; θ and ρ² are ratios of those
    sums, evaluated from identical expressions. Variance-ratio outputs
    round at 2 dp (the stats_jarque_bera amplification rule).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        (F.col("ts").cast("timestamp") < F.lit(CUPED_CUT).cast("timestamp")).alias(
            "is_pre"
        ),
    )
    users = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("is_pre"), F.col("value"))), F.lit(0.0)
        ).alias("pre"),
        F.coalesce(
            F.sum(F.when(~F.col("is_pre"), F.col("value"))), F.lit(0.0)
        ).alias("post"),
    )
    m = users.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.expr("pre * pre")).alias("sxx"),
        F.sum(F.expr("post * post")).alias("syy"),
        F.sum(F.expr("pre * post")).alias("sxy"),
    )
    cov = "((sxy - sx * sy / n) / (n - 1.0))"
    vx = "((sxx - sx * sx / n) / (n - 1.0))"
    vy = "((syy - sy * sy / n) / (n - 1.0))"
    theta = f"({cov} / {vx})"
    rho2 = f"({cov} * {cov} / ({vx} * {vy}))"
    # CUPED is undefined for n < 2 or zero pre/post variance (round-9
    # degenerate-input probe): NULL, not an ANSI crash. The variance
    # checks nest INSIDE the n-guard so the /(n-1) terms never evaluate
    # on a singleton; identical structure on both engines.
    vpos = f"CASE WHEN n >= 2 THEN {vx} > 0 AND {vy} > 0 END"
    return m.selectExpr(
        "n AS n_users",
        f"CASE WHEN {vpos} THEN round({theta}, 6) END AS theta",
        f"CASE WHEN n >= 2 THEN round({vy}, 2) END AS var_post",
        f"CASE WHEN {vpos} THEN"
        f" round({vy} * (1.0 - {rho2}), 2) END AS var_adjusted",
        f"CASE WHEN {vpos} THEN"
        f" round(100.0 * {rho2}, 2) END AS reduction_pct",
    )


def stats_cuped_sql() -> str:
    cov = "((sxy - sx * sy / n) / (n - 1.0))"
    vx = "((sxx - sx * sx / n) / (n - 1.0))"
    vy = "((syy - sy * sy / n) / (n - 1.0))"
    theta = f"({cov} / {vx})"
    rho2 = f"({cov} * {cov} / ({vx} * {vy}))"
    return f"""
    WITH u AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN ts::TIMESTAMP < TIMESTAMP '{CUPED_CUT}'
                                 THEN value END), 0) AS pre,
               coalesce(sum(CASE WHEN ts::TIMESTAMP >= TIMESTAMP '{CUPED_CUT}'
                                 THEN value END), 0) AS post
        FROM events GROUP BY user_id
    ), m AS (
        SELECT count(*)::BIGINT AS n, sum(pre) AS sx, sum(post) AS sy,
               sum(pre * pre) AS sxx, sum(post * post) AS syy,
               sum(pre * post) AS sxy
        FROM u
    )
    SELECT n AS n_users,
           CASE WHEN CASE WHEN n >= 2 THEN {vx} > 0 AND {vy} > 0 END THEN
               round({theta}, 6) END AS theta,
           CASE WHEN n >= 2 THEN round({vy}, 2) END AS var_post,
           CASE WHEN CASE WHEN n >= 2 THEN {vx} > 0 AND {vy} > 0 END THEN
               round({vy} * (1.0 - {rho2}), 2) END AS var_adjusted,
           CASE WHEN CASE WHEN n >= 2 THEN {vx} > 0 AND {vy} > 0 END THEN
               round(100.0 * {rho2}, 2) END AS reduction_pct
    FROM m
    """


def stats_bimodality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sarle's bimodality coefficient per event type — the cheap
    screen for "is this metric secretly two populations" (b > 5/9 ≈
    uniform suggests bimodal/multimodal) run before trusting means or
    z-scores on a value column.

    TWO-pass centered moments (per-type means broadcast back, then
    Σd²/Σd³/Σd⁴) — the raw-moment expansion cancels catastrophically
    for 3rd/4th powers (the stats_jarque_bera lesson) — and 2 dp
    output rounding for the moment-ratio statistics. NULL values are
    not observations (dropped both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value")
    )
    means = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("mu")
    )
    d = ev.join(F.broadcast(means), "event_type").select(
        "event_type",
        "n",
        (F.col("value") - F.col("mu")).alias("d"),
    )
    g = d.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.expr("d * d")).alias("m2"),
        F.sum(F.expr("d * d * d")).alias("m3"),
        F.sum(F.expr("d * d * d * d")).alias("m4"),
    )
    g1 = "((m3 / n) / pow(m2 / n, 1.5))"
    g2 = "((m4 / n) / pow(m2 / n, 2.0) - 3.0)"
    bc = (
        f"(({g1} * {g1} + 1.0) / "
        f"({g2} + 3.0 * (n - 1.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0))))"
    )
    # moment ratios need nonzero deviation (m2 = Σd² is exactly 0 iff
    # every d is 0, order-independent both engines); the finite-sample
    # kurtosis correction additionally needs n > 3 (round-9/10
    # degenerate-input probe): NULL, not an ANSI crash
    mom = "(m2 > 0)"
    bcd = "(m2 > 0 AND n > 3)"
    return g.selectExpr(
        "event_type",
        "n AS n_obs",
        f"CASE WHEN {mom} THEN round({g1}, 2) END AS skewness",
        f"CASE WHEN {mom} THEN round({g2}, 2) END AS excess_kurtosis",
        f"CASE WHEN {bcd} THEN round({bc}, 2) END AS bimodality_coef",
        f"CASE WHEN {bcd} THEN round({bc}, 2) > 0.56 END AS bimodal_flag",
    ).orderBy("event_type")


def stats_bimodality_sql() -> str:
    g1 = "((m3 / n) / pow(m2 / n, 1.5))"
    g2 = "((m4 / n) / pow(m2 / n, 2.0) - 3.0)"
    bc = (
        f"(({g1} * {g1} + 1.0) / "
        f"({g2} + 3.0 * (n - 1.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0))))"
    )
    return f"""
    WITH ev AS (
        SELECT event_type, value FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), means AS (
        SELECT event_type, count(*)::BIGINT AS n, avg(value) AS mu
        FROM ev GROUP BY 1
    ), d AS (
        SELECT ev.event_type, n, (value - mu) AS d
        FROM ev JOIN means ON ev.event_type = means.event_type
    ), g AS (
        SELECT event_type, max(n)::BIGINT AS n,
               sum(d * d) AS m2, sum(d * d * d) AS m3,
               sum(d * d * d * d) AS m4
        FROM d GROUP BY event_type
    )
    SELECT event_type, n AS n_obs,
           CASE WHEN m2 > 0 THEN round({g1}, 2) END AS skewness,
           CASE WHEN m2 > 0 THEN round({g2}, 2) END AS excess_kurtosis,
           CASE WHEN m2 > 0 AND n > 3 THEN
               round({bc}, 2) END AS bimodality_coef,
           CASE WHEN m2 > 0 AND n > 3 THEN
               round({bc}, 2) > 0.56 END AS bimodal_flag
    FROM g ORDER BY event_type
    """


POWER_Z_ALPHA = 1.959964   # two-sided alpha = 0.05
POWER_Z_BETA = 0.841621    # power = 0.80


def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size calculator fed by the OBSERVED experiment: given
    the stats_ab_test arms' conversion rates, the per-arm n required to
    detect the observed difference at α=0.05 / power 0.80 (classic
    two-proportion formula), and whether the experiment as run was
    adequately powered — the go/no-go readout every experimentation
    platform prints next to the z-test.

    Same ONE user-grain shuffle as stats_ab_test, then pure closed-form
    arithmetic on the 4 exact integers with the normal quantiles as
    shared literals; the required-n comparison uses ceil of a
    6-dp-rounded value (house rule: no raw-float boundary crossings).
    """
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("np"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "user_id",
            F.expr("CASE WHEN np * 5 > n THEN 1 ELSE 0 END").alias("converted"),
        )
        .withColumn("grp", F.expr("user_id % 2"))
    )
    agg = users.groupBy().agg(
        F.sum(F.expr("CASE WHEN grp = 0 THEN 1 ELSE 0 END")).alias("n_a"),
        F.sum(F.expr("CASE WHEN grp = 0 THEN converted ELSE 0 END")).alias("conv_a"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN 1 ELSE 0 END")).alias("n_b"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN converted ELSE 0 END")).alias("conv_b"),
    )
    p1 = "(conv_a / cast(n_a as double))"
    p2 = "(conv_b / cast(n_b as double))"
    pbar = "((conv_a + conv_b) / cast(n_a + n_b as double))"
    num = (
        f"({POWER_Z_ALPHA} * sqrt(2.0 * {pbar} * (1.0 - {pbar}))"
        f" + {POWER_Z_BETA} * sqrt({p1} * (1.0 - {p1}) + {p2} * (1.0 - {p2})))"
    )
    n_req = f"ceil(round({num} * {num} / (({p1} - {p2}) * ({p1} - {p2})), 6))"
    # rate_a/rate_b/observed_delta are PURE integer rationals —
    # integer-exact HALF_UP (rendered-SQL lint, round 7); n_req passes
    # through sqrt (IRRATIONAL-protected). The calculator needs BOTH
    # arms populated and a nonzero observed effect (exact cross-multiply
    # check, never a float compare) — NULL otherwise, not an ANSI crash
    # (round-10 single-row probe).
    arms = "(n_a > 0 AND n_b > 0)"
    eff = (
        "(cast(conv_a as decimal(38,0)) * n_b"
        " <> cast(conv_b as decimal(38,0)) * n_a)"
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        f"CASE WHEN n_a > 0 THEN {sp_rat6('conv_a', 'n_a')} END AS rate_a",
        f"CASE WHEN n_b > 0 THEN {sp_rat6('conv_b', 'n_b')} END AS rate_b",
        f"CASE WHEN {arms} THEN {sp_rat6('cast(conv_a as decimal(38,0)) * n_b - cast(conv_b as decimal(38,0)) * n_a', 'cast(n_a as decimal(38,0)) * n_b')} END AS observed_delta",
        f"CASE WHEN {arms} AND {eff} THEN cast({n_req} as bigint) END AS n_required_per_arm",
        f"CASE WHEN {arms} AND {eff} THEN least(n_a, n_b) >= {n_req} END AS adequately_powered",
    )


def stats_power_analysis_sql() -> str:
    p1 = "(conv_a / n_a::DOUBLE)"
    p2 = "(conv_b / n_b::DOUBLE)"
    pbar = "((conv_a + conv_b) / (n_a + n_b)::DOUBLE)"
    num = (
        f"({POWER_Z_ALPHA} * sqrt(2.0 * {pbar} * (1.0 - {pbar}))"
        f" + {POWER_Z_BETA} * sqrt({p1} * (1.0 - {p1}) + {p2} * (1.0 - {p2})))"
    )
    n_req = f"ceil(round({num} * {num} / (({p1} - {p2}) * ({p1} - {p2})), 6))"
    return f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
                         > count(*) THEN 1 ELSE 0 END AS converted,
               user_id % 2 AS grp
        FROM events GROUP BY user_id
    ), agg AS (
        SELECT sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN grp = 0 THEN converted ELSE 0 END)::BIGINT AS conv_a,
               sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
               sum(CASE WHEN grp = 1 THEN converted ELSE 0 END)::BIGINT AS conv_b
        FROM u
    )
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 THEN {dk_rat6('conv_a', 'n_a')} END AS rate_a,
           CASE WHEN n_b > 0 THEN {dk_rat6('conv_b', 'n_b')} END AS rate_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
               {dk_rat6('conv_a::HUGEINT * n_b - conv_b::HUGEINT * n_a', 'n_a::HUGEINT * n_b')} END AS observed_delta,
           CASE WHEN n_a > 0 AND n_b > 0
                     AND conv_a::HUGEINT * n_b <> conv_b::HUGEINT * n_a THEN
               {n_req}::BIGINT END AS n_required_per_arm,
           CASE WHEN n_a > 0 AND n_b > 0
                     AND conv_a::HUGEINT * n_b <> conv_b::HUGEINT * n_a THEN
               least(n_a, n_b) >= {n_req} END AS adequately_powered
    FROM agg
    """


def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user spend (pre-period
    vs post-period around CUPED_CUT) — the paired complement to
    stats_mann_whitney's independent-samples test: did the same users
    spend differently after the cut, without assuming normality.

    Pairs collapse to user grain in ONE shuffle (period sums in exact
    integer cents; a user must observe BOTH periods, zero differences
    drop — the standard Wilcoxon discipline). |d| is an exact integer,
    so ranking uses the stats_auc_classifier idiom: DISTINCT-|d|
    (pos, neg) counts, ``below_sums`` block prefix sum for below-counts
    (never a global sort over users), tie-averaged rank sum kept
    DOUBLED-integer; tie-corrected variance and continuity-corrected z
    are the only float steps. NULL rule: NULL value is not an
    observation and NULL user_id is not a user (dropped both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            "value",
            (F.col("ts").cast("timestamp") < F.lit(CUPED_CUT).cast("timestamp")).alias(
                "is_pre"
            ),
        )
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("is_pre"), F.col("value"))).alias("pre"),
            F.sum(F.when(~F.col("is_pre"), F.col("value"))).alias("post"),
        )
        .where(F.col("pre").isNotNull() & F.col("post").isNotNull())
        .select(
            (
                F.round(F.col("post") * 100).cast("bigint")
                - F.round(F.col("pre") * 100).cast("bigint")
            ).alias("d")
        )
        .where(F.col("d") != 0)
    )
    vc = (
        u.groupBy(F.abs(F.col("d")).alias("ad"))
        .agg(
            F.sum((F.col("d") > 0).cast("bigint")).alias("p"),
            F.sum((F.col("d") < 0).cast("bigint")).alias("q"),
        )
        # vc feeds the min/max range and the block pass (which fans out
        # again to the block table), so unpinned the events scan + user
        # pairing + |d| groupBy ran 4x in one plan. Distinct-|d| grain is
        # far below event grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    r = below_sums(vc, "ad", below=F.col("p") + F.col("q"))
    agg = r.agg(
        F.sum(F.col("p") + F.col("q")).alias("n"),
        F.sum(
            F.col("p") * (2 * F.col("below") + F.col("p") + F.col("q") + 1)
        ).alias("w2"),
        F.sum(
            (F.col("p") + F.col("q"))
            * (F.col("p") + F.col("q"))
            * (F.col("p") + F.col("q"))
            - (F.col("p") + F.col("q"))
        ).alias("tie_term"),
    )
    # var_w = n(n+1)(2n+1)/24 − tie/48 = (2n(n+1)(2n+1) − tie)/48 is a
    # PURE integer rational at ~1e9 magnitude (the 7th decimal sits at
    # double-ulp scale), so a double round can flip it. Integer-exact
    # HALF_UP via sp_rat (repo round-boundary rule); the raw double fed
    # into z is ONE IEEE divide of identical integer operands, so z (÷,
    # −, ×, sqrt over bit-identical operands) is emitted RAW — rounding
    # is the only step where the engines' algorithms differ
    # (functions/exact.py policy).
    var_p = (
        "(2 * cast(n as decimal(38,0)) * (n + 1) * (2 * n + 1) - tie_term)"
    )
    mean = "(n * (n + 1.0) / 4.0)"
    var_d = f"(cast({var_p} as double) / 48.0)"
    z = (
        f"((w2 / 2.0 - {mean}"
        f" - 0.5 * sign(w2 / 2.0 - {mean})) / sqrt({var_d}))"
    )
    return agg.selectExpr(
        "n AS n_pairs",
        "w2 AS w_plus_2x",
        f"{sp_rat6(var_p, '48')} AS var_w",
        f"{z} AS z",
    )


def stats_wilcoxon_signed_rank_sql() -> str:
    var_p = "(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_term)"
    mean = "(n * (n + 1.0) / 4.0)"
    var_d = f"(({var_p})::DOUBLE / 48.0)"
    z = (
        f"((w2 / 2.0 - {mean}"
        f" - 0.5 * sign(w2 / 2.0 - {mean})) / sqrt({var_d}))"
    )
    return f"""
    WITH u AS (
        SELECT user_id,
               sum(CASE WHEN ts::TIMESTAMP < TIMESTAMP '{CUPED_CUT}'
                        THEN value END) AS pre,
               sum(CASE WHEN ts::TIMESTAMP >= TIMESTAMP '{CUPED_CUT}'
                        THEN value END) AS post
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id
    ), d AS (
        SELECT round(post * 100)::BIGINT - round(pre * 100)::BIGINT AS d
        FROM u WHERE pre IS NOT NULL AND post IS NOT NULL
          AND round(post * 100)::BIGINT <> round(pre * 100)::BIGINT
    ), vc AS (
        SELECT abs(d) AS ad,
               sum((d > 0)::INT)::BIGINT AS p,
               sum((d < 0)::INT)::BIGINT AS q
        FROM d GROUP BY 1
    ), r AS (
        SELECT p, q,
               coalesce(sum(p + q) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM vc
    ), agg AS (
        SELECT sum(p + q)::BIGINT AS n,
               sum(p * (2 * below + p + q + 1))::BIGINT AS w2,
               sum((p + q) * (p + q) * (p + q) - (p + q))::BIGINT AS tie_term
        FROM r
    )
    SELECT n AS n_pairs, w2 AS w_plus_2x,
           {dk_rat6(var_p, '48')} AS var_w,
           {z} AS z
    FROM agg
    """


def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across the K event types as repeated measures
    per user (blocks) — "does some event type systematically carry more
    spend per user than the others", the k-sample paired complement to
    stats_kruskal_wallis's independent groups.

    ONE shuffle to (user, type) integer-cent sums; complete blocks only
    (users observing ALL K types, K read from the data on a 1-row
    broadcast); within-block average ranks come from user-partitioned
    windows (K-bounded partitions, never global) and stay
    DOUBLED-integer (2·rank_min + ties − 1); the χ² and its
    tie-corrected variant are ratios of those exact sums. NULL rule:
    NULL value / user / type are not observations (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("user_id", "event_type", "value")
    )
    # g feeds the completeness window AND (via per_type) two
    # consumers, and kt re-scanned the fact — 4 events scans
    # unpinned. g is (user x type) grain (far below fact), so pin it;
    # k is read off the PIN (every event_type in ev survives the
    # groupBy, so countDistinct over g is the identical value) — the
    # events fact is scanned ONCE.
    g = (
        ev.groupBy("user_id", "event_type")
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("v"))
        .transform(pin)
    )
    kt = F.broadcast(
        g.agg(F.countDistinct("event_type").alias("k"))
    )
    complete = (
        g.withColumn(
            "nt", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        .crossJoin(kt)
        .where(F.col("nt") == F.col("k"))
    )
    wr = Window.partitionBy("user_id").orderBy("v")
    wt = Window.partitionBy("user_id", "v")
    ranked = complete.withColumn("r_min", F.rank().over(wr)).withColumn(
        "ct", F.count(F.lit(1)).over(wt)
    )
    # per_type feeds tot AND the output row — pin the K-row table so
    # the rank windows over the pinned g run once, not twice.
    per_type = (
        ranked.groupBy("event_type")
        .agg(
            F.sum(2 * F.col("r_min") + F.col("ct") - 1).alias("r2"),
            F.count(F.lit(1)).alias("n"),
            F.max("k").alias("k"),
            F.sum(F.col("ct") * F.col("ct") - 1).alias("tie_part"),
        )
        .transform(pin)
    )
    # mean_rank, χ² and the tie-adjusted χ² are PURE integer rationals
    # of the BIGINT rank moments (rr = Σr2² summed as DECIMAL(38,0)):
    #   χ² = 3·(rr − n²k(k+1)²) / (n·k·(k+1))
    #   χ²_adj = χ² · nk(k²−1) / (nk(k²−1) − tie_term)
    # — integer-exact HALF_UP (round-boundary rule). Decimal headroom
    # holds to ~1e9 complete blocks (A·T·3·2e6 < 1e38).
    tot = per_type.agg(
        F.sum(F.expr("cast(r2 as decimal(38,0)) * r2")).alias("rr"),
        F.sum("tie_part").alias("tie_term"),
    )
    a = (
        "(cast(rr as decimal(38,0))"
        " - cast(n as decimal(38,0)) * n * k * (k + 1) * (k + 1))"
    )
    qc = "(cast(n as decimal(38,0)) * k * (k + 1))"
    t = "(cast(n as decimal(38,0)) * k * (k * k - 1))"
    out = per_type.crossJoin(F.broadcast(tot.select("rr", "tie_term")))
    return out.selectExpr(
        "event_type",
        "r2 AS rank_sum_2x",
        f"{sp_rat6('r2', '2 * n')} AS mean_rank",
        "n AS n_users",
        "k",
        f"{sp_rat6(f'3 * {a}', qc)} AS chi2",
        f"{sp_rat6(f'3 * {a} * {t}', f'{qc} * ({t} - tie_term)')} AS chi2_tie_adj",
    ).orderBy("event_type")


def stats_friedman_sql() -> str:
    a = "(rr - n::HUGEINT * n * k * (k + 1) * (k + 1))"
    qc = "(n::HUGEINT * k * (k + 1))"
    t = "(n::HUGEINT * k * (k * k - 1))"
    return f"""
    WITH ev AS (
        SELECT user_id, event_type, value FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL
    ), g AS (
        SELECT user_id, event_type, round(sum(value) * 100)::BIGINT AS v
        FROM ev GROUP BY 1, 2
    ), kt AS (
        SELECT count(DISTINCT event_type)::BIGINT AS k FROM ev
    ), complete AS (
        SELECT g.*, k FROM g, kt
        WHERE user_id IN (
            SELECT user_id FROM g GROUP BY user_id
            HAVING count(*) = (SELECT k FROM kt)
        )
    ), ranked AS (
        SELECT event_type, k,
               rank() OVER (PARTITION BY user_id ORDER BY v) AS r_min,
               count(*) OVER (PARTITION BY user_id, v) AS ct
        FROM complete
    ), per_type AS (
        SELECT event_type,
               sum(2 * r_min + ct - 1)::BIGINT AS r2,
               count(*)::BIGINT AS n,
               max(k)::BIGINT AS k,
               sum(ct * ct - 1)::BIGINT AS tie_part
        FROM ranked GROUP BY event_type
    ), tot AS (
        SELECT sum(r2::HUGEINT * r2) AS rr,
               sum(tie_part)::BIGINT AS tie_term
        FROM per_type
    )
    SELECT event_type, r2 AS rank_sum_2x,
           {dk_rat6('r2', '2 * n')} AS mean_rank,
           n AS n_users, k,
           {dk_rat6(f'3 * {a}', qc)} AS chi2,
           {dk_rat6(f'3 * {a} * {t}', f'{qc} * ({t} - tie_term)')} AS chi2_tie_adj
    FROM per_type CROSS JOIN tot
    ORDER BY event_type
    """


def stats_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of customer revenue within
    each market segment — "is this segment's revenue one whale or a
    crowd": HHI = Σ share², normalized HHI, CR1 (top share, an
    order-free max) and effective competitor count 1/HHI.

    ONE shuffle to (segment, customer) integer-cent revenue, broadcast
    customer dim join; per-segment Σ share² needs no rank/sort (CR1 is
    max, not top-k). Shares divide EXACT integers so both engines see
    identical operands; the share-square sum rounds at 6 dp. NULL rule:
    orders without a matching customer drop (inner join, both engines);
    a NULL segment is its own group.
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    r = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev"))
    )
    seg = r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("total_cents"),
        F.max("rev").alias("max_rev"),
    )
    out = (
        r.join(
            F.broadcast(seg.withColumnRenamed("c_mktsegment", "_seg")),
            F.col("c_mktsegment").eqNullSafe(F.col("_seg")),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.max("n_customers").alias("n_customers"),
            F.max("total_cents").alias("total_cents"),
            F.max("max_rev").alias("max_rev"),
            # Σrev² as DECIMAL(38,0): ORDER-FREE integer sum (the float
            # Σshare² was order-dependent), so HHI = Σrev²/total² and
            # every derived column is a PURE integer rational.
            F.sum(F.expr("cast(rev as decimal(38,0)) * rev")).alias("srr"),
        )
    )
    tt = "(cast(total_cents as decimal(38,0)) * total_cents)"
    return out.selectExpr(
        "c_mktsegment AS segment",
        "n_customers",
        "total_cents",
        f"{sp_rat6('srr', tt)} AS hhi",
        f"""{sp_rat6(
            f'cast(n_customers as decimal(38,0)) * srr - {tt}',
            f'{tt} * (n_customers - 1)',
        )} AS hhi_norm""",
        f"{sp_rat6('max_rev', 'total_cents')} AS cr1",
        f"{sp_rat(tt, 'srr', 2)} AS effective_n",
    ).orderBy("segment")


def stats_herfindahl_sql() -> str:
    return f"""
    WITH r AS (
        SELECT c_mktsegment, c_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), seg AS (
        SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
               sum(rev)::BIGINT AS total_cents, max(rev)::BIGINT AS max_rev
        FROM r GROUP BY 1
    ), h AS (
        SELECT r.c_mktsegment,
               max(n_customers)::BIGINT AS n_customers,
               max(total_cents)::BIGINT AS total_cents,
               max(max_rev)::BIGINT AS max_rev,
               sum(rev::HUGEINT * rev) AS srr
        FROM r JOIN seg ON r.c_mktsegment IS NOT DISTINCT FROM seg.c_mktsegment
        GROUP BY 1
    )
    SELECT c_mktsegment AS segment, n_customers, total_cents,
           {dk_rat6('srr', 'total_cents::HUGEINT * total_cents')} AS hhi,
           {dk_rat6('n_customers::HUGEINT * srr - total_cents::HUGEINT * total_cents',
                    '(total_cents::HUGEINT * total_cents) * (n_customers - 1)')} AS hhi_norm,
           {dk_rat6('max_rev', 'total_cents')} AS cr1,
           {dk_rat('total_cents::HUGEINT * total_cents', 'srr', 2)} AS effective_n
    FROM h ORDER BY segment
    """


def stats_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio + Woolf 95% CI for the 2×2 of high-priority orders ×
    any-returned-lineitem — the EFFECT-SIZE report beside
    stats_chi_square's significance and stats_mcnemar's paired counts
    ("how much more likely is an urgent order to bounce").

    ONE lineitem aggregation to an order-grain returned flag, inner
    join to orders (an order with no lineitems has no outcome — both
    engines), then a single 4-cell grid; OR/lnOR/SE/CI are closed-form
    arithmetic on the 4 EXACT integers, so every float is derived from
    identical operands. NULL rule: NULL o_orderpriority has no
    exposure arm (dropped); a NULL l_returnflag is simply not 'R'.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("ret")
        )
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isNotNull())
        .select(
            "o_orderkey",
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("exposed"),
        )
    )
    cells = o.join(li, o.o_orderkey == li.l_orderkey).agg(
        F.sum((F.col("exposed") & (F.col("ret") == 1)).cast("bigint")).alias("a"),
        F.sum((F.col("exposed") & (F.col("ret") == 0)).cast("bigint")).alias("b"),
        F.sum((~F.col("exposed") & (F.col("ret") == 1)).cast("bigint")).alias("c"),
        F.sum((~F.col("exposed") & (F.col("ret") == 0)).cast("bigint")).alias("d"),
    )
    # odds_ratio = ad/bc is a PURE integer rational — integer-exact
    # HALF_UP (rendered-SQL lint, round 7); the ln/exp/sqrt columns are
    # IRRATIONAL-protected and keep plain round.
    # all-cells-positive guard (round-9 degenerate-input probe): the
    # log-odds CI is undefined with any empty 2x2 cell (classic rule) —
    # emit NULL there instead of an ANSI DIVIDE_BY_ZERO / ln(0) crash;
    # values unchanged whenever all four cells are populated
    pos = "(a > 0 AND b > 0 AND c > 0 AND d > 0)"
    orr = "((a * cast(d as double)) / (b * cast(c as double)))"
    se = "sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)"
    orp = "(cast(a as decimal(38,0)) * d)"
    orq = "(cast(b as decimal(38,0)) * c)"
    return cells.selectExpr(
        "a AS exposed_returned",
        "b AS exposed_kept",
        "c AS control_returned",
        "d AS control_kept",
        f"{sp_rat6(orp, orq)} AS odds_ratio",
        f"CASE WHEN {pos} THEN round(ln({orr}), 6) END AS ln_or",
        f"CASE WHEN {pos} THEN round({se}, 6) END AS se_ln_or",
        f"CASE WHEN {pos} THEN"
        f" round(exp(ln({orr}) - 1.959964 * {se}), 6) END AS ci_low",
        f"CASE WHEN {pos} THEN"
        f" round(exp(ln({orr}) + 1.959964 * {se}), 6) END AS ci_high",
    )


def stats_odds_ratio_sql() -> str:
    pos = "(a > 0 AND b > 0 AND c > 0 AND d > 0)"
    orr = "((a * d::DOUBLE) / (b * c::DOUBLE))"
    se = "sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)"
    orp = "(a::HUGEINT * d)"
    orq = "(b::HUGEINT * c)"
    return f"""
    WITH li AS (
        SELECT l_orderkey,
               max((l_returnflag = 'R')::INT) AS ret
        FROM lineitem GROUP BY 1
    ), o AS (
        SELECT o_orderkey,
               o_orderpriority IN ('1-URGENT', '2-HIGH') AS exposed
        FROM orders WHERE o_orderpriority IS NOT NULL
    ), cells AS (
        SELECT sum((exposed AND ret = 1)::INT)::BIGINT AS a,
               sum((exposed AND ret = 0)::INT)::BIGINT AS b,
               sum((NOT exposed AND ret = 1)::INT)::BIGINT AS c,
               sum((NOT exposed AND ret = 0)::INT)::BIGINT AS d
        FROM o JOIN li ON o_orderkey = l_orderkey
    )
    SELECT a AS exposed_returned, b AS exposed_kept,
           c AS control_returned, d AS control_kept,
           {dk_rat6(orp, orq)} AS odds_ratio,
           CASE WHEN {pos} THEN round(ln({orr}), 6) END AS ln_or,
           CASE WHEN {pos} THEN round({se}, 6) END AS se_ln_or,
           CASE WHEN {pos} THEN
               round(exp(ln({orr}) - 1.959964 * {se}), 6) END AS ci_low,
           CASE WHEN {pos} THEN
               round(exp(ln({orr}) + 1.959964 * {se}), 6) END AS ci_high
    FROM cells
    """


def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation test on the residuals of the daily
    revenue OLS trend — "after removing the linear trend, do adjacent
    days still move together" (DW ≈ 2 none, < 2 positive, > 2 negative
    serial correlation); the residual-level complement to
    stats_autocorrelation's raw-series ACF.

    The fact table collapses to the DAYS-bounded calendar grain (exact
    integer cents); the day index, OLS sums, residuals and the lag
    window all live on that bounded dimension (the stats_mann_kendall
    discipline), with slope/intercept broadcast back as a 1-row
    cross join so both engines evaluate residuals from identical
    operands. NULL o_orderdate has no day (dropped both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
        )
        .withColumn("t", F.row_number().over(Window.orderBy("o_orderdate")))
    )
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(t as bigint) * cast(t as bigint)")).alias("stt"),
        F.sum(F.expr("cast(t as bigint) * y")).alias("sty"),
    )
    # OLS slope guard (round-9 degenerate-input probe, shared by the
    # daily-trend regression family): the EXACT integer discriminant
    # n·Σt² − (Σt)² is zero on a singleton series — slope (and every
    # residual statistic downstream) emits NULL instead of an ANSI
    # DIVIDE_BY_ZERO crash; values unchanged for n >= 2
    slope = (
        "(CASE WHEN cast(n as decimal(38,0)) * stt"
        " - cast(st as decimal(38,0)) * st > 0 THEN"
        " (n * cast(sty as double) - cast(st as double) * sy)"
        " / (n * cast(stt as double) - cast(st as double) * st) END)"
    )
    icept = f"((sy - {slope} * st) / cast(n as double))"
    e = (
        d.crossJoin(F.broadcast(s))
        .withColumn(
            "resid",
            F.expr(f"cast(y as double) - ({icept} + {slope} * t)"),
        )
        .withColumn(
            "d_resid",
            F.col("resid")
            - F.lag("resid").over(Window.orderBy("t")),
        )
    )
    out = e.agg(
        F.max("n").alias("n_days"),
        F.max(F.expr(f"round({slope}, 6)")).alias("slope_cents_per_day"),
        F.sum(F.expr("resid * resid")).alias("sse"),
        F.sum(F.expr("d_resid * d_resid")).alias("sdd"),
    )
    return out.selectExpr(
        "n_days",
        "slope_cents_per_day",
        # sse = 0 on a perfectly-fit short series: DW undefined
        "CASE WHEN sse > 0 THEN round(sdd / sse, 6) END AS dw",
        "CASE WHEN sse > 0 THEN"
        " round(1.0 - (sdd / sse) / 2.0, 6) END AS rho_approx",
    )


def stats_durbin_watson_sql() -> str:
    slope = (
        "(CASE WHEN n::HUGEINT * stt - st::HUGEINT * st > 0 THEN"
        " (n * sty::DOUBLE - st::DOUBLE * sy)"
        " / (n * stt::DOUBLE - st::DOUBLE * st) END)"
    )
    icept = f"((sy - {slope} * st) / n::DOUBLE)"
    return f"""
    WITH d AS (
        SELECT o_orderdate, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y,
               row_number() OVER (ORDER BY o_orderdate) AS t
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_orderdate
    ), s AS (
        SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
               sum(y)::BIGINT AS sy,
               sum(t::BIGINT * t::BIGINT)::BIGINT AS stt,
               sum(t::BIGINT * y)::BIGINT AS sty
        FROM d
    ), e AS (
        SELECT n, st, sy, stt, sty,
               y::DOUBLE - ({icept} + {slope} * t) AS resid,
               y::DOUBLE - ({icept} + {slope} * t)
                 - lag(y::DOUBLE - ({icept} + {slope} * t))
                   OVER (ORDER BY t) AS d_resid
        FROM d CROSS JOIN s
    ), agg AS (
        SELECT max(n)::BIGINT AS n_days,
               max(round({slope}, 6)) AS slope_cents_per_day,
               sum(resid * resid) AS sse,
               sum(d_resid * d_resid) AS sdd
        FROM e
    )
    SELECT n_days, slope_cents_per_day,
           CASE WHEN sse > 0 THEN round(sdd / sse, 6) END AS dw,
           CASE WHEN sse > 0 THEN
               round(1.0 - (sdd / sse) / 2.0, 6) END AS rho_approx
    FROM agg
    """


def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog time series: an order is OPEN from its order
    date through its last lineitem ship date (inclusive); per month,
    the peak/trough open-order count, the open value at peak, and the
    month-end backlog — the operations "how deep is the queue" view.

    Interval counting by ±1 delta aggregation at the DAYS-bounded
    calendar grain — never an events×days range join: starts and ends
    collapse to per-day deltas in one shuffle, the running open
    count/value is a prefix sum over the bounded day dimension, then a
    month rollup. NULL rule: orders with NULL order date or no non-NULL
    ship date have no interval (dropped, both engines).
    """
    fin = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("fin"))
        .where(F.col("fin").isNotNull())
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("start"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    iv = o.join(fin, o.o_orderkey == fin.l_orderkey).select(
        "start", F.date_add(F.col("fin"), 1).alias("stop"), "cents"
    )
    deltas = (
        iv.select(F.col("start").alias("day"), F.lit(1).alias("dn"), F.col("cents").alias("dv"))
        .unionAll(
            iv.select(
                F.col("stop").alias("day"),
                F.lit(-1).alias("dn"),
                (-F.col("cents")).alias("dv"),
            )
        )
        .groupBy("day")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    run = deltas.withColumn("open_n", F.sum("dn").over(w)).withColumn(
        "open_v", F.sum("dv").over(w)
    )
    return (
        run.groupBy(F.date_trunc("month", F.col("day")).cast("date").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_delta_days"),
            F.max("open_n").alias("peak_open"),
            F.min("open_n").alias("trough_open"),
            F.max("open_v").alias("peak_value_cents"),
            F.max_by("open_n", "day").alias("eom_open"),
        )
        .orderBy("month")
    )


def q_orders_backlog_sql() -> str:
    return """
    WITH fin AS (
        SELECT l_orderkey, max(l_shipdate::DATE) AS fin
        FROM lineitem GROUP BY 1 HAVING max(l_shipdate::DATE) IS NOT NULL
    ), o AS (
        SELECT o_orderkey, o_orderdate::DATE AS start,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
    ), iv AS (
        SELECT start, fin + INTERVAL 1 DAY AS stop, cents
        FROM o JOIN fin ON o_orderkey = l_orderkey
    ), deltas AS (
        SELECT day, sum(dn)::BIGINT AS dn, sum(dv)::BIGINT AS dv FROM (
            SELECT start AS day, 1 AS dn, cents AS dv FROM iv
            UNION ALL
            SELECT stop::DATE AS day, -1 AS dn, -cents AS dv FROM iv
        ) GROUP BY day
    ), run AS (
        SELECT day,
               sum(dn) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_n,
               sum(dv) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_v
        FROM deltas
    )
    SELECT date_trunc('month', day)::DATE AS month,
           count(*)::BIGINT AS n_delta_days,
           max(open_n)::BIGINT AS peak_open,
           min(open_n)::BIGINT AS trough_open,
           max(open_v)::BIGINT AS peak_value_cents,
           arg_max(open_n, day)::BIGINT AS eom_open
    FROM run GROUP BY 1 ORDER BY month
    """


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    quarter, cumulative spend per customer tracked by quarters-since-
    acquisition — the (cohort × age) triangle behind every LTV and
    payback-period model.

    Two shuffles at entity grain: (customer, quarter) integer-cent
    spend, then min-quarter per customer rides a window on that SAME
    partitioning (no extra shuffle); the cumulative sum runs per cohort
    over the AGE-bounded quarter axis (partitioned window, never
    global). LTV divides exact integers. NULL o_orderdate rows have no
    quarter (dropped both engines); customers arrive via orders only
    (no customer-dim dependency).
    """
    q = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & F.col("o_custkey").isNotNull())
        .select(
            "o_custkey",
            (
                (F.year("o_orderdate") - F.lit(1995)) * 4
                + F.quarter("o_orderdate")
                - 1
            ).alias("qidx"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("o_custkey", "qidx")
        .agg(F.sum("cents").alias("cents"))
    )
    wc = Window.partitionBy("o_custkey")
    aged = q.withColumn("cohort", F.min("qidx").over(wc)).withColumn(
        "age", F.col("qidx") - F.col("cohort")
    )
    sizes = aged.groupBy("cohort").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )
    cell = aged.groupBy("cohort", "age").agg(F.sum("cents").alias("cents"))
    wa = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cell.withColumn("cum_cents", F.sum("cents").over(wa))
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .selectExpr(
            "cohort",
            "age",
            "n_customers",
            "cum_cents",
            f"{sp_rat('cum_cents', 'n_customers', 2)} AS ltv_cents",
        )
        .orderBy("cohort", "age")
    )


def q_orders_cohort_ltv_sql() -> str:
    return f"""
    WITH q AS (
        SELECT o_custkey,
               (year(o_orderdate) - 1995) * 4 + quarter(o_orderdate) - 1 AS qidx,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
        GROUP BY 1, 2
    ), aged AS (
        SELECT o_custkey, cents,
               min(qidx) OVER (PARTITION BY o_custkey) AS cohort,
               qidx - min(qidx) OVER (PARTITION BY o_custkey) AS age
        FROM q
    ), sizes AS (
        SELECT cohort, count(DISTINCT o_custkey)::BIGINT AS n_customers
        FROM aged GROUP BY 1
    ), cell AS (
        SELECT cohort, age, sum(cents)::BIGINT AS cents
        FROM aged GROUP BY 1, 2
    ), cum AS (
        SELECT cohort, age,
               sum(cents) OVER (PARTITION BY cohort ORDER BY age
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                   AS cum_cents
        FROM cell
    )
    SELECT cum.cohort, age, n_customers, cum_cents,
           {dk_rat('cum_cents', 'n_customers', 2)} AS ltv_cents
    FROM cum JOIN sizes ON cum.cohort = sizes.cohort
    ORDER BY cum.cohort, age
    """


def stats_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion (variance-to-mean ratio) test on DAILY event counts
    per event type — the Poisson-overdispersion check ("is traffic
    clumpier than random") behind burst alarms and rate-limit tuning;
    the count-process complement to text_burstiness's token-level CV.

    Counts collapse to the DAYS-bounded calendar grain in ONE shuffle
    and are EXACT integers, so n·Σx² − (Σx)² is an order-free BIGINT:
    the variance, VMR and the (n−1)·VMR ≈ χ² statistic are single
    divisions of exact integers (no centered-moment float pass at all).
    NULL rule: NULL event_type is its own group; NULL ts has no day
    (dropped, both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", F.col("ts").cast("date").alias("day"))
    )
    d = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("x"))
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    # all four outputs are PURE integer rationals of the BIGINT moments
    # (mean = sx/n; var = (n·sxx − sx²)/(n(n−1)); vmr = p/((n−1)·sx);
    # chi2 = p/sx) — integer-exact HALF_UP, widened products.
    vp = "(cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx)"
    return (
        agg.selectExpr(
            "event_type",
            "n AS n_days",
            "sx AS n_events",
            f"{sp_rat6('sx', 'n')} AS mean_daily",
            f"{sp_rat6(vp, 'cast(n as decimal(38,0)) * (n - 1)')} AS var_daily",
            f"{sp_rat6(vp, 'cast(n - 1 as decimal(38,0)) * sx')} AS vmr",
            f"{sp_rat6(vp, 'sx')} AS chi2",
        )
        .orderBy("event_type")
    )


def stats_dispersion_index_sql() -> str:
    vp = "(n::HUGEINT * sxx - sx::HUGEINT * sx)"
    return f"""
    WITH d AS (
        SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), agg AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
               sum(x * x)::BIGINT AS sxx
        FROM d GROUP BY 1
    )
    SELECT event_type, n AS n_days, sx AS n_events,
           {dk_rat6('sx', 'n')} AS mean_daily,
           {dk_rat6(vp, 'n::HUGEINT * (n - 1)')} AS var_daily,
           {dk_rat6(vp, '(n - 1)::HUGEINT * sx')} AS vmr,
           {dk_rat6(vp, 'sx')} AS chi2
    FROM agg ORDER BY event_type
    """


def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the RETURN rate rise or fall
    monotonically across the ORDERED priority levels (1-URGENT … 5-LOW)
    — the ordered-categories complement to stats_chi_square's
    unordered independence test, with the priority rank as the dose.

    One lineitem pass collapses to an order-grain returned flag
    (map-side partial agg), the join keeps order grain, and the
    contingency collapses to the 5-row score grid; every moment the z
    statistic needs (N, R, Σw·n, Σw·r, Σw²·n) is an EXACT BIGINT, so
    the only float step is the final closed-form ratio. NULL rule: an
    order with no lineitems has no outcome (inner join, both engines);
    NULL priority has no dose (dropped).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("ret"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isNotNull())
        .select(
            "o_orderkey",
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("w"),
        )
    )
    grid = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_k"),
            F.sum("ret").alias("r_k"),
        )
    )
    tot = grid.agg(
        F.sum("n_k").alias("nn"),
        F.sum("r_k").alias("rr"),
        F.sum(F.expr("w * n_k")).alias("swn"),
        F.sum(F.expr("w * r_k")).alias("swr"),
        F.sum(F.expr("w * w * n_k")).alias("swwn"),
    )
    p = "(cast(rr as double) / nn)"
    num = f"(cast(swr as double) - {p} * swn)"
    den = f"sqrt({p} * (1.0 - {p}) * (cast(swwn as double) - cast(swn as double) * swn / nn))"
    # z is undefined at a degenerate outcome (all or none returned) or
    # zero dose variance — EXACT integer discriminant nn·Σw²n > (Σwn)²
    # in decimal(38,0)/HUGEINT, never a float compare (round-10
    # single-row probe): NULL, not an ANSI crash
    zdef = (
        "(rr > 0 AND rr < nn AND cast(nn as decimal(38,0)) * swwn"
        " > cast(swn as decimal(38,0)) * swn)"
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .selectExpr(
            "w AS priority_rank",
            "n_k AS n_orders",
            "r_k AS n_returned",
            f"{sp_rat6('r_k', 'n_k')} AS return_rate",
            f"CASE WHEN {zdef} THEN round({num} / {den}, 6) END AS z_trend",
        )
        .orderBy("priority_rank")
    )


def stats_cochran_armitage_sql() -> str:
    p = "(rr::DOUBLE / nn)"
    num = f"(swr::DOUBLE - {p} * swn)"
    den = f"sqrt({p} * (1.0 - {p}) * (swwn::DOUBLE - swn::DOUBLE * swn / nn))"
    return f"""
    WITH li AS (
        SELECT l_orderkey, max((l_returnflag = 'R')::INT) AS ret
        FROM lineitem GROUP BY 1
    ), o AS (
        SELECT o_orderkey, substring(o_orderpriority, 1, 1)::BIGINT AS w
        FROM orders WHERE o_orderpriority IS NOT NULL
    ), grid AS (
        SELECT w, count(*)::BIGINT AS n_k, sum(ret)::BIGINT AS r_k
        FROM o JOIN li ON o_orderkey = l_orderkey
        GROUP BY 1
    ), tot AS (
        SELECT sum(n_k)::BIGINT AS nn, sum(r_k)::BIGINT AS rr,
               sum(w * n_k)::BIGINT AS swn, sum(w * r_k)::BIGINT AS swr,
               sum(w * w * n_k)::BIGINT AS swwn
        FROM grid
    )
    SELECT w AS priority_rank, n_k AS n_orders, r_k AS n_returned,
           {dk_rat6('r_k', 'n_k')} AS return_rate,
           CASE WHEN rr > 0 AND rr < nn
                     AND nn::HUGEINT * swwn > swn::HUGEINT * swn THEN
               round({num} / {den}, 6) END AS z_trend
    FROM grid CROSS JOIN tot
    ORDER BY priority_rank
    """


def stats_granger_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger-causality F test on the daily event series: does
    yesterday's event VOLUME (count) improve the prediction of today's
    event VALUE beyond yesterday's value alone — the predictive
    companion to stats_autocorrelation (within-series memory) and
    stats_spearman_daily (contemporaneous association).

    The fact table collapses ONCE to the DAYS-bounded calendar grain
    (value in exact integer cents, volume an exact count); both OLS
    fits run on that bounded dimension: every normal-equation moment is
    an order-free BIGINT, the closed-form coefficients broadcast back
    as a 1-row cross join (the stats_durbin_watson discipline), and the
    two SSE passes evaluate residuals from identical operands in both
    engines. F = (SSE_r − SSE_u)(n−3)/SSE_u. NULL rule: NULL ts has no
    day; NULL value contributes 0 cents to its day (sum-skip), both
    engines.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("value") * 100).cast("bigint")), F.lit(0)
            ).alias("y"),
            F.count(F.lit(1)).alias("x"),
        )
    )
    lw = Window.orderBy("day")
    lagged = (
        d.withColumn("y1", F.lag("y").over(lw))
        .withColumn("x1", F.lag("x").over(lw))
        .where(F.col("y1").isNotNull())
    )
    m = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y1").alias("sy1"),
        F.sum("x1").alias("sx1"),
        F.sum(F.expr("y * y1")).alias("syy1"),
        F.sum(F.expr("y * x1")).alias("syx1"),
        F.sum(F.expr("y1 * y1")).alias("sy1y1"),
        F.sum(F.expr("x1 * x1")).alias("sx1x1"),
        F.sum(F.expr("y1 * x1")).alias("sy1x1"),
    )
    # centered second moments (exact integers cast to double ONCE)
    s11 = "(cast(n as double) * sy1y1 - cast(sy1 as double) * sy1)"
    s22 = "(cast(n as double) * sx1x1 - cast(sx1 as double) * sx1)"
    s12 = "(cast(n as double) * sy1x1 - cast(sy1 as double) * sx1)"
    s1y = "(cast(n as double) * syy1 - cast(sy1 as double) * sy)"
    s2y = "(cast(n as double) * syx1 - cast(sx1 as double) * sy)"
    # degenerate guards (round-11 all-ties axis): a constant VALUE makes
    # y exactly proportional to x, so the two regressors are perfectly
    # collinear (det = 0) — and a constant lagged series zeroes s11.
    # Undefined coefficients are NULL (DuckDB's div-by-zero→NULL
    # convention, mirrored), never an ANSI crash.
    det = f"({s11} * {s22} - {s12} * {s12})"
    br = f"({s1y} / nullif({s11}, 0.0d))"
    ar = f"((sy - {br} * sy1) / cast(n as double))"
    b1 = f"(({s1y} * {s22} - {s2y} * {s12}) / nullif({det}, 0.0d))"
    b2 = f"(({s2y} * {s11} - {s1y} * {s12}) / nullif({det}, 0.0d))"
    au = f"((sy - {b1} * sy1 - {b2} * sx1) / cast(n as double))"
    e = lagged.crossJoin(F.broadcast(m)).selectExpr(
        "n",
        f"(y - ({ar}) - ({br}) * y1) AS res_r",
        f"(y - ({au}) - ({b1}) * y1 - ({b2}) * x1) AS res_u",
        f"round({b1}, 6) AS beta_y1",
        f"round({b2}, 6) AS beta_x1",
    )
    out = e.groupBy().agg(
        F.max("n").alias("n_obs"),
        F.max("beta_y1").alias("beta_y1"),
        F.max("beta_x1").alias("beta_x1"),
        F.sum(F.expr("res_r * res_r")).alias("sse_r"),
        F.sum(F.expr("res_u * res_u")).alias("sse_u"),
    )
    return out.selectExpr(
        "n_obs",
        "beta_y1",
        "beta_x1",
        "round((sse_r - sse_u) * (n_obs - 3)"
        " / nullif(sse_u, cast(0.0 as double)), 4) AS f_stat",
    )


def stats_granger_daily_sql() -> str:
    s11 = "(n::DOUBLE * sy1y1 - sy1::DOUBLE * sy1)"
    s22 = "(n::DOUBLE * sx1x1 - sx1::DOUBLE * sx1)"
    s12 = "(n::DOUBLE * sy1x1 - sy1::DOUBLE * sx1)"
    s1y = "(n::DOUBLE * syy1 - sy1::DOUBLE * sy)"
    s2y = "(n::DOUBLE * syx1 - sx1::DOUBLE * sy)"
    det = f"({s11} * {s22} - {s12} * {s12})"
    br = f"({s1y} / nullif({s11}, 0.0))"
    ar = f"((sy - {br} * sy1) / n::DOUBLE)"
    b1 = f"(({s1y} * {s22} - {s2y} * {s12}) / nullif({det}, 0.0))"
    b2 = f"(({s2y} * {s11} - {s1y} * {s12}) / nullif({det}, 0.0))"
    au = f"((sy - {b1} * sy1 - {b2} * sx1) / n::DOUBLE)"
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day,
               coalesce(sum(round(value * 100)::BIGINT), 0)::BIGINT AS y,
               count(*)::BIGINT AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), lagged AS (
        SELECT y, lag(y) OVER (ORDER BY day) AS y1,
               lag(x) OVER (ORDER BY day) AS x1
        FROM d QUALIFY y1 IS NOT NULL
    ), m AS (
        SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
               sum(y1)::BIGINT AS sy1, sum(x1)::BIGINT AS sx1,
               sum(y * y1)::BIGINT AS syy1, sum(y * x1)::BIGINT AS syx1,
               sum(y1 * y1)::BIGINT AS sy1y1, sum(x1 * x1)::BIGINT AS sx1x1,
               sum(y1 * x1)::BIGINT AS sy1x1
        FROM lagged
    ), e AS (
        SELECT n,
               (y - ({ar}) - ({br}) * y1) AS res_r,
               (y - ({au}) - ({b1}) * y1 - ({b2}) * x1) AS res_u,
               round({b1}, 6) AS beta_y1,
               round({b2}, 6) AS beta_x1
        FROM lagged CROSS JOIN m
    )
    SELECT max(n)::BIGINT AS n_obs,
           max(beta_y1) AS beta_y1,
           max(beta_x1) AS beta_x1,
           round((sum(res_r * res_r) - sum(res_u * res_u)) * (max(n) - 3)
                 / nullif(sum(res_u * res_u), 0.0), 4) AS f_stat
    FROM e
    """


def stats_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of order value per priority level (μ, σ of
    ln price by the method of moments), the fitted median in exact
    cents, and the OBSERVED share of orders below that fitted median —
    a one-line goodness sanity (0.5 exactly iff the body fits) — the
    heavy-tail model underpinning spend simulation and outlier fences;
    complements stats_extreme_gumbel (tail) with a body fit.

    TWO-pass centered moments (the JB lesson: raw Σln² − (Σln)²/n
    cancels catastrophically): per-priority μ broadcasts back for the
    σ pass; the fitted median re-enters as ROUNDED integer cents so
    the below-median comparison is an exact integer predicate in both
    engines. NULL rule: NULL price/priority rows drop (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull() & F.col("o_orderpriority").isNotNull())
        .select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .withColumn("lnp", F.expr("ln(cast(cents as double) / 100.0)"))
        # o feeds the μ pass, the σ pass AND the below-median share —
        # unpinned, the orders scan ran per pass (5 fact scans with
        # the fit re-expansion). Pin the 3-column order-grain table;
        # the fact is scanned ONCE and the two-pass moments run over
        # the pin.
        .transform(pin)
    )
    mu = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.avg("lnp").alias("mu")
    )
    j = o.join(F.broadcast(mu), "o_orderpriority")
    fit = j.groupBy("o_orderpriority").agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.sum(F.expr("(lnp - mu) * (lnp - mu)")).alias("css"),
    ).selectExpr(
        "o_orderpriority",
        "n",
        "mu",
        # sigma undefined for a single-order priority group: NULL, not
        # an ANSI crash
        "CASE WHEN n >= 2 THEN sqrt(css / (n - 1.0)) END AS sigma",
        "cast(round(exp(mu) * 100.0) as bigint) AS fit_median_cents",
    # fit feeds the share join-back AND the final report;
    # priority grain — pin it
    ).transform(pin)
    back = o.join(
        F.broadcast(fit.select("o_orderpriority", "fit_median_cents")),
        "o_orderpriority",
    )
    share = back.groupBy("o_orderpriority").agg(
        F.avg((F.col("cents") < F.col("fit_median_cents")).cast("double")).alias(
            "share_below"
        )
    )
    return (
        fit.join(F.broadcast(share), "o_orderpriority")
        .selectExpr(
            "o_orderpriority AS priority",
            "n AS n_orders",
            "round(mu, 6) AS mu_ln",
            "round(sigma, 6) AS sigma_ln",
            "fit_median_cents",
            "round(share_below, 6) AS share_below_fit_median",
        )
        .orderBy("priority")
    )


def stats_lognormal_fit_sql() -> str:
    return """
    WITH o AS (
        SELECT o_orderpriority,
               round(o_totalprice * 100)::BIGINT AS cents,
               ln(round(o_totalprice * 100)::BIGINT::DOUBLE / 100.0) AS lnp
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    ), mu AS (
        SELECT o_orderpriority, count(*)::BIGINT AS n, avg(lnp) AS mu
        FROM o GROUP BY 1
    ), fit AS (
        SELECT o.o_orderpriority, max(n)::BIGINT AS n, max(mu) AS mu,
               CASE WHEN max(n) >= 2 THEN
                   sqrt(sum((lnp - mu) * (lnp - mu)) / (max(n) - 1.0))
               END AS sigma,
               round(exp(max(mu)) * 100.0)::BIGINT AS fit_median_cents
        FROM o JOIN mu ON o.o_orderpriority = mu.o_orderpriority
        GROUP BY 1
    ), share AS (
        SELECT o.o_orderpriority,
               avg((cents < fit_median_cents)::INT::DOUBLE) AS share_below
        FROM o JOIN fit ON o.o_orderpriority = fit.o_orderpriority
        GROUP BY 1
    )
    SELECT fit.o_orderpriority AS priority, n AS n_orders,
           round(mu, 6) AS mu_ln, round(sigma, 6) AS sigma_ln,
           fit_median_cents,
           round(share_below, 6) AS share_below_fit_median
    FROM fit JOIN share ON fit.o_orderpriority = share.o_orderpriority
    ORDER BY priority
    """


def q_lineitem_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per priority level: exact integer
    day lags (order date → line ship date), mean, exact interpolated
    p50/p90, and the share shipping more than 90 days out — the
    fulfilment-SLA view of the orders/lineitem pair.

    One co-partitioned equijoin at order grain (both sides shuffle on
    the key once — no broadcast assumption: lineitem and orders are
    both fact-sized), then ONE aggregation per priority; the lag is a
    bounded integer day-difference, mean from an exact integer sum,
    percentile() == DuckDB quantile_cont on integer lags, and the SLA
    share is an exact integer predicate. NULL rule: NULL order date,
    ship date or priority rows drop (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & F.col("o_orderpriority").isNotNull())
        .select("o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd"))
    )
    lag = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority", F.datediff("sd", "od").alias("lag_days")
    )
    return (
        lag.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _r(F.avg("lag_days"), "mean_lag_days"),
            _r(F.expr("percentile(lag_days, 0.5)"), "p50_lag_days"),
            _r(F.expr("percentile(lag_days, 0.9)"), "p90_lag_days"),
            _r(F.avg((F.col("lag_days") > 90).cast("double")), "share_over_90d"),
        )
        .withColumnRenamed("o_orderpriority", "priority")
        .orderBy("priority")
    )


def q_lineitem_ship_lag_sql() -> str:
    return """
    WITH lag AS (
        SELECT o_orderpriority,
               datediff('day', o_orderdate::DATE, l_shipdate::DATE) AS lag_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
          AND l_shipdate IS NOT NULL
    )
    SELECT o_orderpriority AS priority, count(*)::BIGINT AS n_lines,
           round(avg(lag_days), 6) AS mean_lag_days,
           round(quantile_cont(lag_days, 0.5), 6) AS p50_lag_days,
           round(quantile_cont(lag_days, 0.9), 6) AS p90_lag_days,
           round(avg((lag_days > 90)::INT::DOUBLE), 6) AS share_over_90d
    FROM lag GROUP BY 1 ORDER BY priority
    """


def q_sql_lambda_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function pipeline (the lambda surface of the
    SQL dialect): per order the lineitem prices collapse to a SORTED
    integer-cent array, then transform / filter / aggregate lambdas
    compute the discounted total, the above-mean item count and the
    top item share WITHOUT re-shuffling per metric — one (order) array
    build, all per-order metrics fold INSIDE the array, then a 5-row
    priority rollup. The pattern that replaces N self-joins at 100 TB.

    Exact integers inside every lambda (cents; mean compared as
    x·m > Σ to avoid division); only the final rollup ratios are
    floats. NULL rule: NULL price lines drop before the array build;
    orders with no surviving lines drop (both engines).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint").alias("disc_cents"),
        )
    )
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("cents")).alias("a"),
        F.sum("disc_cents").alias("disc_total"),
    )
    per_order = arr.selectExpr(
        "l_orderkey",
        "size(a) AS m",
        "aggregate(a, cast(0 as bigint), (acc, x) -> acc + x) AS tot",
        "size(filter(a, x -> x * size(a) > aggregate(a, cast(0 as bigint), (acc, y) -> acc + y))) AS n_above_mean",
        "element_at(a, -1) AS top_cents",
        "disc_total",
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _r(F.avg("m"), "mean_items"),
            _r(F.avg("n_above_mean"), "mean_above_mean"),
            _r(F.avg(F.expr("cast(top_cents as double) / tot")), "mean_top_share"),
            F.sum("disc_total").alias("disc_total_cents"),
        )
        .withColumnRenamed("o_orderpriority", "priority")
        .orderBy("priority")
    )


def q_sql_lambda_arrays_sql() -> str:
    return """
    WITH li AS (
        SELECT l_orderkey,
               round(l_extendedprice * 100)::BIGINT AS cents,
               round(l_extendedprice * (1 - l_discount) * 100)::BIGINT AS disc_cents
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), arr AS (
        SELECT l_orderkey, list(cents ORDER BY cents) AS a,
               sum(disc_cents)::BIGINT AS disc_total
        FROM li GROUP BY 1
    ), per_order AS (
        SELECT l_orderkey, len(a)::BIGINT AS m,
               list_reduce(a, (x, y) -> x + y)::BIGINT AS tot,
               len(list_filter(a, x -> x * len(a) >
                   list_reduce(a, (u, v) -> u + v)))::BIGINT AS n_above_mean,
               a[-1]::BIGINT AS top_cents,
               disc_total
        FROM arr
    )
    SELECT o_orderpriority AS priority, count(*)::BIGINT AS n_orders,
           round(avg(m), 6) AS mean_items,
           round(avg(n_above_mean), 6) AS mean_above_mean,
           round(avg(top_cents::DOUBLE / tot), 6) AS mean_top_share,
           sum(disc_total)::BIGINT AS disc_total_cents
    FROM per_order JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY priority
    """


def q_events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase conversion lag per first-view DAY cohort: of
    the users whose first 'view' lands on the day, how many ever
    purchase AFTER it, and the exact mean / interpolated median lag in
    whole minutes — the time-to-convert distribution behind funnel SLA
    and attribution-window choices (q_events_funnel counts WHO
    converts; this measures HOW FAST).

    ONE user-grain conditional aggregation (first view ts, first
    purchase-after-view ts as exact integer MICROSECONDS — min skips
    the non-matching types), then a DAYS-bounded cohort rollup; the
    lag floors to integer minutes before any statistic so both engines
    aggregate identical integers. NULL rule: NULL user/ts rows are not
    observations (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v_ts")
        )
        .where(F.col("v_ts").isNotNull())
        # u feeds the purchase probe AND the cohort rollup — unpinned,
        # its events scan ran twice (3 total). User grain, so pin;
        # events is scanned twice (first-view agg + purchase probe,
        # the two-pass floor).
        .transform(pin)
    )
    p = ev.where(F.col("event_type") == "purchase").join(u, "user_id")
    first_p = (
        p.where(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    # timestampdiff(MICROSECOND, ...) is storage-type agnostic (works on
    # TIMESTAMP and TIMESTAMP_NTZ alike, no session-tz conversion) and
    # equals DuckDB's epoch_us difference exactly
    cohort = (
        u.join(first_p, "user_id", "left")
        .select(
            F.col("v_ts").cast("date").alias("cohort_day"),
            F.expr(
                "timestampdiff(MICROSECOND, v_ts, p_ts) div 60000000"
            ).alias("lag_min"),
        )
    )
    return (
        cohort.groupBy("cohort_day")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("lag_min").alias("n_converted"),
            _r(F.avg("lag_min"), "mean_lag_min"),
            _r(F.expr("percentile(lag_min, 0.5)"), "p50_lag_min"),
        )
        .orderBy("cohort_day")
    )


def q_events_conversion_lag_sql() -> str:
    return """
    WITH ev AS (
        SELECT user_id, event_type, ts
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
        FROM ev GROUP BY 1 HAVING v_ts IS NOT NULL
    ), first_p AS (
        SELECT ev.user_id, min(ts) AS p_ts
        FROM ev JOIN u ON ev.user_id = u.user_id
        WHERE event_type = 'purchase' AND ts >= v_ts
        GROUP BY 1
    ), cohort AS (
        SELECT v_ts::DATE AS cohort_day,
               ((epoch_us(p_ts) - epoch_us(v_ts)) // 60000000)::BIGINT AS lag_min
        FROM u LEFT JOIN first_p ON u.user_id = first_p.user_id
    )
    SELECT cohort_day, count(*)::BIGINT AS n_users,
           count(lag_min)::BIGINT AS n_converted,
           round(avg(lag_min), 6) AS mean_lag_min,
           round(quantile_cont(lag_min, 0.5), 6) AS p50_lag_min
    FROM cohort GROUP BY 1 ORDER BY cohort_day
    """


def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test on the daily-revenue OLS
    residuals — "does the VARIANCE of the detrended revenue grow with
    time" (LM = n·R² of e² regressed on t), the variance-stability
    complement to stats_durbin_watson's serial-correlation test on the
    SAME residuals.

    All regression inputs collapse to the DAYS-bounded grain with
    order-free BIGINT moments; slope/intercept broadcast back (1-row
    cross join) so residuals evaluate from identical operands. The aux
    regression exploits t = 1..n: t̄ = (n+1)/2 and Sxx = n(n²−1)/12 are
    EXACT closed forms, so Sxy = Σ(t − t̄)·e² needs no centering pass,
    and Syy = Σy² − (Σy)²/n is safe because var(e²) ≈ mean(e²)² under
    the alternative (no catastrophic cancellation). NULL order dates
    have no day (dropped both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
        )
        .withColumn("t", F.row_number().over(Window.orderBy("o_orderdate")))
    )
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("cast(t as bigint) * cast(t as bigint)")).alias("stt"),
        F.sum(F.expr("cast(t as bigint) * y")).alias("sty"),
    )
    # OLS slope guard (round-9 degenerate-input probe, shared by the
    # daily-trend regression family): the EXACT integer discriminant
    # n·Σt² − (Σt)² is zero on a singleton series — slope (and every
    # residual statistic downstream) emits NULL instead of an ANSI
    # DIVIDE_BY_ZERO crash; values unchanged for n >= 2
    slope = (
        "(CASE WHEN cast(n as decimal(38,0)) * stt"
        " - cast(st as decimal(38,0)) * st > 0 THEN"
        " (n * cast(sty as double) - cast(st as double) * sy)"
        " / (n * cast(stt as double) - cast(st as double) * st) END)"
    )
    icept = f"((sy - {slope} * st) / cast(n as double))"
    e = d.crossJoin(F.broadcast(s)).selectExpr(
        "n",
        "t",
        f"cast(y as double) - ({icept} + {slope} * t) AS resid",
    )
    m = e.selectExpr(
        "n",
        "resid * resid AS y2",
        "(t - (n + 1.0) / 2.0) AS tc",
    ).groupBy().agg(
        F.max("n").alias("n"),
        F.sum(F.expr("tc * y2")).alias("sxy"),
        F.sum("y2").alias("sy2"),
        F.sum(F.expr("y2 * y2")).alias("sy2y2"),
    )
    sxx = "(n * (cast(n as double) * n - 1.0) / 12.0)"
    syy = "(sy2y2 - sy2 * sy2 / n)"
    r2 = f"(sxy * sxy / ({sxx} * {syy}))"
    # a ≤2-day series is fitted EXACTLY by the trend line, so the
    # squared residuals have zero variance and R² is undefined
    # (round-10 n=2 probe): NULL, not an ANSI crash; both engines
    return m.selectExpr(
        "n AS n_days",
        f"CASE WHEN n >= 2 AND {syy} > 0 THEN round({r2}, 6) END AS bp_r2",
        f"CASE WHEN n >= 2 AND {syy} > 0 THEN round(n * {r2}, 2) END"
        " AS bp_lm",
    )


def stats_breusch_pagan_sql() -> str:
    slope = (
        "(CASE WHEN n::HUGEINT * stt - st::HUGEINT * st > 0 THEN"
        " (n * sty::DOUBLE - st::DOUBLE * sy)"
        " / (n * stt::DOUBLE - st::DOUBLE * st) END)"
    )
    icept = f"((sy - {slope} * st) / n::DOUBLE)"
    sxx = "(n * (n::DOUBLE * n - 1.0) / 12.0)"
    syy = "(sy2y2 - sy2 * sy2 / n)"
    r2 = f"(sxy * sxy / ({sxx} * {syy}))"
    return f"""
    WITH d AS (
        SELECT o_orderdate, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y,
               row_number() OVER (ORDER BY o_orderdate) AS t
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_orderdate
    ), s AS (
        SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
               sum(y)::BIGINT AS sy,
               sum(t::BIGINT * t::BIGINT)::BIGINT AS stt,
               sum(t::BIGINT * y)::BIGINT AS sty
        FROM d
    ), e AS (
        SELECT n, t, y::DOUBLE - ({icept} + {slope} * t) AS resid
        FROM d CROSS JOIN s
    ), m AS (
        SELECT max(n)::BIGINT AS n,
               sum((t - (n + 1.0) / 2.0) * resid * resid) AS sxy,
               sum(resid * resid) AS sy2,
               sum(resid * resid * resid * resid) AS sy2y2
        FROM e
    )
    SELECT n AS n_days,
           CASE WHEN n >= 2 AND {syy} > 0 THEN
               round({r2}, 6) END AS bp_r2,
           CASE WHEN n >= 2 AND {syy} > 0 THEN
               round(n * {r2}, 2) END AS bp_lm
    FROM m
    """


def stats_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test per event type around CUPED_CUT:
    did the type's DAILY RATE change pre→post (rate ratio + the
    log-rate z statistic) — the launch-impact companion to
    stats_ab_test (user-level) and stats_cusum_changepoint (where it
    changed); exposures are shared across types so per-type volume
    differences don't confound the ratio.

    ONE conditional aggregation per type (exact integer counts); the
    shared pre/post exposure in DAYS comes from the global min/max day
    as a 1-row broadcast (the calendar is data-derived, not assumed).
    z = ln(r2/r1)/sqrt(1/a + 1/b) on exact-integer operands. NULL
    rule: NULL ts is not an observation; NULL event_type is its own
    arm (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", F.col("ts").cast("date").alias("day"))
    )
    cut = F.lit(CUPED_CUT).cast("date")
    g = ev.groupBy("event_type").agg(
        F.sum((F.col("day") < cut).cast("bigint")).alias("a"),
        F.sum((F.col("day") >= cut).cast("bigint")).alias("b"),
    )
    exp_ = F.broadcast(
        ev.agg(
            F.datediff(cut, F.min("day")).cast("bigint").alias("t1"),
            (F.datediff(F.max("day"), cut) + 1).cast("bigint").alias("t2"),
        )
    )
    # degenerate-window guard (round-9 probe): with a 1-day corpus one
    # exposure window is empty/zero-length — the rate test is undefined,
    # so z emits NULL instead of an ANSI DIVIDE_BY_ZERO / ln-domain
    # crash; values unchanged on any two-sided window
    pos = "(a > 0 AND b > 0 AND t1 > 0 AND t2 > 0)"
    r1 = "(cast(a as double) / t1)"
    r2 = "(cast(b as double) / t2)"
    return (
        g.crossJoin(exp_)
        .selectExpr(
            "event_type",
            "a AS n_pre",
            "b AS n_post",
            "t1 AS days_pre",
            "t2 AS days_post",
            f"{sp_rat6('cast(b as decimal(38,0)) * t1', 'cast(a as decimal(38,0)) * t2')} AS rate_ratio",
            f"CASE WHEN {pos} THEN"
            f" round(ln({r2} / {r1}) / sqrt(1.0 / a + 1.0 / b), 6) END AS z",
        )
        .orderBy("event_type")
    )


def stats_poisson_rate_test_sql() -> str:
    r1 = "(a::DOUBLE / t1)"
    r2 = "(b::DOUBLE / t2)"
    return f"""
    WITH ev AS (
        SELECT event_type, ts::DATE AS day FROM events WHERE ts IS NOT NULL
    ), g AS (
        SELECT event_type,
               sum((day < DATE '{CUPED_CUT}')::INT)::BIGINT AS a,
               sum((day >= DATE '{CUPED_CUT}')::INT)::BIGINT AS b
        FROM ev GROUP BY 1
    ), exposure AS (
        SELECT datediff('day', min(day), DATE '{CUPED_CUT}')::BIGINT AS t1,
               (datediff('day', DATE '{CUPED_CUT}', max(day)) + 1)::BIGINT AS t2
        FROM ev
    )
    SELECT event_type, a AS n_pre, b AS n_post,
           t1 AS days_pre, t2 AS days_post,
           {dk_rat6('b::HUGEINT * t1', 'a::HUGEINT * t2')} AS rate_ratio,
           CASE WHEN a > 0 AND b > 0 AND t1 > 0 AND t2 > 0 THEN
               round(ln({r2} / {r1}) / sqrt(1.0 / a + 1.0 / b), 6) END AS z
    FROM g CROSS JOIN exposure
    ORDER BY event_type
    """


def stats_gini_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of customer revenue per market segment —
    the single-number inequality summary behind stats_lorenz_deciles'
    curve, computed tie-correctly from the rank-weighted identity
    G = (2·Σᵢ rᵢxᵢ/(n·Σx)) − (n+1)/n with tied values averaged.

    NO global sort of customers: spend collapses to DISTINCT integer
    cent values with multiplicities, each value's below-count within
    its segment comes from ``below_sums`` grouped by segment, and the
    rank-weighted sum folds each distinct value's arithmetic rank
    series in closed form (v·(c·B + c(c+1)/2)) — every term an
    order-free BIGINT. The final Gini is one division of exact
    integers. NULL rule: orders without a customer match drop (inner
    join); a NULL segment is its own group (null-safe grouping both
    engines).
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    r = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("v"))
    )
    # vc feeds below_sums' range table AND its block pass; unpinned, the
    # orders x customer join and both collapses would run once per copy.
    # (segment, distinct-cents) grain: pin it so each fact is scanned once.
    vc = (
        r.groupBy("c_mktsegment", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    j = below_sums(vc, "v", by=["c_mktsegment"], bb=F.col("c"))
    agg = j.groupBy("c_mktsegment").agg(
        F.sum("c").alias("n"),
        F.sum(F.expr("v * c")).alias("sx"),
        # tie-averaged rank-weighted sum, DOUBLED to stay integer:
        # members of value v have mean rank B + (c+1)/2, contributing
        # v * c * (2B + c + 1) to 2*sum(r_i x_i)
        F.sum(F.expr("v * c * (2 * bb + c + 1)")).alias("rw2"),
    )
    # gini = (rw2 − (n+1)·sx)/(n·sx): PURE integer rational —
    # integer-exact HALF_UP (round-boundary rule), widened products.
    return agg.selectExpr(
        "c_mktsegment AS segment",
        "n AS n_customers",
        "sx AS total_cents",
        f"""{sp_rat6(
            'cast(rw2 as decimal(38,0)) - cast(n + 1 as decimal(38,0)) * sx',
            'cast(n as decimal(38,0)) * sx',
        )} AS gini""",
    ).orderBy("segment")


def stats_gini_exact_sql() -> str:
    return f"""
    WITH r AS (
        SELECT c_mktsegment, c_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), vc AS (
        SELECT c_mktsegment, v, count(*)::BIGINT AS c
        FROM r GROUP BY 1, 2
    ), ranked AS (
        SELECT c_mktsegment, v, c,
               coalesce(sum(c) OVER (PARTITION BY c_mktsegment ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb
        FROM vc
    ), agg AS (
        SELECT c_mktsegment, sum(c)::BIGINT AS n, sum(v * c)::BIGINT AS sx,
               sum(v * c * (2 * bb + c + 1))::BIGINT AS rw2
        FROM ranked GROUP BY 1
    )
    SELECT c_mktsegment AS segment, n AS n_customers, sx AS total_cents,
           {dk_rat6('rw2::HUGEINT - (n + 1)::HUGEINT * sx', 'n::HUGEINT * sx')} AS gini
    FROM agg ORDER BY segment
    """


def stats_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of daily event VOLUME and daily event VALUE
    controlling for daily ACTIVE USERS — "do busy days carry more value
    because more is happening, or only because more people showed up" —
    the confound-removal step stats_correlation_matrix (raw pairwise)
    stops short of: ρxy·z = (ρxy − ρxz·ρyz)/√((1−ρxz²)(1−ρyz²)).

    ONE shuffle to the DAYS-bounded grain (count, integer-cent sum,
    exact distinct users per day), then a 1-row moment collapse — all
    nine second moments are order-free BIGINTs, the three Pearson ρ and
    the partial ρ are closed-form ratios of exact integers. NULL rule:
    NULL ts has no day; NULL value adds 0 cents (sum-skip); NULL
    user_id is not a user (count distinct skips), both engines.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.coalesce(
                F.sum(F.round(F.col("value") * 100).cast("bigint")), F.lit(0)
            ).alias("y"),
            F.countDistinct("user_id").alias("z"),
        )
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.sum("z").alias("sz"),
        F.sum(F.expr("x * x")).alias("sxx"), F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("z * z")).alias("szz"), F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * z")).alias("sxz"), F.sum(F.expr("y * z")).alias("syz"),
    )
    def rho(sab, saa, sbb, sa, sb):
        num = f"(n * cast({sab} as double) - cast({sa} as double) * {sb})"
        den = (
            f"sqrt(n * cast({saa} as double) - cast({sa} as double) * {sa})"
            f" * sqrt(n * cast({sbb} as double) - cast({sb} as double) * {sb})"
        )
        return f"({num} / {den})"
    rxy = rho("sxy", "sxx", "syy", "sx", "sy")
    rxz = rho("sxz", "sxx", "szz", "sx", "sz")
    ryz = rho("syz", "syy", "szz", "sy", "sz")
    part = (
        f"(({rxy}) - ({rxz}) * ({ryz}))"
        f" / sqrt((1.0 - ({rxz}) * ({rxz})) * (1.0 - ({ryz}) * ({ryz})))"
    )
    # each ρ needs positive variance on BOTH series — EXACT integer
    # discriminant n·Σa² − (Σa)² > 0 in decimal(38,0)/HUGEINT; the
    # partial additionally needs |ρxz|,|ρyz| < 1 (float compare is safe
    # there: both engines derive the SAME doubles from the SAME exact
    # integer moments). Round-10 single-row probe: NULL, not a crash.
    def var_pos(saa, sa):
        return (
            f"(cast(n as decimal(38,0)) * {saa}"
            f" > cast({sa} as decimal(38,0)) * {sa})"
        )

    vx, vy, vz = var_pos("sxx", "sx"), var_pos("syy", "sy"), var_pos("szz", "sz")
    # NESTED CASE: the |ρ|<1 float check itself divides by the variance
    # discriminants, so it may only be evaluated once they are positive
    # (CASE branches are lazy; a flat AND is not guaranteed to be)
    return m.selectExpr(
        "n AS n_days",
        f"CASE WHEN {vx} AND {vy} THEN round({rxy}, 6) END AS r_volume_value",
        f"CASE WHEN {vx} AND {vz} THEN round({rxz}, 6) END AS r_volume_users",
        f"CASE WHEN {vy} AND {vz} THEN round({ryz}, 6) END AS r_value_users",
        f"CASE WHEN {vx} AND {vy} AND {vz} THEN "
        f"CASE WHEN (1.0 - ({rxz}) * ({rxz}))"
        f" * (1.0 - ({ryz}) * ({ryz})) > 0 THEN round({part}, 6) END END"
        " AS partial_r_volume_value",
    )


def stats_partial_correlation_sql() -> str:
    def rho(sab, saa, sbb, sa, sb):
        num = f"(n * {sab}::DOUBLE - {sa}::DOUBLE * {sb})"
        den = (
            f"sqrt(n * {saa}::DOUBLE - {sa}::DOUBLE * {sa})"
            f" * sqrt(n * {sbb}::DOUBLE - {sb}::DOUBLE * {sb})"
        )
        return f"({num} / {den})"
    rxy = rho("sxy", "sxx", "syy", "sx", "sy")
    rxz = rho("sxz", "sxx", "szz", "sx", "sz")
    ryz = rho("syz", "syy", "szz", "sy", "sz")
    part = (
        f"(({rxy}) - ({rxz}) * ({ryz}))"
        f" / sqrt((1.0 - ({rxz}) * ({rxz})) * (1.0 - ({ryz}) * ({ryz})))"
    )
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS x,
               coalesce(sum(round(value * 100)::BIGINT), 0)::BIGINT AS y,
               count(DISTINCT user_id)::BIGINT AS z
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), m AS (
        SELECT count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(z)::BIGINT AS sz,
               sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
               sum(z * z)::BIGINT AS szz, sum(x * y)::BIGINT AS sxy,
               sum(x * z)::BIGINT AS sxz, sum(y * z)::BIGINT AS syz
        FROM d
    )
    SELECT n AS n_days,
           CASE WHEN n::HUGEINT * sxx > sx::HUGEINT * sx
                 AND n::HUGEINT * syy > sy::HUGEINT * sy THEN
               round({rxy}, 6) END AS r_volume_value,
           CASE WHEN n::HUGEINT * sxx > sx::HUGEINT * sx
                 AND n::HUGEINT * szz > sz::HUGEINT * sz THEN
               round({rxz}, 6) END AS r_volume_users,
           CASE WHEN n::HUGEINT * syy > sy::HUGEINT * sy
                 AND n::HUGEINT * szz > sz::HUGEINT * sz THEN
               round({ryz}, 6) END AS r_value_users,
           CASE WHEN n::HUGEINT * sxx > sx::HUGEINT * sx
                 AND n::HUGEINT * syy > sy::HUGEINT * sy
                 AND n::HUGEINT * szz > sz::HUGEINT * sz THEN
               CASE WHEN (1.0 - ({rxz}) * ({rxz}))
                         * (1.0 - ({ryz}) * ({ryz})) > 0 THEN
                   round({part}, 6) END END AS partial_r_volume_value
    FROM m
    """


def stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count-weighted median of customer account balance per
    nation — "the balance of the typical ORDER's customer", which can
    sit far from the plain customer median when heavy orderers skew
    rich or poor; the weighted companion to the engine's exact
    percentile family.

    Distinct-value collapse first ((nation, balance) with weight
    sums — the cardinality the cumulative walk sees is DISTINCT
    balances, not customers), then a nation-partitioned running weight
    and the smallest balance with 2·cum ≥ total (lower weighted
    median, an exact integer pick; the two-level block idiom is the
    swap-in if per-nation distinct cardinality ever explodes). NULL
    rule: customers with no orders carry weight 0 and drop; NULL
    balance is not a balance (dropped both engines).
    """
    o = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("w")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal").isNotNull())
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
        )
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vc = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name", "bal")
        .agg(F.sum("w").alias("w"), F.count(F.lit(1)).alias("nc"))
    )
    wcum = (
        Window.partitionBy("n_name")
        .orderBy("bal")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("n_name")
    ranked = vc.withColumn("cum", F.sum("w").over(wcum)).withColumn(
        "tw", F.sum("w").over(tot)
    ).withColumn("tc", F.sum("nc").over(tot))
    return (
        ranked.where(2 * F.col("cum") >= F.col("tw"))
        .groupBy("n_name")
        .agg(
            F.max("tc").alias("n_customers"),
            F.max("tw").alias("total_orders"),
            F.min("bal").alias("weighted_median_bal_cents"),
        )
        .withColumnRenamed("n_name", "nation")
        .orderBy("nation")
    )


def stats_weighted_median_sql() -> str:
    return """
    WITH o AS (
        SELECT o_custkey, count(*)::BIGINT AS w FROM orders GROUP BY 1
    ), vc AS (
        SELECT n_name, round(c_acctbal * 100)::BIGINT AS bal,
               sum(w)::BIGINT AS w, count(*)::BIGINT AS nc
        FROM customer
        JOIN o ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal IS NOT NULL
        GROUP BY 1, 2
    ), ranked AS (
        SELECT n_name, bal, nc,
               sum(w) OVER (PARTITION BY n_name ORDER BY bal
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(w) OVER (PARTITION BY n_name) AS tw,
               sum(nc) OVER (PARTITION BY n_name) AS tc
        FROM vc
    )
    SELECT n_name AS nation, max(tc)::BIGINT AS n_customers,
           max(tw)::BIGINT AS total_orders,
           min(bal)::BIGINT AS weighted_median_bal_cents
    FROM ranked WHERE 2 * cum >= tw
    GROUP BY 1 ORDER BY nation
    """


def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on per-user pre/post spend around CUPED_CUT —
    the assumption-free floor of the paired family (only the SIGN of
    each user's change matters): k positives of n non-zero pairs,
    continuity-corrected z. Reads identically to
    stats_wilcoxon_signed_rank's pairing so the two tests are directly
    comparable on the same nulls.

    ONE user-grain shuffle to integer-cent pairs; the statistic needs
    just TWO exact integers (n, k). NULL rule: NULL value is not an
    observation, NULL user_id is not a user, users missing either
    period drop, zero differences drop (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            "value",
            (F.col("ts").cast("timestamp") < F.lit(CUPED_CUT).cast("timestamp")).alias(
                "is_pre"
            ),
        )
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("is_pre"), F.col("value"))).alias("pre"),
            F.sum(F.when(~F.col("is_pre"), F.col("value"))).alias("post"),
        )
        .where(F.col("pre").isNotNull() & F.col("post").isNotNull())
        .select(
            (
                F.round(F.col("post") * 100).cast("bigint")
                - F.round(F.col("pre") * 100).cast("bigint")
            ).alias("d")
        )
        .where(F.col("d") != 0)
    )
    agg = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("d") > 0).cast("bigint")).alias("k"),
    )
    z = "((2.0 * k - n - sign(2.0 * k - n)) / sqrt(cast(n as double)))"
    return agg.selectExpr(
        "n AS n_pairs",
        "k AS n_positive",
        f"{sp_rat6('k', 'n')} AS share_positive",
        f"round({z}, 6) AS z",
    )


def stats_sign_test_sql() -> str:
    z = "((2.0 * k - n - sign(2.0 * k - n)) / sqrt(n::DOUBLE))"
    return f"""
    WITH u AS (
        SELECT user_id,
               sum(CASE WHEN ts::TIMESTAMP < TIMESTAMP '{CUPED_CUT}'
                        THEN value END) AS pre,
               sum(CASE WHEN ts::TIMESTAMP >= TIMESTAMP '{CUPED_CUT}'
                        THEN value END) AS post
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id
    ), d AS (
        SELECT round(post * 100)::BIGINT - round(pre * 100)::BIGINT AS d
        FROM u WHERE pre IS NOT NULL AND post IS NOT NULL
          AND round(post * 100)::BIGINT <> round(pre * 100)::BIGINT
    ), agg AS (
        SELECT count(*)::BIGINT AS n,
               sum((d > 0)::INT)::BIGINT AS k
        FROM d
    )
    SELECT n AS n_pairs, k AS n_positive,
           {dk_rat6('k', 'n')} AS share_positive,
           round({z}, 6) AS z
    FROM agg
    """


def q_lineitem_discount_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-response curve: per PERMILLE-bounded discount level the
    line count, mean quantity and revenue, plus the OLS slope of
    quantity on discount ACROSS levels — "does discounting move
    volume", the pricing-analytics staple over the fact table.

    ONE map-side-combined shuffle to the ≤11-row discount grid (the
    discount domain is bounded by construction); quantities and
    discounts become exact integers (qty, permille) BEFORE any
    aggregation, so the grid moments and the weighted OLS slope over
    the grid are ratios of order-free BIGINTs. NULL rule: NULL
    discount/quantity lines drop (both engines).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount").isNotNull() & F.col("l_quantity").isNotNull())
        .select(
            F.round(F.col("l_discount") * 100).cast("bigint").alias("pct"),
            F.round(F.col("l_quantity")).cast("bigint").alias("q"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint").alias("rev"),
        )
    )
    grid = li.groupBy("pct").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("q").alias("sq"),
        F.sum("rev").alias("rev_cents"),
    )
    m = grid.agg(
        F.sum("n_lines").alias("n"),
        F.sum(F.expr("pct * n_lines")).alias("sx"),
        F.sum("sq").alias("sy"),
        F.sum(F.expr("pct * pct * n_lines")).alias("sxx"),
        F.sum(F.expr("pct * sq")).alias("sxy"),
    )
    # mean_qty and the OLS slope over integer moments are PURE integer
    # rationals — integer-exact HALF_UP (repo round-boundary rule);
    # products widen to decimal(38,0) BEFORE multiplying (100TB-safe).
    sp_p = "(cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy)"
    sp_q = "(cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx)"
    return (
        grid.crossJoin(F.broadcast(m))
        .selectExpr(
            "pct AS discount_pct",
            "n_lines",
            f"{sp_rat6('sq', 'n_lines')} AS mean_qty",
            "rev_cents",
            f"{sp_rat6(sp_p, sp_q)} AS qty_per_pct_slope",
        )
        .orderBy("discount_pct")
    )


def q_lineitem_discount_effect_sql() -> str:
    dk_p = "(n::HUGEINT * sxy - sx::HUGEINT * sy)"
    dk_q = "(n::HUGEINT * sxx - sx::HUGEINT * sx)"
    return f"""
    WITH li AS (
        SELECT round(l_discount * 100)::BIGINT AS pct,
               round(l_quantity)::BIGINT AS q,
               round(l_extendedprice * (1 - l_discount) * 100)::BIGINT AS rev
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
    ), grid AS (
        SELECT pct, count(*)::BIGINT AS n_lines, sum(q)::BIGINT AS sq,
               sum(rev)::BIGINT AS rev_cents
        FROM li GROUP BY 1
    ), m AS (
        SELECT sum(n_lines)::BIGINT AS n,
               sum(pct * n_lines)::BIGINT AS sx,
               sum(sq)::BIGINT AS sy,
               sum(pct * pct * n_lines)::BIGINT AS sxx,
               sum(pct * sq)::BIGINT AS sxy
        FROM grid
    )
    SELECT pct AS discount_pct, n_lines,
           {dk_rat6('sq', 'n_lines')} AS mean_qty,
           rev_cents,
           {dk_rat6(dk_p, dk_q)} AS qty_per_pct_slope
    FROM grid CROSS JOIN m
    ORDER BY discount_pct
    """


def q_orders_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order inter-arrival profile rolled up by market
    segment: how often the typical customer in each segment re-orders
    (mean / exact median / max gap in whole days) — the repeat-purchase
    cadence behind replenishment forecasting; the ENTITY-grain
    counterpart of q_events_inter_arrival's stream-grain gaps.

    Gaps come from a customer-partitioned lag window over (customer,
    order date) rows — per-key partitions, never global — then ONE
    segment rollup; day gaps are exact integers, so only the mean and
    interpolated median are floats (percentile == quantile_cont).
    NULL rule: NULL order dates have no position in the sequence;
    customers with fewer than 2 dated orders contribute no gap; orders
    without a customer match drop (inner join) — both engines.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select("o_custkey", F.col("o_orderdate").cast("date").alias("od"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("od")
    gaps = (
        o.withColumn("gap", F.datediff(F.col("od"), F.lag("od").over(w)))
        .where(F.col("gap").isNotNull())
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        gaps.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.countDistinct("o_custkey").alias("n_repeat_customers"),
            _r(F.avg("gap"), "mean_gap_days"),
            _r(F.expr("percentile(gap, 0.5)"), "p50_gap_days"),
            F.max("gap").alias("max_gap_days"),
        )
        .withColumnRenamed("c_mktsegment", "segment")
        .orderBy("segment")
    )


def q_orders_interarrival_sql() -> str:
    return """
    WITH o AS (
        SELECT o_custkey, o_orderdate::DATE AS od
        FROM orders WHERE o_orderdate IS NOT NULL
    ), gaps AS (
        SELECT o_custkey,
               datediff('day',
                   lag(od) OVER (PARTITION BY o_custkey ORDER BY od), od) AS gap
        FROM o QUALIFY gap IS NOT NULL
    )
    SELECT c_mktsegment AS segment, count(*)::BIGINT AS n_gaps,
           count(DISTINCT o_custkey)::BIGINT AS n_repeat_customers,
           round(avg(gap), 6) AS mean_gap_days,
           round(quantile_cont(gap, 0.5), 6) AS p50_gap_days,
           max(gap)::BIGINT AS max_gap_days
    FROM gaps JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY segment
    """


def stats_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per event type: Q1/Q3 and 1.5·IQR
    fences over the integer-cent values, counts and share beyond each
    fence — the box-plot screen every metric dashboard applies before
    trusting a mean; the threshold complement to q_events_mad's robust
    z-scores.

    ONE aggregation per type: exact interpolated quartiles
    (percentile == quantile_cont on integer cents, so both engines
    derive bit-identical fence doubles from identical operands) and
    conditional counts against those fences inside the SAME pass — no
    second scan, no broadcast-back. NULL rule: NULL value is not an
    observation; NULL event_type is its own group (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
        )
    )
    # quartiles first (exact interpolated on integer cents), fences
    # broadcast back — Spark disallows percentile nested in sum
    qs = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.expr("percentile(v, 0.25)").alias("q1_raw"),
        F.expr("percentile(v, 0.75)").alias("q3_raw"),
    )
    j = ev.join(
        F.broadcast(qs), F.col("event_type").eqNullSafe(F.col("_et"))
    ).selectExpr(
        "event_type",
        "v",
        "q1_raw",
        "q3_raw",
        "(q1_raw - 1.5 * (q3_raw - q1_raw)) AS lo",
        "(q3_raw + 1.5 * (q3_raw - q1_raw)) AS hi",
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("round(max(q1_raw), 6)").alias("q1"),
            F.expr("round(max(q3_raw), 6)").alias("q3"),
            F.sum((F.col("v") < F.col("lo")).cast("bigint")).alias("n_low"),
            F.sum((F.col("v") > F.col("hi")).cast("bigint")).alias("n_high"),
        )
        .selectExpr(
            "event_type",
            "n",
            "q1",
            "q3",
            "n_low",
            "n_high",
            f"{sp_rat6('n_low + n_high', 'n')} AS outlier_share",
        )
        .orderBy("event_type")
    )


def stats_iqr_outliers_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT event_type, round(value * 100)::BIGINT AS v
        FROM events WHERE value IS NOT NULL
    ), qs AS (
        SELECT event_type AS _et,
               quantile_cont(v, 0.25) AS q1_raw,
               quantile_cont(v, 0.75) AS q3_raw
        FROM ev GROUP BY 1
    ), j AS (
        SELECT event_type, v, q1_raw, q3_raw,
               (q1_raw - 1.5 * (q3_raw - q1_raw)) AS lo,
               (q3_raw + 1.5 * (q3_raw - q1_raw)) AS hi
        FROM ev JOIN qs ON event_type IS NOT DISTINCT FROM _et
    )
    SELECT event_type, count(*)::BIGINT AS n,
           round(max(q1_raw), 6) AS q1,
           round(max(q3_raw), 6) AS q3,
           sum((v < lo)::INT)::BIGINT AS n_low,
           sum((v > hi)::INT)::BIGINT AS n_high,
           {dk_rat6("sum((v < lo)::INT)::BIGINT + sum((v > hi)::INT)::BIGINT",
                    "count(*)")} AS outlier_share
    FROM j GROUP BY event_type ORDER BY event_type
    """


def q_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-nation → supplier-nation trade concentration: for each
    customer nation, its TOP supplier nation by revenue and that
    partner's share of the nation's spend — the full-matrix
    generalization of TPC-H Q7's fixed nation pair, collapsed to the
    decision-ready top-partner view.

    Shape: lineitem⋈orders co-partitioned on the order key (both fact
    tables — no broadcast assumption), customer keyed at order grain,
    supplier + both nation dims BROADCAST; revenue lands on the
    bounded ≤25×25 nation-pair grid in ONE aggregation, and top-partner
    is a rank window on that bounded grid. Integer cents throughout;
    share divides exact integers. NULL rule: lines missing any
    dimension key drop (inner joins, both engines).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint").alias("rev"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "cust_nation")),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("_snk"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("_snk"),
        )
        .groupBy("cust_nation", "supp_nation")
        .agg(F.sum("rev").alias("rev_cents"))
    )
    tot = Window.partitionBy("cust_nation")
    rk = Window.partitionBy("cust_nation").orderBy(
        F.desc("rev_cents"), F.asc("supp_nation")
    )
    return (
        pair.withColumn("total_cents", F.sum("rev_cents").over(tot))
        .withColumn("n_partners", F.count(F.lit(1)).over(tot))
        .withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") == 1)
        .selectExpr(
            "cust_nation",
            "supp_nation AS top_supplier_nation",
            "rev_cents AS top_rev_cents",
            "total_cents",
            "n_partners",
            f"{sp_rat6('rev_cents', 'total_cents')} AS top_share",
        )
        .orderBy("cust_nation")
    )


def q_nation_trade_matrix_sql() -> str:
    return f"""
    WITH pair AS (
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
                   AS rev_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT *,
               sum(rev_cents) OVER (PARTITION BY cust_nation) AS total_cents,
               count(*) OVER (PARTITION BY cust_nation) AS n_partners,
               row_number() OVER (PARTITION BY cust_nation
                   ORDER BY rev_cents DESC, supp_nation) AS rank
        FROM pair
    )
    SELECT cust_nation, supp_nation AS top_supplier_nation,
           rev_cents AS top_rev_cents, total_cents::BIGINT AS total_cents,
           n_partners::BIGINT AS n_partners,
           {dk_rat6('rev_cents', 'total_cents::BIGINT')} AS top_share
    FROM ranked WHERE rank = 1
    ORDER BY cust_nation
    """


def stats_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing order-fulfilment durations between
    urgent (priority 1-2) and normal (3-5) orders — "do urgent orders
    actually complete faster over their WHOLE distribution", the
    two-group comparison stats_survival_km's single curve can't make.
    Durations are fully observed here, but the statistic is computed
    in its general at-risk form (O−E over the event-time grid), so
    censoring plugs in unchanged.

    Order grain collapses in ONE pass per table (last ship date per
    order, priority rank per order); the event-time grid is the
    bounded integer day-lag axis, at-risk counts are suffix sums =
    total − running prefix over that bounded grid (one global window
    on a bounded intermediate), and O, E, V fold from exact integers
    — z is the only float. NULL rule: orders without a dated line or
    order date have no duration (dropped both engines).
    """
    fin = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("fin"))
        .where(F.col("fin").isNotNull())
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & F.col("o_orderpriority").isNotNull())
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            (F.substring("o_orderpriority", 1, 1).cast("int") <= 2).alias("g1"),
        )
    )
    dur = o.join(fin, o.o_orderkey == fin.l_orderkey).select(
        F.datediff("fin", "od").alias("t"), "g1"
    )
    grid = dur.groupBy("t").agg(
        F.sum(F.col("g1").cast("bigint")).alias("d1"),
        F.sum((~F.col("g1")).cast("bigint")).alias("d2"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    g = (
        grid.withColumn("p1", F.coalesce(F.sum("d1").over(w), F.lit(0)))
        .withColumn("p2", F.coalesce(F.sum("d2").over(w), F.lit(0)))
        .crossJoin(
            F.broadcast(
                grid.agg(
                    F.sum("d1").alias("t1"), F.sum("d2").alias("t2")
                )
            )
        )
        .selectExpr(
            "d1",
            "d2",
            "(t1 - p1) AS n1",
            "(t2 - p2) AS n2",
        )
    )
    agg = g.selectExpr(
        "d1",
        "(d1 + d2) AS dt",
        "(n1 + n2) AS nt",
        "n1",
    ).groupBy().agg(
        F.sum("d1").alias("o1"),
        F.sum(F.expr("dt * cast(n1 as double) / nt")).alias("e1"),
        F.sum(
            F.expr(
                "CASE WHEN nt > 1 THEN dt * (cast(n1 as double) / nt)"
                " * (1.0 - cast(n1 as double) / nt)"
                " * (nt - dt) / (nt - 1.0) ELSE 0.0 END"
            )
        ).alias("v1"),
    )
    # the hypergeometric variance is a sum of NON-NEGATIVE terms, so
    # v1 = 0 exactly (order-independent, both engines) when no event
    # time has two groups at risk — z/chi2 undefined there (round-10
    # single-row probe): NULL, not an ANSI crash
    return agg.selectExpr(
        "o1 AS observed_urgent",
        "round(e1, 6) AS expected_urgent",
        "CASE WHEN v1 > 0 THEN round((o1 - e1) / sqrt(v1), 6) END AS z",
        "CASE WHEN v1 > 0 THEN "
        "round((o1 - e1) * (o1 - e1) / v1, 4) END AS chi2",
    )


def stats_log_rank_sql() -> str:
    return """
    WITH fin AS (
        SELECT l_orderkey, max(l_shipdate::DATE) AS fin
        FROM lineitem GROUP BY 1 HAVING max(l_shipdate::DATE) IS NOT NULL
    ), o AS (
        SELECT o_orderkey, o_orderdate::DATE AS od,
               (substring(o_orderpriority, 1, 1)::INT <= 2) AS g1
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
    ), dur AS (
        SELECT datediff('day', od, fin) AS t, g1
        FROM o JOIN fin ON o_orderkey = l_orderkey
    ), grid AS (
        SELECT t, sum(g1::INT)::BIGINT AS d1,
               sum((NOT g1)::INT)::BIGINT AS d2
        FROM dur GROUP BY 1
    ), g AS (
        SELECT d1, d2,
               (sum(d1) OVER () -
                coalesce(sum(d1) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS n1,
               (sum(d2) OVER () -
                coalesce(sum(d2) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS n2
        FROM grid
    ), agg AS (
        SELECT sum(d1)::BIGINT AS o1,
               sum((d1 + d2) * n1::DOUBLE / (n1 + n2)) AS e1,
               sum(CASE WHEN n1 + n2 > 1 THEN
                   (d1 + d2) * (n1::DOUBLE / (n1 + n2))
                   * (1.0 - n1::DOUBLE / (n1 + n2))
                   * ((n1 + n2) - (d1 + d2)) / ((n1 + n2) - 1.0)
                   ELSE 0.0 END) AS v1
        FROM g
    )
    SELECT o1 AS observed_urgent,
           round(e1, 6) AS expected_urgent,
           CASE WHEN v1 > 0 THEN
               round((o1 - e1) / sqrt(v1), 6) END AS z,
           CASE WHEN v1 > 0 THEN
               round((o1 - e1) * (o1 - e1) / v1, 4) END AS chi2
    FROM agg
    """


def stats_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices of part prices per
    order year against the FIRST year as base — "how much did the same
    basket get more expensive" with base-period vs current-period
    quantity weights, the econometrics staple over the fact table.

    Unit prices are ratios of EXACT integers ((year, part) cent and
    quantity sums — one shuffle), so both engines derive bit-identical
    price doubles; the base year joins back part-keyed (the part
    dimension is bounded — broadcast), matched-part index sums round
    at 6 dp. The base year is data-derived via a 1-row broadcast, not
    assumed. NULL rule: lines without a date, part, price or quantity
    drop (both engines); parts absent from the base year drop from
    that year's basket (inner join — the matched-sample discipline).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("sp"),
    ).filter(
        F.col("l_partkey").isNotNull() & F.col("q").isNotNull() & F.col("sp").isNotNull()
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select("o_orderkey", F.year("o_orderdate").alias("yr"))
    )
    yp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("yr", "l_partkey")
        .agg(F.sum("q").alias("sq"), F.sum("sp").alias("sp"))
        .where(F.col("sq") > 0)
        # yp fans out to the base-year scalar, the base basket and
        # the index join — 3 fact joins unpinned. (year x part)
        # grain is part-dimension-bounded, so pin; the
        # lineitem-orders join runs once.
        .transform(pin)
    )
    base_yr = F.broadcast(yp.agg(F.min("yr").alias("byr")))
    base = (
        yp.crossJoin(base_yr)
        .where(F.col("yr") == F.col("byr"))
        .select(
            F.col("l_partkey").alias("_pk"),
            F.col("sq").alias("qb"),
            F.col("sp").alias("spb"),
            F.col("sq").alias("sqb"),
        )
    )
    # per-part basket terms as exact HALF_UP MICRO-CENT integers
    # (q·p = q·sp/sq): the old float Σ(q·p) was summation-order
    # dependent; integer micro-unit sums are order-free and the index
    # ratios become PURE integer rationals (round-boundary rule).
    j = yp.join(F.broadcast(base), yp.l_partkey == F.col("_pk")).selectExpr(
        "yr",
        f"{sp_units('cast(qb as decimal(38,0)) * sp', 'sq')} AS l_num_u",
        f"{sp_units('cast(qb as decimal(38,0)) * spb', 'sqb')} AS l_den_u",
        "sp * 1000000 AS p_num_u",
        f"{sp_units('cast(sq as decimal(38,0)) * spb', 'sqb')} AS p_den_u",
    )
    agg = j.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_parts_matched"),
        F.sum(F.expr("cast(l_num_u as decimal(38,0))")).alias("l_num"),
        F.sum(F.expr("cast(l_den_u as decimal(38,0))")).alias("l_den"),
        F.sum(F.expr("cast(p_num_u as decimal(38,0))")).alias("p_num"),
        F.sum(F.expr("cast(p_den_u as decimal(38,0))")).alias("p_den"),
    )
    return (
        agg.selectExpr(
            "yr AS year",
            "n_parts_matched",
            f"{sp_rat6('l_num', 'l_den')} AS laspeyres",
            f"{sp_rat6('p_num', 'p_den')} AS paasche",
            "round(sqrt((cast(l_num as double) / l_den)"
            " * (cast(p_num as double) / p_den)), 6) AS fisher",
        )
        .orderBy("year")
    )


def stats_price_index_sql() -> str:
    return f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey,
               round(l_quantity)::BIGINT AS q,
               round(l_extendedprice * 100)::BIGINT AS sp
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_quantity IS NOT NULL
          AND l_extendedprice IS NOT NULL
    ), yp AS (
        SELECT year(o_orderdate)::BIGINT AS yr, l_partkey,
               sum(q)::BIGINT AS sq, sum(sp)::BIGINT AS sp
        FROM li JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2 HAVING sum(q) > 0
    ), base AS (
        SELECT l_partkey AS _pk, sq AS qb, sp AS spb, sq AS sqb
        FROM yp WHERE yr = (SELECT min(yr) FROM yp)
    ), j AS (
        SELECT yr,
               {dk_units('qb::HUGEINT * sp', 'sq')} AS l_num_u,
               {dk_units('qb::HUGEINT * spb', 'sqb')} AS l_den_u,
               sp::HUGEINT * 1000000 AS p_num_u,
               {dk_units('sq::HUGEINT * spb', 'sqb')} AS p_den_u
        FROM yp JOIN base ON l_partkey = _pk
    ), agg AS (
        SELECT yr AS year, count(*)::BIGINT AS n_parts_matched,
               sum(l_num_u) AS l_num, sum(l_den_u) AS l_den,
               sum(p_num_u) AS p_num, sum(p_den_u) AS p_den
        FROM j GROUP BY 1
    )
    SELECT year, n_parts_matched,
           {dk_rat6('l_num', 'l_den')} AS laspeyres,
           {dk_rat6('p_num', 'p_den')} AS paasche,
           round(sqrt((l_num::DOUBLE / l_den) * (p_num::DOUBLE / p_den)), 6)
               AS fisher
    FROM agg ORDER BY year
    """


def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the daily purchase share of
    events — the small-sample-safe proportion CI (never leaves [0,1],
    unlike the Wald interval) that belongs on every conversion
    dashboard; the uncertainty companion to q_events_funnel's point
    counts.

    ONE conditional aggregation to the DAYS-bounded grain (exact
    integer n, k per day); the Wilson bounds are closed-form arithmetic
    on those integers with the shared z = 1.96 literal, so both
    engines evaluate identical operands. NULL rule: NULL ts has no
    day; NULL event_type is not a purchase (boolean false, both
    engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).alias("k"),
        )
    )
    z2 = "3.8416"  # 1.96^2
    center = f"((k + {z2} / 2.0) / (n + {z2}))"
    half = (
        f"(1.96 * sqrt(cast(k as double) * (n - k) / n + {z2} / 4.0)"
        f" / (n + {z2}))"
    )
    return (
        ev.selectExpr(
            "day",
            "n AS n_events",
            "k AS n_purchases",
            f"{sp_rat6('k', 'n')} AS p_hat",
            f"round({center} - {half}, 6) AS wilson_low",
            f"round({center} + {half}, 6) AS wilson_high",
        )
        .orderBy("day")
    )


def stats_wilson_ci_sql() -> str:
    z2 = "3.8416"
    center = f"((k + {z2} / 2.0) / (n + {z2}))"
    half = (
        f"(1.96 * sqrt(k::DOUBLE * (n - k) / n + {z2} / 4.0)"
        f" / (n + {z2}))"
    )
    return f"""
    WITH ev AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS n,
               sum((event_type = 'purchase')::INT)::BIGINT AS k
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT day, n AS n_events, k AS n_purchases,
           {dk_rat6('k', 'n')} AS p_hat,
           round({center} - {half}, 6) AS wilson_low,
           round({center} + {half}, 6) AS wilson_high
    FROM ev ORDER BY day
    """


def q_brand_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue-share trajectory: each brand's share of yearly
    revenue, the prior year's share and the share delta — the
    market-movement table (who is gaining) behind q8_market_share's
    single-nation view.

    ONE aggregation to the bounded (brand × year) grid (exact integer
    cents), shares divide exact integers WITHIN the window functions'
    bounded grid; the lag runs per brand over the ≤#years axis. NULL
    rule: lines without a part match or order date drop (inner joins,
    both engines).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint").alias("rev"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select("o_orderkey", F.year("o_orderdate").alias("yr"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    grid = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "yr")
        .agg(F.sum("rev").alias("rev_cents"))
    )
    wy = Window.partitionBy("yr")
    wb = Window.partitionBy("p_brand").orderBy("yr")
    out = (
        grid.withColumn("yr_total", F.sum("rev_cents").over(wy))
        # integer-exact HALF_UP share (repo round-boundary rule)
        .withColumn("share", F.expr(sp_rat6("rev_cents", "yr_total")))
        .withColumn("prev_share", F.lag("share").over(wb))
        .where(F.col("prev_share").isNotNull())
        .selectExpr(
            "p_brand AS brand",
            "yr AS year",
            "rev_cents",
            "share",
            "prev_share",
            "round(share - prev_share, 6) AS share_delta",
        )
    )
    return out.orderBy("brand", "year")


def q_brand_share_shift_sql() -> str:
    return f"""
    WITH grid AS (
        SELECT p_brand, year(o_orderdate)::BIGINT AS yr,
               sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
                   AS rev_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2
    ), s0 AS (
        SELECT p_brand, yr, rev_cents,
               sum(rev_cents) OVER (PARTITION BY yr) AS yr_total
        FROM grid
    ), s AS (
        SELECT p_brand, yr, rev_cents,
               {dk_rat6('rev_cents', 'yr_total')} AS share
        FROM s0
    ), lagged AS (
        SELECT p_brand, yr, rev_cents, share,
               lag(share) OVER (PARTITION BY p_brand ORDER BY yr) AS prev_share
        FROM s
    )
    SELECT p_brand AS brand, yr AS year, rev_cents, share, prev_share,
           round(share - prev_share, 6) AS share_delta
    FROM lagged WHERE prev_share IS NOT NULL
    ORDER BY brand, year
    """


def q_events_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type audience overlap: for every type pair the shared-user
    count and Jaccard — "do clickers also purchase", the audience-
    planning matrix; the set-algebra companion to q_events_funnel's
    ordered path.

    DISTINCT (user, type) first (ONE shuffle — the self-join then runs
    at user-type cardinality, not event cardinality), pair generation
    co-partitioned on user with the TYPES-bounded ≤T²/2 fan-out per
    user, per-type totals broadcast back onto the ≤T² pair grid. All
    counts exact integers; Jaccard divides them. NULL rule: NULL
    user/type rows are not memberships (both engines).
    """
    ut = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
        .distinct()
        # ut feeds both self-join sides AND the per-type totals —
        # unpinned, the events scan + distinct ran 3x. (user, type)
        # grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    a = ut.select("user_id", F.col("event_type").alias("t1"))
    b = ut.select(F.col("user_id").alias("_u"), F.col("event_type").alias("t2"))
    pairs = (
        a.join(b, (F.col("user_id") == F.col("_u")) & (F.col("t1") < F.col("t2")))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    tot = ut.groupBy(F.col("event_type").alias("_t")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return (
        pairs.join(
            F.broadcast(tot.select(F.col("_t").alias("_ta"), F.col("n_users").alias("n1"))),
            F.col("t1") == F.col("_ta"),
        )
        .join(
            F.broadcast(tot.select(F.col("_t").alias("_tb"), F.col("n_users").alias("n2"))),
            F.col("t2") == F.col("_tb"),
        )
        .selectExpr(
            "t1",
            "t2",
            "n1 AS n_users_t1",
            "n2 AS n_users_t2",
            "n_both",
            f"{sp_rat6('n_both', 'n1 + n2 - n_both')} AS jaccard",
        )
        .orderBy("t1", "t2")
    )


def q_events_type_overlap_sql() -> str:
    return f"""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ), pairs AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               count(*)::BIGINT AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ), tot AS (
        SELECT event_type AS t, count(*)::BIGINT AS n_users
        FROM ut GROUP BY 1
    )
    SELECT t1, t2, ta.n_users AS n_users_t1, tb.n_users AS n_users_t2,
           n_both,
           {dk_rat6('n_both', 'ta.n_users + tb.n_users - n_both')}
               AS jaccard
    FROM pairs
    JOIN tot ta ON t1 = ta.t
    JOIN tot tb ON t2 = tb.t
    ORDER BY t1, t2
    """


def stats_entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain — how
    PREDICTABLE the next action is given the current one (0 = fully
    scripted sessions, ln K = memoryless noise); the single-number
    health check over stats_markov_transitions' full matrix, with the
    memoryless entropy and the information gain beside it.

    Transitions come from the same per-user lead window (ordered
    (ts, event_id) — the pinned deterministic tie-break); counts land
    on the TYPES²-bounded grid, and every entropy term is
    c·ln(ratio-of-exact-integers), so both engines fold identical
    operands. NULL rule: NULL user/type/ts rows form no transition
    (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # trans fans out to the row marginal (consumed twice) and the
    # joint entropy join — 3 events scans AND 3 runs of the per-user
    # lead window unpinned. TYPES²-bounded, so pin; the fact and its
    # window run once.
    trans = pin(trans)
    rows = trans.groupBy("a").agg(F.sum("c").alias("ca"))
    j = trans.join(
        F.broadcast(rows.withColumnRenamed("a", "_a")), F.col("a") == F.col("_a")
    )
    agg = j.agg(
        F.sum("c").alias("n"),
        F.countDistinct("a").alias("k"),
        F.sum(F.expr("c * ln(cast(ca as double) / c)")).alias("h_sum"),
    )
    # memoryless entropy over the FROM-state marginal
    uni = rows.agg(
        F.sum("ca").alias("n2"),
        F.sum(F.expr("ca * ln(cast(ca as double))")).alias("u_sum"),
    ).selectExpr("(ln(cast(n2 as double)) - u_sum / n2) AS h0")
    return (
        agg.crossJoin(F.broadcast(uni))
        .selectExpr(
            "n AS n_transitions",
            "k AS n_states",
            "round(h_sum / n, 6) AS entropy_rate",
            "round(h0, 6) AS entropy_memoryless",
            "round(h0 - h_sum / n, 6) AS info_gain",
        )
    )


def stats_entropy_rate_markov_sql() -> str:
    return """
    WITH ev AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL
    ), trans AS (
        SELECT event_type AS a,
               lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS b
        FROM ev QUALIFY b IS NOT NULL
    ), cnt AS (
        SELECT a, b, count(*)::BIGINT AS c FROM trans GROUP BY 1, 2
    ), rows_ AS (
        SELECT a, sum(c)::BIGINT AS ca FROM cnt GROUP BY 1
    ), agg AS (
        SELECT sum(c)::BIGINT AS n,
               count(DISTINCT cnt.a)::BIGINT AS k,
               sum(c * ln(ca::DOUBLE / c)) AS h_sum
        FROM cnt JOIN rows_ ON cnt.a = rows_.a
    ), uni AS (
        SELECT (ln(sum(ca)::DOUBLE) - sum(ca * ln(ca::DOUBLE)) / sum(ca)) AS h0
        FROM rows_
    )
    SELECT n AS n_transitions, k AS n_states,
           round(h_sum / n, 6) AS entropy_rate,
           round(h0, 6) AS entropy_memoryless,
           round(h0 - h_sum / n, 6) AS info_gain
    FROM agg CROSS JOIN uni
    """


def q_orders_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week order profile with a χ² uniformity test: order
    counts, revenue and mean value per weekday, and whether the weekly
    shape is real or noise — the seasonality screen at the week scale
    (stats_seasonal_decompose handles the longer cycles).

    One aggregation to the 7-row dow grid (exact integers; the dow key
    is Spark dayofweek−1 == DuckDB dayofweek, Sunday=0 — the pinned
    cross-engine convention), the χ² against uniform expected counts
    folds exact integers via a 1-row broadcast. NULL order dates have
    no weekday (dropped both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    grid = o.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("rev_cents"),
    )
    tot = grid.agg(F.sum("n_orders").alias("nn"), F.count(F.lit(1)).alias("kk"))
    # χ² = Σ(k·n_i − n)²/(n·k) and the 2dp mean are integer rationals —
    # integer-exact HALF_UP (round-boundary rule), widened products.
    j = grid.crossJoin(F.broadcast(tot)).withColumn(
        "devnum",
        F.expr(
            "(cast(kk as decimal(38,0)) * n_orders - nn)"
            " * (cast(kk as decimal(38,0)) * n_orders - nn)"
        ),
    )
    wall = Window.partitionBy()
    return (
        j.withColumn("sdev", F.sum("devnum").over(wall))
        .selectExpr(
            "dow",
            "n_orders",
            "rev_cents",
            f"{sp_rat('rev_cents', 'n_orders', 2)} AS mean_cents",
            f"{sp_rat('sdev', 'cast(nn as decimal(38,0)) * kk', 4)} AS chi2_uniform",
        )
        .orderBy("dow")
    )


def q_orders_dow_profile_sql() -> str:
    return f"""
    WITH o AS (
        SELECT dayofweek(o_orderdate)::BIGINT AS dow,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
    ), grid AS (
        SELECT dow, count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS rev_cents
        FROM o GROUP BY 1
    ), tot AS (
        SELECT sum(n_orders)::BIGINT AS nn, count(*)::BIGINT AS kk FROM grid
    ), j AS (
        SELECT dow, n_orders, rev_cents, nn, kk,
               (kk::HUGEINT * n_orders - nn) * (kk::HUGEINT * n_orders - nn)
                   AS devnum
        FROM grid CROSS JOIN tot
    )
    SELECT dow, n_orders, rev_cents,
           {dk_rat('rev_cents', 'n_orders', 2)} AS mean_cents,
           {dk_rat('sum(devnum) OVER ()', 'nn::HUGEINT * kk', 4)} AS chi2_uniform
    FROM j ORDER BY dow
    """


def stats_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement between the order header total and the
    lineitem-derived total (Σ extprice·(1−disc)·(1+tax)) — the
    measurement-agreement statistics (mean bias, SD of differences,
    95% limits of agreement, share outside) behind every
    two-pipelines-one-truth reconciliation; q_reconcile_sources lists
    the mismatching ROWS, this characterizes the disagreement
    DISTRIBUTION.

    ONE order-grain collapse per side (exact integer cents), exact
    BIGINT difference moments (n·Σd² − (Σd)² — order-free), the LoA
    doubles derive from identical operands so the outside-LoA compare
    sees identical fences in both engines. NULL rule: orders with no
    lineitems have no derived total (inner join, both engines); NULL
    tax/discount lines contribute their NULL-skipped products
    identically.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                ).cast("bigint")
            ).alias("derived")
        )
        .where(F.col("derived").isNotNull())
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("header"),
        )
    )
    d = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("header") - F.col("derived")).alias("d")
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sd_"),
        F.sum(F.expr("d * d")).alias("sdd"),
    )
    # limits of agreement are undefined for n < 2 or zero variance
    # (round-9 degenerate-input probe): sd/LoA/outside emit NULL instead
    # of an ANSI DIVIDE_BY_ZERO crash; the variance-positive guard is
    # the EXACT integer discriminant (sdd is an exact bigint here)
    pos = (
        "(n >= 2 AND cast(n as decimal(38,0)) * sdd"
        " - cast(sd_ as decimal(38,0)) * sd_ > 0)"
    )
    mean = "(cast(sd_ as double) / n)"
    sd = f"sqrt((n * cast(sdd as double) - cast(sd_ as double) * sd_) / (n * (n - 1.0)))"
    j = d.crossJoin(F.broadcast(m)).selectExpr(
        "n",
        "sd_",
        "sdd",
        f"CASE WHEN {pos} THEN"
        f" (cast(d as double) < {mean} - 1.96 * {sd}"
        f" OR cast(d as double) > {mean} + 1.96 * {sd}) END AS outside",
    )
    return (
        j.groupBy()
        .agg(
            F.max("n").alias("n_orders"),
            F.max(F.expr(sp_rat6("sd_", "n"))).alias("mean_diff_cents"),
            F.max(F.expr(f"CASE WHEN {pos} THEN round({sd}, 6) END")).alias(
                "sd_diff_cents"
            ),
            F.max(
                F.expr(f"CASE WHEN {pos} THEN round({mean} - 1.96 * {sd}, 6) END")
            ).alias("loa_low"),
            F.max(
                F.expr(f"CASE WHEN {pos} THEN round({mean} + 1.96 * {sd}, 6) END")
            ).alias("loa_high"),
            F.sum(F.col("outside").cast("bigint")).alias("n_outside"),
        )
        .selectExpr(
            "n_orders",
            "mean_diff_cents",
            "sd_diff_cents",
            "loa_low",
            "loa_high",
            "n_outside",
            f"{sp_rat6('n_outside', 'n_orders')} AS share_outside",
        )
    )


def stats_bland_altman_sql() -> str:
    pos = "(n >= 2 AND n::HUGEINT * sdd - sd_::HUGEINT * sd_ > 0)"
    mean = "(sd_::DOUBLE / n)"
    sd = "sqrt((n * sdd::DOUBLE - sd_::DOUBLE * sd_) / (n * (n - 1.0)))"
    return f"""
    WITH li AS (
        SELECT l_orderkey,
               sum(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                   * 100)::BIGINT)::BIGINT AS derived
        FROM lineitem GROUP BY 1
        HAVING sum(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                   * 100)::BIGINT) IS NOT NULL
    ), d AS (
        SELECT (round(o_totalprice * 100)::BIGINT - derived)::BIGINT AS d
        FROM orders JOIN li ON o_orderkey = l_orderkey
        WHERE o_totalprice IS NOT NULL
    ), m AS (
        SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS sd_,
               sum(d * d)::BIGINT AS sdd
        FROM d
    ), j AS (
        SELECT n, sd_, sdd,
               CASE WHEN {pos} THEN
                   (d::DOUBLE < {mean} - 1.96 * {sd}
                    OR d::DOUBLE > {mean} + 1.96 * {sd}) END AS outside
        FROM d CROSS JOIN m
    )
    SELECT n_orders,
           {dk_rat6('sd2', 'n_orders')} AS mean_diff_cents,
           sd_diff_cents, loa_low, loa_high, n_outside,
           {dk_rat6('n_outside', 'n_orders')} AS share_outside
    FROM (
        SELECT max(n)::BIGINT AS n_orders,
               max(sd_)::BIGINT AS sd2,
               max(CASE WHEN {pos} THEN round({sd}, 6) END) AS sd_diff_cents,
               max(CASE WHEN {pos} THEN
                   round({mean} - 1.96 * {sd}, 6) END) AS loa_low,
               max(CASE WHEN {pos} THEN
                   round({mean} + 1.96 * {sd}, 6) END) AS loa_high,
               sum(outside::INT)::BIGINT AS n_outside
        FROM j
    )
    """


LJUNG_BOX_LAGS = 5


def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event-count series: are
    the first 5 autocorrelations JOINTLY zero (Q ≈ χ²₅ under white
    noise) — the whole-memory test behind stats_autocorrelation's
    per-lag view, and the residual-whiteness gate a forecaster checks
    before trusting a model.

    ONE shuffle to the DAYS-bounded grain (exact integer counts); the
    5 lag columns come from ONE ordered window pass over that bounded
    axis, the centered products use a mean of exact integers (identical
    cross-engine), and each r_k is a ratio of identically-derived
    doubles. Q folds the 5 bounded terms. NULL ts has no day (dropped
    both engines).
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("day")
    lagged = d.select(
        "x",
        *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, LJUNG_BOX_LAGS + 1)],
    )
    m = F.broadcast(
        d.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
    )
    c = lagged.crossJoin(m).selectExpr(
        "n",
        "(x - cast(sx as double) / n) AS xc",
        *[
            f"(x{k} - cast(sx as double) / n) AS xc{k}"
            for k in range(1, LJUNG_BOX_LAGS + 1)
        ],
    )
    agg = c.groupBy().agg(
        F.max("n").alias("n"),
        F.sum(F.expr("xc * xc")).alias("c0"),
        *[
            F.sum(F.expr(f"xc * xc{k}")).alias(f"c{k}")
            for k in range(1, LJUNG_BOX_LAGS + 1)
        ],
    )
    rks = [f"(c{k} / c0)" for k in range(1, LJUNG_BOX_LAGS + 1)]
    q = " + ".join(
        f"({rk} * {rk} / (n - {k}))" for k, rk in enumerate(rks, start=1)
    )
    return agg.selectExpr(
        "n AS n_days",
        *[
            f"round({rk}, 6) AS r{k}"
            for k, rk in enumerate(rks, start=1)
        ],
        f"round(n * (n + 2.0) * ({q}), 4) AS q_stat",
    )


def stats_ljung_box_sql() -> str:
    lags = range(1, LJUNG_BOX_LAGS + 1)
    rks = [f"(c{k} / c0)" for k in lags]
    q = " + ".join(
        f"({rk} * {rk} / (n - {k}))" for k, rk in zip(lags, rks)
    )
    lag_cols = ", ".join(
        f"lag(x, {k}) OVER (ORDER BY day) AS x{k}" for k in lags
    )
    xc_cols = ", ".join(
        f"(x{k} - sx::DOUBLE / n) AS xc{k}" for k in lags
    )
    c_cols = ", ".join(f"sum(xc * xc{k}) AS c{k}" for k in lags)
    r_cols = ", ".join(
        f"round({rk}, 6) AS r{k}" for k, rk in zip(lags, rks)
    )
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), lagged AS (
        SELECT x, {lag_cols} FROM d
    ), m AS (
        SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx FROM d
    ), c AS (
        SELECT n, (x - sx::DOUBLE / n) AS xc, {xc_cols}
        FROM lagged CROSS JOIN m
    ), agg AS (
        SELECT max(n)::BIGINT AS n, sum(xc * xc) AS c0, {c_cols}
        FROM c
    )
    SELECT n AS n_days, {r_cols},
           round(n * (n + 2.0) * ({q}), 4) AS q_stat
    FROM agg
    """


def stats_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-outlier test on daily revenue: the single most
    anomalous day, its deviation in standard deviations (G), and the
    day itself — "was there ONE broken day" where stats_control_chart
    watches the whole sequence.

    TWO passes over the DAYS-bounded grain: exact integer moments give
    mean/sd (identical doubles both engines), then the max |deviation|
    is found as an exact integer-micro max and the winning day joins
    back at grid cardinality with min-day as tie-break (the witness
    idiom — no argmax-by-float). NULL order dates have no day (both
    engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
        )
        # d feeds the moment agg AND scored, and the scored subtree is
        # consumed twice (best + witness filter) — 4 orders scans
        # unpinned. DAYS-bounded, so pin; fact scanned once.
        .transform(pin)
    )
    m = F.broadcast(
        d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sy"),
            # y~1e8 cents: y*y*#days overflows BIGINT — sum double products
            # (both engines; mean stays EXACT from the integer sy, and sd
            # only feeds the 4-dp z output)
            F.sum(F.expr("cast(y as double) * cast(y as double)")).alias("syy"),
        )
    )
    # Grubbs is undefined for n < 2 or zero variance (round-9
    # degenerate-input probe): z emits NULL there instead of an ANSI
    # DIVIDE_BY_ZERO crash. The variance check reuses the identical
    # IEEE expression both engines already share, so the branch taken
    # is bit-identical cross-engine; values unchanged on real series.
    mean = "(cast(sy as double) / n)"
    var_num = "(n * syy - cast(sy as double) * sy)"
    sd = f"sqrt({var_num} / (n * (n - 1.0)))"
    scored = d.crossJoin(m).selectExpr(
        "day",
        "n",
        f"cast(round(abs(cast(y as double) - {mean}) * 1e6) as bigint) AS dev6",
        f"CASE WHEN n >= 2 AND {var_num} > 0 THEN"
        f" ((cast(y as double) - {mean}) / {sd}) END AS z",
    )
    best = F.broadcast(scored.agg(F.max("dev6").alias("bdev")))
    return (
        scored.crossJoin(best)
        .where(F.col("dev6") == F.col("bdev"))
        .groupBy()
        .agg(
            F.max("n").alias("n_days"),
            F.min("day").alias("worst_day"),
            F.max(F.expr("round(abs(z), 4)")).alias("g_stat"),
            F.max(F.expr("round(z, 4)")).alias("z_signed"),
        )
    )


def stats_grubbs_sql() -> str:
    mean = "(sy::DOUBLE / n)"
    var_num = "(n * syy - sy::DOUBLE * sy)"
    sd = f"sqrt({var_num} / (n * (n - 1.0)))"
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), m AS (
        SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
               sum(y::DOUBLE * y::DOUBLE) AS syy
        FROM d
    ), scored AS (
        SELECT day, n,
               round(abs(y::DOUBLE - {mean}) * 1e6)::BIGINT AS dev6,
               CASE WHEN n >= 2 AND {var_num} > 0 THEN
                   ((y::DOUBLE - {mean}) / {sd}) END AS z
        FROM d CROSS JOIN m
    ), best AS (
        SELECT max(dev6) AS bdev FROM scored
    )
    SELECT max(n)::BIGINT AS n_days,
           min(day) AS worst_day,
           max(round(abs(z), 4)) AS g_stat,
           max(round(z, 4)) AS z_signed
    FROM scored CROSS JOIN best
    WHERE dev6 = bdev
    """


COOKS_TOP_K = 5


def stats_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence diagnostics on the daily-revenue OLS
    trend: the top-5 most influential days with residual, leverage and
    D — "which single days are bending the trend line", the
    row-influence complement to stats_grubbs' value outliers and
    stats_breusch_pagan's variance drift (same regression, third
    diagnostic axis).

    Everything lives on the DAYS-bounded grain: exact BIGINT moments →
    broadcast coefficients → residuals from identical operands; the
    leverage uses the EXACT t̄=(n+1)/2 and Sxx=n(n²−1)/12 closed forms,
    s² broadcasts back as a second 1-row pass, and the top-5 ranks on
    integer-micro D with the day as tie-break (no float argmax). NULL
    order dates have no day (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
        )
        .withColumn("t", F.row_number().over(Window.orderBy("day")))
        # d feeds the moment agg AND e, and e is consumed twice (sse +
        # scored) — 4 orders scans and 4 runs of the global row_number
        # window unpinned. DAYS-bounded, so pin; fact scanned once,
        # window computed once.
        .transform(pin)
    )
    s = F.broadcast(
        d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("t").alias("st"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("cast(t as bigint) * cast(t as bigint)")).alias("stt"),
            F.sum(F.expr("cast(t as bigint) * y")).alias("sty"),
        )
    )
    # OLS slope guard (round-9 degenerate-input probe, shared by the
    # daily-trend regression family): the EXACT integer discriminant
    # n·Σt² − (Σt)² is zero on a singleton series — slope (and every
    # residual statistic downstream) emits NULL instead of an ANSI
    # DIVIDE_BY_ZERO crash; values unchanged for n >= 2
    slope = (
        "(CASE WHEN cast(n as decimal(38,0)) * stt"
        " - cast(st as decimal(38,0)) * st > 0 THEN"
        " (n * cast(sty as double) - cast(st as double) * sy)"
        " / (n * cast(stt as double) - cast(st as double) * st) END)"
    )
    icept = f"((sy - {slope} * st) / cast(n as double))"
    sxx = "(n * (cast(n as double) * n - 1.0) / 12.0)"
    # leverage needs sxx > 0 (n >= 2); Cook's D additionally n >= 3
    # (the s² denominator is n-2), positive SSE and leverage < 1 —
    # NULL otherwise (round-9 degenerate-input probe), identical
    # guards both engines
    h = (
        f"(CASE WHEN n >= 2 THEN 1.0 / n"
        f" + (t - (n + 1.0) / 2.0) * (t - (n + 1.0) / 2.0) / {sxx} END)"
    )
    e = d.crossJoin(s).selectExpr(
        "day",
        "t",
        "n",
        f"(cast(y as double) - ({icept} + {slope} * t)) AS resid",
        f"{h} AS lev",
    )
    sse = F.broadcast(e.agg(F.sum(F.expr("resid * resid")).alias("sse")))
    scored = e.crossJoin(sse).selectExpr(
        "day",
        "resid",
        "lev",
        "n",
        "(CASE WHEN n >= 3 AND sse > 0 AND lev < 1.0 THEN"
        " resid * resid * lev"
        " / (2.0 * (sse / (n - 2.0)) * (1.0 - lev) * (1.0 - lev)) END) AS cd",
    ).withColumn("cd6", F.expr("cast(round(cd * 1e6) as bigint)"))
    w = Window.orderBy(F.desc("cd6"), F.asc("day"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= COOKS_TOP_K)
        .selectExpr(
            "rank",
            "day",
            "round(resid, 2) AS resid_cents",
            "round(lev, 6) AS leverage",
            "round(cd, 6) AS cooks_d",
        )
        .orderBy("rank")
    )


def stats_cooks_distance_sql() -> str:
    slope = (
        "(CASE WHEN n::HUGEINT * stt - st::HUGEINT * st > 0 THEN"
        " (n * sty::DOUBLE - st::DOUBLE * sy)"
        " / (n * stt::DOUBLE - st::DOUBLE * st) END)"
    )
    icept = f"((sy - {slope} * st) / n::DOUBLE)"
    sxx = "(n * (n::DOUBLE * n - 1.0) / 12.0)"
    h = (
        f"(CASE WHEN n >= 2 THEN 1.0 / n"
        f" + (t - (n + 1.0) / 2.0) * (t - (n + 1.0) / 2.0) / {sxx} END)"
    )
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y,
               row_number() OVER (ORDER BY o_orderdate::DATE) AS t
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), s AS (
        SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
               sum(y)::BIGINT AS sy,
               sum(t::BIGINT * t::BIGINT)::BIGINT AS stt,
               sum(t::BIGINT * y)::BIGINT AS sty
        FROM d
    ), e AS (
        SELECT day, t, n,
               (y::DOUBLE - ({icept} + {slope} * t)) AS resid,
               {h} AS lev
        FROM d CROSS JOIN s
    ), sse AS (
        SELECT sum(resid * resid) AS sse FROM e
    ), scored AS (
        SELECT day, resid, lev, n,
               (CASE WHEN n >= 3 AND sse > 0 AND lev < 1.0 THEN
                resid * resid * lev
                / (2.0 * (sse / (n - 2.0)) * (1.0 - lev) * (1.0 - lev))
                END) AS cd
        FROM e CROSS JOIN sse
    ), ranked AS (
        SELECT *, row_number() OVER (
                   ORDER BY round(cd * 1e6)::BIGINT DESC, day) AS rank
        FROM scored
    )
    SELECT rank::INT AS rank, day,
           round(resid, 2) AS resid_cents,
           round(lev, 6) AS leverage,
           round(cd, 6) AS cooks_d
    FROM ranked WHERE rank <= {COOKS_TOP_K}
    ORDER BY rank
    """


def stats_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3, Durbin-Levinson) of the
    daily event-count series — the AR-order picker beside
    stats_autocorrelation's raw ACF and stats_ljung_box's joint test:
    a sharp PACF cutoff at lag k says fit AR(k).

    Reuses the Ljung-Box machinery: ONE window pass over the
    DAYS-bounded grain for the 3 lag columns, exact-integer mean, then
    the Durbin-Levinson recursion is pure scalar arithmetic on the
    1-row ACF aggregate — identical operands cross-engine, 6 dp out.
    NULL ts has no day (both engines).
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("day")
    lagged = d.select(
        "x", *[F.lag("x", k).over(w).alias(f"x{k}") for k in (1, 2, 3)]
    )
    m = F.broadcast(d.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx")))
    c = lagged.crossJoin(m).selectExpr(
        "n",
        "(x - cast(sx as double) / n) AS xc",
        *[f"(x{k} - cast(sx as double) / n) AS xc{k}" for k in (1, 2, 3)],
    )
    agg = c.groupBy().agg(
        F.max("n").alias("n"),
        F.sum(F.expr("xc * xc")).alias("c0"),
        *[F.sum(F.expr(f"xc * xc{k}")).alias(f"c{k}") for k in (1, 2, 3)],
    )
    r1, r2, r3 = "(c1 / c0)", "(c2 / c0)", "(c3 / c0)"
    phi22 = f"(({r2} - {r1} * {r1}) / (1.0 - {r1} * {r1}))"
    phi21 = f"({r1} * (1.0 - {phi22}))"
    phi33 = (
        f"(({r3} - {phi21} * {r2} - {phi22} * {r1})"
        f" / (1.0 - {phi21} * {r1} - {phi22} * {r2}))"
    )
    return agg.selectExpr(
        "n AS n_days",
        f"round({r1}, 6) AS r1",
        f"round({r2}, 6) AS r2",
        f"round({r3}, 6) AS r3",
        f"round({r1}, 6) AS pacf1",
        f"round({phi22}, 6) AS pacf2",
        f"round({phi33}, 6) AS pacf3",
    )


def stats_pacf_sql() -> str:
    r1, r2, r3 = "(c1 / c0)", "(c2 / c0)", "(c3 / c0)"
    phi22 = f"(({r2} - {r1} * {r1}) / (1.0 - {r1} * {r1}))"
    phi21 = f"({r1} * (1.0 - {phi22}))"
    phi33 = (
        f"(({r3} - {phi21} * {r2} - {phi22} * {r1})"
        f" / (1.0 - {phi21} * {r1} - {phi22} * {r2}))"
    )
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), lagged AS (
        SELECT x,
               lag(x, 1) OVER (ORDER BY day) AS x1,
               lag(x, 2) OVER (ORDER BY day) AS x2,
               lag(x, 3) OVER (ORDER BY day) AS x3
        FROM d
    ), m AS (
        SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx FROM d
    ), c AS (
        SELECT n, (x - sx::DOUBLE / n) AS xc,
               (x1 - sx::DOUBLE / n) AS xc1,
               (x2 - sx::DOUBLE / n) AS xc2,
               (x3 - sx::DOUBLE / n) AS xc3
        FROM lagged CROSS JOIN m
    ), agg AS (
        SELECT max(n)::BIGINT AS n, sum(xc * xc) AS c0,
               sum(xc * xc1) AS c1, sum(xc * xc2) AS c2,
               sum(xc * xc3) AS c3
        FROM c
    )
    SELECT n AS n_days,
           round({r1}, 6) AS r1, round({r2}, 6) AS r2, round({r3}, 6) AS r3,
           round({r1}, 6) AS pacf1,
           round({phi22}, 6) AS pacf2,
           round({phi33}, 6) AS pacf3
    FROM agg
    """


MARKOV_POWER_ITERS = 8


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    via 8 unrolled power iterations on the TYPES²-bounded transition
    grid — where the behavior settles if sessions ran forever, versus
    the empirical type mix: a large gap flags non-stationary traffic.

    The iteration is linear algebra ON A BOUNDED GRID: each step is a
    T-row vector joined against the T×T row-stochastic matrix and
    re-aggregated — the corpus is read ONCE to build the counts;
    per-step values round to 9 dp so both engines walk the identical
    trajectory (ULP drift cannot compound across iterations). NULL
    user/type/ts rows form no transition (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # rows is consumed by p AND twice by the empirical marginal —
    # unpinned, the per-user lead window re-ran per copy. Pin the
    # TYPES²-bounded transition grid; rows and p read the pin and
    # the fact (and its window) runs once.
    trans = pin(trans)
    rows = trans.groupBy("a").agg(F.sum("c").alias("ca"))
    p = (
        trans.join(F.broadcast(rows.withColumnRenamed("a", "_a")), F.col("a") == F.col("_a"))
        .selectExpr("a", "b", "(cast(c as double) / ca) AS pij")
        .transform(pin)
    )
    states = p.select(F.col("a").alias("s")).distinct()
    n_states = F.broadcast(states.agg(F.count(F.lit(1)).alias("k")))
    v = states.crossJoin(n_states).selectExpr("s", "cast(((2 * 1000000000 + k) div (2 * k)) as double) / 1e9 AS pv")
    for _ in range(MARKOV_POWER_ITERS):
        v = (
            v.join(p, v.s == p.a)
            .groupBy("b")
            .agg(F.round(F.sum(F.expr("pv * pij")), 9).alias("pv"))
            .withColumnRenamed("b", "s")
            .transform(pin)
        )
    emp = F.broadcast(
        rows.crossJoin(F.broadcast(rows.agg(F.sum("ca").alias("tot"))))
        .selectExpr("a AS _s", "ca", "tot")
    )
    # pv is a 9-dp decimal (each iteration rounds to 9), so
    # stationary_p / empirical / gap are all integer rationals — emit
    # them through the integer-exact HALF_UP helper (round-boundary
    # rule: a 9-dp value whose 7th digit is 5 is EXACTLY the class).
    return (
        v.join(emp, F.col("s") == F.col("_s"))
        .withColumn("pv9", F.expr("cast(round(pv * 1e9) as bigint)"))
        .selectExpr(
            "s AS state",
            f"{sp_rat6('pv9', '1000000000')} AS stationary_p",
            f"{sp_rat6('ca', 'tot')} AS empirical",
            f"""{sp_rat6(
                'cast(pv9 as decimal(38,0)) * tot'
                ' - cast(ca as decimal(38,0)) * 1000000000',
                'cast(tot as decimal(38,0)) * 1000000000',
            )} AS gap""",
        )
        .orderBy("state")
    )


def q_events_markov_stationary_sql() -> str:
    # unrolled power iteration as a chain of CTEs (v1..v8)
    steps = "".join(
        f""", v{i} AS (
        SELECT b AS s, round(sum(pv * pij), 9) AS pv
        FROM v{i - 1} JOIN p ON v{i - 1}.s = p.a
        GROUP BY b
    )"""
        for i in range(1, MARKOV_POWER_ITERS + 1)
    )
    return f"""
    WITH ev AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL
    ), trans AS (
        SELECT event_type AS a,
               lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS b
        FROM ev QUALIFY b IS NOT NULL
    ), cnt AS (
        SELECT a, b, count(*)::BIGINT AS c FROM trans GROUP BY 1, 2
    ), rows_ AS (
        SELECT a, sum(c)::BIGINT AS ca FROM cnt GROUP BY 1
    ), p AS (
        SELECT cnt.a, b, (c::DOUBLE / ca) AS pij
        FROM cnt JOIN rows_ ON cnt.a = rows_.a
    ), v0 AS (
        SELECT a AS s,
               (((2 * 1000000000 + (SELECT count(DISTINCT a) FROM p)) // (2 * (SELECT count(DISTINCT a) FROM p)))::DOUBLE / 1e9) AS pv
        FROM (SELECT DISTINCT a FROM p)
    ){steps}, emp AS (
        SELECT a AS s, ca, (SELECT sum(ca) FROM rows_)::BIGINT AS tot
        FROM rows_
    ), fin AS (
        SELECT v{MARKOV_POWER_ITERS}.s AS state,
               round(pv * 1e9)::BIGINT AS pv9, ca, tot
        FROM v{MARKOV_POWER_ITERS} JOIN emp ON v{MARKOV_POWER_ITERS}.s = emp.s
    )
    SELECT state,
           {dk_rat6('pv9', '1000000000')} AS stationary_p,
           {dk_rat6('ca', 'tot')} AS empirical,
           {dk_rat6('pv9::HUGEINT * tot - ca::HUGEINT * 1000000000', 'tot::HUGEINT * 1000000000')} AS gap
    FROM fin ORDER BY state
    """


def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha treating the K event types as test ITEMS and
    per-user integer-cent spend as the item score — "do the activity
    channels move together per user" (high alpha = one underlying
    engagement factor; near zero = independent behaviors); the
    reliability view beside stats_correlation_matrix's pairwise one.

    ONE (user, type) shuffle with the counter rule (missing item = 0,
    both engines: zeros contribute nothing to the non-zero-row sums,
    so item moments over ALL users come map-side from the sparse grid
    plus the broadcast user count). Item and total variances are
    ratios of order-free BIGINT moments; alpha is closed-form. NULL
    value/user/type rows are not observations (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .groupBy("user_id", "event_type")
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("x"))
        # the (user, type) grid feeds the user count, the item moments
        # AND the user totals — unpinned, the events scan + grid
        # collapse ran 3x (4 fact scans). Pin it; the fact is scanned
        # ONCE.
        .transform(pin)
    )
    u = F.broadcast(
        ev.agg(F.countDistinct("user_id").alias("uu"))
    )
    # per-item A_i = uu·Σx² − (Σx)² (exact integer; the per-item
    # variances share the common denominator uu(uu−1), so Σvariances
    # and alpha are PURE integer rationals — round-boundary rule)
    items = (
        ev.groupBy("event_type")
        .agg(F.sum("x").alias("sx"), F.sum(F.expr("x * x")).alias("sxx"))
        .crossJoin(u)
        .selectExpr(
            "event_type",
            "(cast(uu as decimal(38,0)) * sxx"
            " - cast(sx as decimal(38,0)) * sx) AS a_item",
        )
    )
    totals = (
        ev.groupBy("user_id")
        .agg(F.sum("x").alias("t"))
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.sum("t").alias("st"),
            F.sum(F.expr("t * t")).alias("stt"),
        )
        .crossJoin(u)
        .selectExpr(
            # users absent from totals don't exist (every grid row has a
            # user); nt == uu by construction
            "uu",
            "(cast(uu as decimal(38,0)) * stt"
            " - cast(st as decimal(38,0)) * st) AS t_total",
        )
    )
    agg = items.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("a_item").alias("sa"),
    ).crossJoin(F.broadcast(totals))
    # alpha = k(T − ΣA)/((k−1)T); variances = A/(uu(uu−1)) at 2dp
    return agg.selectExpr(
        "k AS n_items",
        "uu AS n_users",
        f"{sp_rat('sa', 'cast(uu as decimal(38,0)) * (uu - 1)', 2)} AS sum_item_var",
        f"{sp_rat('t_total', 'cast(uu as decimal(38,0)) * (uu - 1)', 2)} AS total_var",
        f"""{sp_rat6(
            'cast(k as decimal(38,0)) * (t_total - sa)',
            '(k - 1) * t_total',
        )} AS cronbach_alpha""",
    )


def stats_cronbach_alpha_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, event_type,
               round(sum(value) * 100)::BIGINT AS x
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL
        GROUP BY 1, 2
    ), u AS (
        SELECT count(DISTINCT user_id)::BIGINT AS uu FROM ev
    ), items AS (
        SELECT event_type,
               (uu::HUGEINT * sum(x::HUGEINT * x)
                - sum(x)::HUGEINT * sum(x)) AS a_item
        FROM ev CROSS JOIN u GROUP BY event_type, uu
    ), totals AS (
        -- GLOBAL aggregate (not GROUP BY uu): uu is constant under the
        -- cross join, so the grouped form is value-identical on any
        -- nonempty input but emits 0 rows on an empty corpus where the
        -- Spark side's global agg emits its 1 NULL-moment row — the
        -- r11 empty-allowlist shape retired by this formulation.
        SELECT (SELECT uu FROM u) AS uu,
               ((SELECT uu FROM u)::HUGEINT * sum(t::HUGEINT * t)
                - sum(t)::HUGEINT * sum(t)) AS t_total
        FROM (SELECT user_id, sum(x)::BIGINT AS t FROM ev GROUP BY 1)
    ), agg AS (
        SELECT (SELECT count(*) FROM items)::BIGINT AS k,
               uu, t_total,
               (SELECT sum(a_item) FROM items) AS sa
        FROM totals
    )
    SELECT k AS n_items, uu AS n_users,
           {dk_rat('sa', 'uu::HUGEINT * (uu - 1)', 2)} AS sum_item_var,
           {dk_rat('t_total', 'uu::HUGEINT * (uu - 1)', 2)} AS total_var,
           {dk_rat6('k::HUGEINT * (t_total - sa)', '(k - 1) * t_total')}
               AS cronbach_alpha
    FROM agg
    """


ICC_RATERS = 3
ICC_SCALE = 100


def stats_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way intraclass correlation ICC(1,1) over the three
    deterministic pseudo-annotators' NUMERIC ratings (seeded hash %
    100 per doc) — the continuous-score agreement companion to
    stats_fleiss_kappa's categorical votes, from the same
    reproducible-rater harness.

    Balanced one-way ANOVA with k=3 ratings per doc needs only three
    exact BIGINT sums (ΣS_g, ΣS_g², Σx² over per-doc rating sums) —
    no per-rater rows ever materialize; MSB/MSW/ICC are closed-form
    ratios. NULL text has no ratings (dropped both engines).
    """
    docs = (
        scatter(spark, load_table(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    votes = [
        f"(({X.sp_hash32('text', f'rater{r}')}) % {ICC_SCALE})"
        for r in range(ICC_RATERS)
    ]
    per_doc = docs.selectExpr(
        "doc_id",
        f"({' + '.join(votes)}) AS sg",
        f"({' + '.join(f'{v} * {v}' for v in votes)}) AS qg",
    )
    k = ICC_RATERS
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sg").alias("ss"),
        F.sum(F.expr("sg * sg")).alias("ssq"),
        F.sum("qg").alias("qq"),
    )
    # With A = n·ssq − ss² and B = k·qq − ssq (exact integers):
    # MSB = A/(kn(n−1)), MSW = B/(k(k−1)n),
    # ICC1 = ((k−1)A − (n−1)B)/((k−1)A + (k−1)(n−1)B) — PURE integer
    # rationals, integer-exact HALF_UP (round-boundary rule).
    a = f"(cast(n as decimal(38,0)) * ssq - cast(ss as decimal(38,0)) * ss)"
    b = f"({k} * cast(qq as decimal(38,0)) - ssq)"
    return agg.selectExpr(
        "n AS n_docs",
        f"{sp_rat6(a, f'{k} * cast(n as decimal(38,0)) * (n - 1)')} AS ms_between",
        f"{sp_rat6(b, f'{k} * ({k} - 1) * cast(n as decimal(38,0))')} AS ms_within",
        f"""{sp_rat6(
            f'({k} - 1) * {a} - (n - 1) * {b}',
            f'({k} - 1) * {a} + ({k} - 1) * (n - 1) * {b}',
        )} AS icc1""",
    )


def stats_icc_sql() -> str:
    votes = [
        f"(({X.dk_hash32('text', f'rater{r}')}) % {ICC_SCALE})"
        for r in range(ICC_RATERS)
    ]
    k = ICC_RATERS
    a = "(n::HUGEINT * ssq - ss::HUGEINT * ss)"
    b = f"({k} * qq::HUGEINT - ssq)"
    return f"""
    WITH per_doc AS (
        SELECT doc_id,
               ({' + '.join(votes)})::BIGINT AS sg,
               ({' + '.join(f'{v} * {v}' for v in votes)})::BIGINT AS qg
        FROM documents WHERE text IS NOT NULL
    ), agg AS (
        SELECT count(*)::BIGINT AS n, sum(sg)::BIGINT AS ss,
               sum(sg::HUGEINT * sg) AS ssq, sum(qg)::BIGINT AS qq
        FROM per_doc
    )
    SELECT n AS n_docs,
           {dk_rat6(a, f'{k} * n::HUGEINT * (n - 1)')} AS ms_between,
           {dk_rat6(b, f'{k} * ({k} - 1) * n::HUGEINT')} AS ms_within,
           {dk_rat6(
               f'({k} - 1) * {a} - (n - 1) * {b}',
               f'({k} - 1) * {a} + ({k} - 1) * (n - 1) * {b}',
           )} AS icc1
    FROM agg
    """


def q_part_supply_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain redundancy histogram: parts bucketed by how many
    DISTINCT suppliers ship them, with each bucket's share and the
    revenue exposed to single-sourced parts — the procurement-risk
    table behind q16_supplier_variety's brand counts.

    DISTINCT (part, supplier) collapses the fact table first (the
    histogram then runs at relationship cardinality), revenue folds in
    one more part-keyed aggregation, and the bucket grid is bounded by
    the max supplier count per part. All exact integers. NULL rule:
    lines missing either key carry no relationship (both engines).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    # rel and rev each re-scanned the fact, and the grid's tot
    # fan-out doubled both — 4 lineitem scans unpinned.
    # ONE (part, supplier)-grain aggregation carries the revenue
    # partials (rev per part = sum of its per-relationship sums, an
    # exact integer regroup), pins at relationship cardinality, and
    # every pass reads the pin: lineitem is scanned ONCE.
    rel = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("rel_cents")
        )
        .transform(pin)
    )
    per_part = rel.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    rev = rel.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("rel_cents").alias("rev_cents")
    )
    j = per_part.join(rev, per_part.l_partkey == F.col("_pk"))
    grid = j.groupBy("n_suppliers").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev_cents").alias("rev_cents"),
    ).transform(pin)
    tot = F.broadcast(
        grid.agg(
            F.sum("n_parts").alias("tp"), F.sum("rev_cents").alias("tr")
        )
    )
    return (
        grid.crossJoin(tot)
        .selectExpr(
            "n_suppliers",
            "n_parts",
            "rev_cents",
            f"{sp_rat6('n_parts', 'tp')} AS part_share",
            f"{sp_rat6('rev_cents', 'tr')} AS revenue_share",
        )
        .orderBy("n_suppliers")
    )


def q_part_supply_risk_sql() -> str:
    return f"""
    WITH rel AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    ), per_part AS (
        SELECT l_partkey, count(*)::BIGINT AS n_suppliers
        FROM rel GROUP BY 1
    ), rev AS (
        SELECT l_partkey AS _pk,
               sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
                   AS rev_cents
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
        GROUP BY 1
    ), grid AS (
        SELECT n_suppliers, count(*)::BIGINT AS n_parts,
               sum(rev_cents)::BIGINT AS rev_cents
        FROM per_part JOIN rev ON l_partkey = _pk
        GROUP BY 1
    ), tot AS (
        SELECT sum(n_parts)::BIGINT AS tp, sum(rev_cents)::BIGINT AS tr
        FROM grid
    )
    SELECT n_suppliers, n_parts, rev_cents,
           {dk_rat6('n_parts', 'tp')} AS part_share,
           {dk_rat6('rev_cents', 'tr')} AS revenue_share
    FROM grid CROSS JOIN tot
    ORDER BY n_suppliers
    """


def stats_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: the share of users active k days after
    their FIRST day, fitted as exponential decay (ln-linear OLS over
    the bounded age axis) — the single decay constant and half-life
    behind q_events_cohort_retention's full triangle.

    TWO user-grain passes (first day, then distinct active ages per
    user — both one shuffle each); the age axis is DAYS-bounded, ln of
    exact integer ratios feeds the OLS, whose moments fold over that
    bounded axis. NULL user/ts rows are not activity (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("day"))
    )
    # first feeds the ages join AND the user count — unpinned, its
    # events scan ran twice (3 scans total). User grain is far below
    # fact, so pin; events is scanned twice (the first-day-then-ages
    # two-pass floor), not 3x.
    first = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("d0"))
        .transform(pin)
    )
    ages = (
        ev.join(first, "user_id")
        .select("user_id", F.datediff("day", "d0").alias("age"))
        .where(F.col("age") > 0)
        .distinct()
    )
    uu = F.broadcast(first.agg(F.count(F.lit(1)).alias("n_users")))
    grid = (
        ages.groupBy("age")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .crossJoin(uu)
        .selectExpr(
            "age",
            "n_active",
            "n_users",
            "ln(cast(n_active as double) / n_users) AS lr",
        )
    )
    m = grid.agg(
        F.max("n_users").alias("n_users"),
        F.count(F.lit(1)).alias("k"),
        F.sum("age").alias("sa"),
        F.sum("lr").alias("sl"),
        F.sum(F.expr("cast(age as double) * age")).alias("saa"),
        F.sum(F.expr("age * lr")).alias("sal"),
    )
    slope = "((k * sal - sa * sl) / (k * saa - cast(sa as double) * sa))"
    return m.selectExpr(
        "n_users",
        "k AS n_ages",
        f"round({slope}, 6) AS decay_slope",
        f"round(-ln(2.0) / {slope}, 4) AS half_life_days",
    )


def stats_retention_halflife_sql() -> str:
    slope = "((k * sal - sa * sl) / (k * saa - sa::DOUBLE * sa))"
    return f"""
    WITH ev AS (
        SELECT user_id, ts::DATE AS day FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), first AS (
        SELECT user_id, min(day) AS d0 FROM ev GROUP BY 1
    ), ages AS (
        SELECT DISTINCT ev.user_id, datediff('day', d0, day) AS age
        FROM ev JOIN first ON ev.user_id = first.user_id
        WHERE datediff('day', d0, day) > 0
    ), uu AS (
        SELECT count(*)::BIGINT AS n_users FROM first
    ), grid AS (
        SELECT age, count(DISTINCT user_id)::BIGINT AS n_active, n_users,
               ln(count(DISTINCT user_id)::DOUBLE / n_users) AS lr
        FROM ages CROSS JOIN uu GROUP BY age, n_users
    ), m AS (
        SELECT max(n_users)::BIGINT AS n_users, count(*)::BIGINT AS k,
               sum(age)::BIGINT AS sa, sum(lr) AS sl,
               sum(age::DOUBLE * age) AS saa, sum(age * lr) AS sal
        FROM grid
    )
    SELECT n_users, k AS n_ages,
           round({slope}, 6) AS decay_slope,
           round(-ln(2.0) / {slope}, 4) AS half_life_days
    FROM m
    """


MAHAL_TOP_K = 5


def stats_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis outliers on the daily (volume, value)
    pairs: the top-5 days whose (count, cents) point sits farthest
    from the cloud accounting for the volume-value CORRELATION — days
    a univariate z-score (stats_grubbs) calls normal but the JOINT
    distribution flags; the 2×2 covariance inverse is closed-form, so
    no linear algebra library enters the plan.

    ONE shuffle to the DAYS-bounded grain with exact BIGINT moments
    (means and covariances derive identically in both engines), D²
    evaluates per day from those identical operands, and the top-5
    ranks on integer-micro D² with the day tie-break. NULL ts has no
    day; NULL value adds 0 cents (sum-skip), both engines.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.coalesce(
                F.sum(F.round(F.col("value") * 100).cast("bigint")), F.lit(0)
            ).alias("y"),
        )
    )
    m = F.broadcast(
        d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.expr("x * x")).alias("sxx"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("cast(y as double) * y")).alias("syy"),
        )
    )
    vxx = "((n * cast(sxx as double) - cast(sx as double) * sx) / (n * (n - 1.0)))"
    vyy = "((n * syy - cast(sy as double) * sy) / (n * (n - 1.0)))"
    vxy = "((n * cast(sxy as double) - cast(sx as double) * sy) / (n * (n - 1.0)))"
    det = f"({vxx} * {vyy} - {vxy} * {vxy})"
    dx = "(x - cast(sx as double) / n)"
    dy = "(y - cast(sy as double) / n)"
    d2 = (
        f"(({dx} * {dx} * {vyy} - 2.0 * {dx} * {dy} * {vxy}"
        f" + {dy} * {dy} * {vxx}) / {det})"
    )
    # D² needs n ≥ 2 (the covariance itself divides by n(n−1)) and an
    # invertible covariance (det > 0 — safe float compare: both engines
    # derive det from the SAME exact integer moments). NESTED CASE so
    # det is only evaluated once n ≥ 2. Round-10 single-row probe:
    # NULL D², not an ANSI crash; NULLs rank last in both engines.
    d2g = f"CASE WHEN n >= 2 THEN CASE WHEN {det} > 0 THEN {d2} END END"
    scored = d.crossJoin(m).selectExpr(
        "day", "x", "y", f"{d2g} AS d2"
    ).withColumn("d6", F.expr("cast(round(d2 * 1e6) as bigint)"))
    w = Window.orderBy(F.desc("d6"), F.asc("day"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= MAHAL_TOP_K)
        .selectExpr(
            "rank",
            "day",
            "x AS n_events",
            "y AS value_cents",
            "round(d2, 6) AS mahalanobis_d2",
        )
        .orderBy("rank")
    )


def stats_mahalanobis_outliers_sql() -> str:
    vxx = "((n * sxx::DOUBLE - sx::DOUBLE * sx) / (n * (n - 1.0)))"
    vyy = "((n * syy - sy::DOUBLE * sy) / (n * (n - 1.0)))"
    vxy = "((n * sxy::DOUBLE - sx::DOUBLE * sy) / (n * (n - 1.0)))"
    det = f"({vxx} * {vyy} - {vxy} * {vxy})"
    dx = "(x - sx::DOUBLE / n)"
    dy = "(y - sy::DOUBLE / n)"
    d2 = (
        f"(({dx} * {dx} * {vyy} - 2.0 * {dx} * {dy} * {vxy}"
        f" + {dy} * {dy} * {vxx}) / {det})"
    )
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS x,
               coalesce(sum(round(value * 100)::BIGINT), 0)::BIGINT AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), m AS (
        SELECT count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
               sum(y::DOUBLE * y) AS syy
        FROM d
    ), scored AS (
        SELECT day, x, y,
               CASE WHEN n >= 2 THEN
                   CASE WHEN {det} > 0 THEN {d2} END END AS d2
        FROM d CROSS JOIN m
    ), ranked AS (
        SELECT *, row_number() OVER (
                   ORDER BY round(d2 * 1e6)::BIGINT DESC, day) AS rank
        FROM scored
    )
    SELECT rank::INT AS rank, day, x AS n_events, y AS value_cents,
           round(d2, 6) AS mahalanobis_d2
    FROM ranked WHERE rank <= {MAHAL_TOP_K}
    ORDER BY rank
    """


def q_events_user_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User lifespan profile: the span between each user's first and
    last event in whole days — single-visit share, mean / exact
    median / p90 span — the churn-pressure view beside
    stats_retention_halflife's decay constant (same pair of user-grain
    extremes, distribution instead of fit).

    ONE user-grain min/max shuffle; spans are exact integer days
    (percentile == quantile_cont); the single-visit share is an
    integer predicate. NULL user/ts rows are not activity (both
    engines).
    """
    u = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("d0"),
            F.max(F.col("ts").cast("date")).alias("d1"),
        )
        .select(F.datediff("d1", "d0").alias("span"))
    )
    # single_day_share and the mean span are integer rationals —
    # integer-exact HALF_UP (repo round-boundary rule). p50/p90 have at
    # most one decimal digit (interpolation denominators 2 and 10), so
    # round(...,6) is an identity there and stays plain.
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("span") == 0).cast("bigint")).alias("n_single_day"),
        F.sum("span").alias("sum_span"),
        _r(F.expr("percentile(span, 0.5)"), "p50_span_days"),
        _r(F.expr("percentile(span, 0.9)"), "p90_span_days"),
        F.max("span").alias("max_span_days"),
    ).selectExpr(
        "n_users",
        "n_single_day",
        f"{sp_rat6('n_single_day', 'n_users')} AS single_day_share",
        f"{sp_rat6('sum_span', 'n_users')} AS mean_span_days",
        "p50_span_days",
        "p90_span_days",
        "max_span_days",
    )


def q_events_user_lifespan_sql() -> str:
    return f"""
    WITH u AS (
        SELECT datediff('day', min(ts::DATE), max(ts::DATE)) AS span
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id
    )
    SELECT n_users, n_single_day,
           {dk_rat6('n_single_day', 'n_users')} AS single_day_share,
           {dk_rat6('sum_span', 'n_users')} AS mean_span_days,
           p50_span_days, p90_span_days, max_span_days
    FROM (
        SELECT count(*)::BIGINT AS n_users,
               sum((span = 0)::INT)::BIGINT AS n_single_day,
               sum(span)::BIGINT AS sum_span,
               round(quantile_cont(span, 0.5), 6) AS p50_span_days,
               round(quantile_cont(span, 0.9), 6) AS p90_span_days,
               max(span)::BIGINT AS max_span_days
        FROM u
    )
    """


def q_orders_month_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal indices for order revenue: each calendar
    month's mean daily revenue relative to the overall mean (index 1.0
    = no seasonality) — the classical multiplicative seasonal table at
    the month scale (q_orders_dow_profile covers the week scale,
    stats_seasonal_decompose the trend split).

    Daily revenue collapses ONCE (exact integer cents at the
    DAYS-bounded grain), the 12-row month grid folds means from exact
    integers, and the overall mean arrives as a 1-row broadcast so the
    index divides identically-derived doubles. NULL order dates have
    no month (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
        )
    )
    grid = d.groupBy(F.month("day").alias("month")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("y").alias("rev_cents"),
    )
    tot = F.broadcast(
        grid.agg(F.sum("n_days").alias("td"), F.sum("rev_cents").alias("tr"))
    )
    return (
        grid.crossJoin(tot)
        # mean (2dp) and index are integer rationals — integer-exact
        # HALF_UP at their scales (repo round-boundary rule); the index
        # cross-multiplies to (rev_cents·td)/(n_days·tr), widened first.
        .selectExpr(
            "month",
            "n_days",
            "rev_cents",
            f"{sp_rat('rev_cents', 'n_days', 2)} AS mean_daily_cents",
            f"""{sp_rat6(
                'cast(rev_cents as decimal(38,0)) * td',
                'cast(n_days as decimal(38,0)) * tr',
            )} AS seasonal_index""",
        )
        .orderBy("month")
    )


def q_orders_month_index_sql() -> str:
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), grid AS (
        SELECT month(day)::BIGINT AS month, count(*)::BIGINT AS n_days,
               sum(y)::BIGINT AS rev_cents
        FROM d GROUP BY 1
    ), tot AS (
        SELECT sum(n_days)::BIGINT AS td, sum(rev_cents)::BIGINT AS tr
        FROM grid
    )
    SELECT month, n_days, rev_cents,
           {dk_rat('rev_cents', 'n_days', 2)} AS mean_daily_cents,
           {dk_rat6('rev_cents::HUGEINT * td', 'n_days::HUGEINT * tr')}
               AS seasonal_index
    FROM grid CROSS JOIN tot
    ORDER BY month
    """


CPK_SPEC_LO = 0     # ship within [0, 120] days of ordering
CPK_SPEC_HI = 120


def stats_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability (Cp / Cpk / yield) of the order→ship latency
    against a [0, 120]-day spec window per priority class — the SPC
    summary ("is the fulfilment process CAPABLE of its SLA, and is it
    centered") downstream of q_lineitem_ship_lag's raw percentiles.

    ONE co-partitioned fact⋈fact join, per-priority exact BIGINT lag
    moments (mean/sd derive identically in both engines), Cp/Cpk
    closed-form, and the in-spec yield an exact integer predicate on
    integer day lags. NULL date/priority rows drop (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & F.col("o_orderpriority").isNotNull())
        .select("o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd"))
    )
    lag = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority", F.datediff("sd", "od").alias("t")
    )
    m = lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.expr("cast(t as bigint) * t")).alias("stt"),
        F.sum(
            ((F.col("t") >= CPK_SPEC_LO) & (F.col("t") <= CPK_SPEC_HI)).cast(
                "bigint"
            )
        ).alias("n_in_spec"),
    )
    # capability indices are undefined for n < 2 or a zero-variance
    # group (round-9 degenerate-input probe): emit NULL there instead of
    # an ANSI DIVIDE_BY_ZERO crash; the variance-positive guard is the
    # EXACT integer discriminant n·Σt² − (Σt)² (never a float compare)
    pos = (
        "(n >= 2 AND cast(n as decimal(38,0)) * stt"
        " - cast(st as decimal(38,0)) * st > 0)"
    )
    mean = "(cast(st as double) / n)"
    sd = "sqrt((n * cast(stt as double) - cast(st as double) * st) / (n * (n - 1.0)))"
    cp = f"(({CPK_SPEC_HI} - {CPK_SPEC_LO}.0) / (6.0 * {sd}))"
    cpk = (
        f"least(({CPK_SPEC_HI} - {mean}) / (3.0 * {sd}),"
        f" ({mean} - {CPK_SPEC_LO}.0) / (3.0 * {sd}))"
    )
    return (
        m.selectExpr(
            "o_orderpriority AS priority",
            "n AS n_lines",
            f"{sp_rat6('st', 'n')} AS mean_lag",
            f"CASE WHEN {pos} THEN round({sd}, 6) END AS sd_lag",
            f"CASE WHEN {pos} THEN round({cp}, 6) END AS cp",
            f"CASE WHEN {pos} THEN round({cpk}, 6) END AS cpk",
            f"{sp_rat6('n_in_spec', 'n')} AS yield_in_spec",
        )
        .orderBy("priority")
    )


def stats_cpk_sql() -> str:
    mean = "(st::DOUBLE / n)"
    sd = "sqrt((n * stt::DOUBLE - st::DOUBLE * st) / (n * (n - 1.0)))"
    cp = f"(({CPK_SPEC_HI} - {CPK_SPEC_LO}.0) / (6.0 * {sd}))"
    cpk = (
        f"least(({CPK_SPEC_HI} - {mean}) / (3.0 * {sd}),"
        f" ({mean} - {CPK_SPEC_LO}.0) / (3.0 * {sd}))"
    )
    return f"""
    WITH lag AS (
        SELECT o_orderpriority,
               datediff('day', o_orderdate::DATE, l_shipdate::DATE) AS t
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
          AND l_shipdate IS NOT NULL
    ), m AS (
        SELECT o_orderpriority, count(*)::BIGINT AS n,
               sum(t)::BIGINT AS st,
               sum(t::BIGINT * t)::BIGINT AS stt,
               sum((t >= {CPK_SPEC_LO} AND t <= {CPK_SPEC_HI})::INT)::BIGINT
                   AS n_in_spec
        FROM lag GROUP BY 1
    )
    SELECT o_orderpriority AS priority, n AS n_lines,
           {dk_rat6('st', 'n')} AS mean_lag,
           CASE WHEN n >= 2 AND n::HUGEINT * stt - st::HUGEINT * st > 0
                THEN round({sd}, 6) END AS sd_lag,
           CASE WHEN n >= 2 AND n::HUGEINT * stt - st::HUGEINT * st > 0
                THEN round({cp}, 6) END AS cp,
           CASE WHEN n >= 2 AND n::HUGEINT * stt - st::HUGEINT * st > 0
                THEN round({cpk}, 6) END AS cpk,
           {dk_rat6('n_in_spec', 'n')} AS yield_in_spec
    FROM m ORDER BY priority
    """


def stats_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity per brand: OLS of ln(quantity) on
    ln(unit price) across the brand's parts — the constant-elasticity
    demand read (slope ≈ −ε) that q_lineitem_discount_effect's
    level-space slope can't give; the pricing-economics companion to
    stats_price_index.

    (brand, part) collapses in ONE shuffle to exact integer (qty,
    cent) sums; unit price and both logs derive from integer RATIOS
    (identical operands cross-engine); per-brand OLS moments fold over
    the PART-bounded grid. NULL rule: lines without part/price/qty
    drop; parts with zero quantity drop (no log), both engines.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_partkey").isNotNull()
            & F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            "l_partkey",
            F.round(F.col("l_quantity")).cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("sp"),
        )
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum("q").alias("sq"), F.sum("sp").alias("ssp"))
        .where(F.col("sq") > 0)
        .selectExpr(
            "p_brand",
            "ln(cast(sq as double)) AS y",
            "ln(cast(ssp as double) / sq / 100.0) AS x",
        )
    )
    m = pp.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.min("x").alias("mnx"),
        F.max("x").alias("mxx"),
    )
    # the regressor-variance residual k*sxx - sx^2 has an
    # ENGINE-DEPENDENT sign and magnitude when every part in a brand
    # shares one unit price (round-11 all-ties axis), so nullif alone
    # let each engine emit different garbage slopes. min(x) < max(x) is
    # an order-free EXACT degeneracy test (each engine folds identical
    # ln() doubles, so a constant regressor is bit-constant within the
    # engine): NULL slope/intercept on a degenerate regressor, both
    # engines.
    slope = (
        "(CASE WHEN mnx < mxx THEN"
        " ((k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0.0)) END)"
    )
    return (
        m.selectExpr(
            "p_brand AS brand",
            "k AS n_parts",
            f"round({slope}, 6) AS elasticity_slope",
            f"round((sy - {slope} * sx) / k, 6) AS intercept_ln_q",
        )
        .orderBy("brand")
    )


def stats_elasticity_loglog_sql() -> str:
    slope = (
        "(CASE WHEN mnx < mxx THEN"
        " ((k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0.0)) END)"
    )
    return f"""
    WITH pp AS (
        SELECT p_brand,
               ln(sum(round(l_quantity)::BIGINT)::DOUBLE) AS y,
               ln(sum(round(l_extendedprice * 100)::BIGINT)::DOUBLE
                  / sum(round(l_quantity)::BIGINT) / 100.0) AS x
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_partkey IS NOT NULL AND l_quantity IS NOT NULL
          AND l_extendedprice IS NOT NULL
        GROUP BY p_brand, l_partkey
        HAVING sum(round(l_quantity)::BIGINT) > 0
    ), m AS (
        SELECT p_brand, count(*)::BIGINT AS k,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy,
               min(x) AS mnx, max(x) AS mxx
        FROM pp GROUP BY 1
    )
    SELECT p_brand AS brand, k AS n_parts,
           round({slope}, 6) AS elasticity_slope,
           round((sy - {slope} * sx) / k, 6) AS intercept_ln_q
    FROM m ORDER BY brand
    """


def stats_fisher_z_corr_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher z test for a CHANGE in correlation: did the daily
    volume↔value correlation differ before vs after CUPED_CUT —
    stats_partial_correlation asks what drives the correlation, this
    asks whether the relationship itself moved (the launch-impact test
    at the relationship level).

    ONE shuffle to the DAYS-bounded grain with a period flag; each
    period's Pearson r comes from exact BIGINT moments, the Fisher
    z-transforms and the difference z statistic are closed-form on
    identically-derived doubles. NULL ts has no day; NULL value adds 0
    cents (sum-skip), both engines.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.coalesce(
                F.sum(F.round(F.col("value") * 100).cast("bigint")), F.lit(0)
            ).alias("y"),
        )
        .withColumn("pre", F.col("day") < F.lit(CUPED_CUT).cast("date"))
    )
    m = d.groupBy("pre").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("cast(y as double) * y")).alias("syy"),
    )
    # degenerate guards (round-11 ALL-TIES axis): a constant-value
    # corpus makes y exactly proportional to x, so r = ±1 and the
    # Fisher transform's (1+r)/(1-r) divides by zero — and a constant
    # SERIES zeroes the r denominator itself. Both are undefined
    # statistics: NULL, not an ANSI crash, with DuckDB's
    # division-by-zero→NULL convention mirrored via nullif/CASE. The
    # z denominator needs n > 3 in BOTH periods (1/(n−3)).
    r = (
        "((n * cast(sxy as double) - cast(sx as double) * sy)"
        " / nullif(sqrt(n * cast(sxx as double) - cast(sx as double) * sx)"
        " * sqrt(n * syy - cast(sy as double) * sy), 0.0))"
    )
    per = m.selectExpr(
        "pre",
        "n",
        f"{r} AS r",
        f"CASE WHEN abs({r}) < 1.0"
        f" THEN (0.5 * ln((1.0 + {r}) / (1.0 - {r}))) END AS fz",
    )
    a = per.where(F.col("pre")).selectExpr(
        "n AS n_pre", "r AS r_pre", "fz AS fz_pre"
    )
    b = per.where(~F.col("pre")).selectExpr(
        "n AS n_post", "r AS r_post", "fz AS fz_post"
    )
    return (
        a.crossJoin(F.broadcast(b))
        .selectExpr(
            "n_pre",
            "n_post",
            "round(r_pre, 6) AS r_pre",
            "round(r_post, 6) AS r_post",
            "CASE WHEN n_pre > 3 AND n_post > 3 THEN"
            " round((fz_pre - fz_post)"
            " / sqrt(1.0 / (n_pre - 3.0) + 1.0 / (n_post - 3.0)), 6)"
            " END AS z_diff",
        )
    )


def stats_fisher_z_corr_diff_sql() -> str:
    r = (
        "((n * sxy::DOUBLE - sx::DOUBLE * sy)"
        " / nullif(sqrt(n * sxx::DOUBLE - sx::DOUBLE * sx)"
        " * sqrt(n * syy - sy::DOUBLE * sy), 0.0))"
    )
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS x,
               coalesce(sum(round(value * 100)::BIGINT), 0)::BIGINT AS y,
               (ts::DATE < DATE '{CUPED_CUT}') AS pre
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 4
    ), m AS (
        SELECT pre, count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
               sum(y::DOUBLE * y) AS syy
        FROM d GROUP BY 1
    ), per AS (
        SELECT pre, n, {r} AS r,
               CASE WHEN abs({r}) < 1.0
                    THEN (0.5 * ln((1.0 + {r}) / (1.0 - {r}))) END AS fz
        FROM m
    )
    SELECT a.n AS n_pre, b.n AS n_post,
           round(a.r, 6) AS r_pre, round(b.r, 6) AS r_post,
           CASE WHEN a.n > 3 AND b.n > 3 THEN
               round((a.fz - b.fz)
                     / sqrt(1.0 / (a.n - 3.0) + 1.0 / (b.n - 3.0)), 6)
           END AS z_diff
    FROM per a CROSS JOIN per b
    WHERE a.pre AND NOT b.pre
    """


HILL_K = 200


def stats_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over order values: from
    the k=200 largest orders, α̂ = k / Σ ln(xᵢ/x₍ₖ₎) — how heavy the
    spend tail really is (α ≤ 2 means infinite variance: means stop
    converging and top-N coverage dominates); the tail-index
    measurement between stats_lognormal_fit's body and
    stats_extreme_gumbel's block maxima.

    The top-k is a TakeOrdered limit (never a global sort
    materialization) on exact integer cents with the order key as
    tie-break; x₍ₖ₎ broadcasts back over the ≤k rows, and every ln
    argument is a ratio of exact integers. NULL prices drop (both
    engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    top = o.orderBy(F.desc("cents"), F.asc("o_orderkey")).limit(HILL_K)
    kth = F.broadcast(top.agg(F.min("cents").alias("xk")))
    agg = top.crossJoin(kth).agg(
        F.count(F.lit(1)).alias("k"),
        F.max("cents").alias("max_cents"),
        F.max("xk").alias("xk"),
        F.sum(F.expr("ln(cast(cents as double) / xk)")).alias("s"),
    )
    return agg.selectExpr(
        "k",
        "max_cents",
        "xk AS kth_cents",
        "round(s, 6) AS sum_log_excess",
        # s = 0 when every top-k value ties the k-th (degenerate tail,
        # round-9 probe): alpha is undefined, emit NULL not a crash
        "CASE WHEN s > 0 THEN round(k / s, 4) END AS hill_alpha",
    )


def stats_hill_tail_sql() -> str:
    return f"""
    WITH top AS (
        SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents
        FROM orders WHERE o_totalprice IS NOT NULL
        ORDER BY cents DESC, o_orderkey LIMIT {HILL_K}
    ), kth AS (
        SELECT min(cents)::BIGINT AS xk FROM top
    )
    SELECT count(*)::BIGINT AS k,
           max(cents)::BIGINT AS max_cents,
           max(xk)::BIGINT AS kth_cents,
           round(sum(ln(cents::DOUBLE / xk)), 6) AS sum_log_excess,
           CASE WHEN sum(ln(cents::DOUBLE / xk)) > 0 THEN
               round(count(*) / sum(ln(cents::DOUBLE / xk)), 4)
           END AS hill_alpha
    FROM top CROSS JOIN kth
    """


def stats_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B assignment
    stats_ab_test consumes: the observed A/B user split vs the
    designed 50/50, the 1-df χ² and a pass/fail flag at the χ²(0.001)
    ≈ 10.83 threshold — the FIRST check an experimentation platform
    runs, because a skewed split invalidates every downstream p-value.

    ONE user-grain distinct pass (the assignment is per-user, so SRM
    is tested on users, not events), a 2-cell collapse, and closed-form
    arithmetic on two exact integers; the flag compares an exact
    integer cross-multiple (4·(a−b)²·... spelled as the rounded-χ²
    comparison both engines share). NULL user_id is unassigned
    (dropped, both engines).
    """
    u = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .withColumn("grp", F.expr("user_id % 2"))
    )
    agg = u.agg(
        F.sum((F.col("grp") == 0).cast("bigint")).alias("n_a"),
        F.sum((F.col("grp") == 1).cast("bigint")).alias("n_b"),
    )
    # chi2 simplifies to (n_a−n_b)²/(n_a+n_b) — a PURE integer
    # rational, like share_a: integer-exact HALF_UP (round-boundary
    # rule); the flag compares the identical emitted double.
    chi2 = sp_rat6(
        "cast(n_a as decimal(38,0)) * n_a - 2 * cast(n_a as decimal(38,0)) * n_b"
        " + cast(n_b as decimal(38,0)) * n_b",
        "n_a + n_b",
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        f"{sp_rat6('n_a', 'n_a + n_b')} AS share_a",
        f"{chi2} AS chi2_srm",
        f"{chi2} > 10.83 AS srm_detected",
    )


def stats_ab_srm_sql() -> str:
    chi2 = dk_rat6(
        "n_a::HUGEINT * n_a - 2 * n_a::HUGEINT * n_b + n_b::HUGEINT * n_b",
        "n_a + n_b",
    )
    return f"""
    WITH u AS (
        SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ), agg AS (
        SELECT sum((user_id % 2 = 0)::INT)::BIGINT AS n_a,
               sum((user_id % 2 = 1)::INT)::BIGINT AS n_b
        FROM u
    )
    SELECT n_a, n_b,
           {dk_rat6('n_a', 'n_a + n_b')} AS share_a,
           {chi2} AS chi2_srm,
           {chi2} > 10.83 AS srm_detected
    FROM agg
    """


HEAVY_TOP_K = 10


def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users: the top-10 by event count with each one's
    traffic share and the running cumulative share — the
    single-tenant-abuse / whale view that pairs stats_herfindahl's
    concentration index with the actual offenders; at 100 TB this is
    the table a quota system (stream_quota_enforcer) is seeded from.

    ONE user-grain count shuffle, then a TakeOrdered top-k (never a
    global sort materialization) with user_id as the deterministic
    tie-break; the total is a 1-row broadcast and the cumulative share
    runs over the ≤k rows in pinned order. Exact integers everywhere.
    NULL user_id is not a user (both engines).
    """
    u = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = u.orderBy(F.desc("n"), F.asc("user_id")).limit(HEAVY_TOP_K)
    tot = F.broadcast(
        u.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_users"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    cum = Window.orderBy(F.desc("n"), F.asc("user_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        top.crossJoin(tot)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cum_n", F.sum("n").over(cum))
        .selectExpr(
            "rank",
            "user_id",
            "n AS n_events",
            # integer-exact HALF_UP shares (repo round-boundary rule)
            f"{sp_rat6('n', 'total')} AS share",
            f"{sp_rat6('cum_n', 'total')} AS cum_share",
            "n_users",
        )
        .orderBy("rank")
    )


def q_events_heavy_hitters_sql() -> str:
    return f"""
    WITH u AS (
        SELECT user_id, count(*)::BIGINT AS n
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), top AS (
        SELECT user_id, n FROM u ORDER BY n DESC, user_id LIMIT {HEAVY_TOP_K}
    ), tot AS (
        SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS n_users FROM u
    )
    SELECT rank, user_id, n_events,
           {dk_rat6('n_events', 'total')} AS share,
           {dk_rat6('cum_n', 'total')} AS cum_share,
           n_users
    FROM (
        SELECT row_number() OVER (ORDER BY n DESC, user_id) AS rank,
               user_id, n AS n_events,
               sum(n) OVER (ORDER BY n DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
               n_users, total
        FROM top CROSS JOIN tot
    )
    ORDER BY rank
    """


def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between URGENT (priority
    1-2) and NORMAL (3-5) order-value distributions — "are urgent
    orders priced differently ANYWHERE in the distribution", the
    whole-shape test beside stats_mann_whitney's location shift;
    stats_ks_drift compares time slices, this compares segments.

    DISTINCT-value collapse first (the ECDF steps only at distinct
    cents values), one ordered pass builds both cumulative counts, and
    the sup-distance ranks on the EXACT integer cross-multiple
    |c1·n2 − c2·n1| — no float compare anywhere; D and the scaled
    statistic are the only float outputs. The distinct-cents axis is
    value-bounded; the two-level block idiom is the documented swap-in
    if it ever explodes. NULL price/priority rows drop (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull() & F.col("o_orderpriority").isNotNull())
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            (F.substring("o_orderpriority", 1, 1).cast("int") <= 2).alias("g1"),
        )
    )
    # vc feeds cum (itself consumed by best AND the final filter)
    # plus the n1/n2 totals — 4 orders scans unpinned. Distinct-cents
    # grain is value-lattice-bounded, so pin; the fact is scanned
    # once.
    vc = (
        o.groupBy("v")
        .agg(
            F.sum(F.col("g1").cast("bigint")).alias("d1"),
            F.sum((~F.col("g1")).cast("bigint")).alias("d2"),
        )
        .transform(pin)
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        vc.withColumn("c1", F.sum("d1").over(w))
        .withColumn("c2", F.sum("d2").over(w))
        .crossJoin(
            F.broadcast(vc.agg(F.sum("d1").alias("n1"), F.sum("d2").alias("n2")))
        )
        .withColumn("x", F.expr("abs(c1 * n2 - c2 * n1)"))
    )
    best = F.broadcast(cum.agg(F.max("x").alias("bx")))
    return (
        cum.crossJoin(best)
        .where(F.col("x") == F.col("bx"))
        .groupBy()
        .agg(
            F.max("n1").alias("n_urgent"),
            F.max("n2").alias("n_normal"),
            F.min("v").alias("ks_at_cents"),
            F.max("x").alias("bx"),
        )
        .selectExpr(
            "n_urgent",
            "n_normal",
            "ks_at_cents",
            f"{sp_rat6('bx', 'cast(n_urgent as decimal(38,0)) * n_normal')} AS ks_d",
            # two-sample KS is undefined with an empty arm (round-9
            # degenerate-input probe): NULL, not an ANSI crash
            "CASE WHEN n_urgent > 0 AND n_normal > 0 THEN"
            " round(cast(bx as double) / (cast(n_urgent as double) * n_normal)"
            " * sqrt(cast(n_urgent as double) * n_normal / (n_urgent + n_normal)), 4)"
            " END AS ks_stat",
        )
    )


def stats_ks_two_sample_sql() -> str:
    return f"""
    WITH o AS (
        SELECT round(o_totalprice * 100)::BIGINT AS v,
               (substring(o_orderpriority, 1, 1)::INT <= 2) AS g1
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    ), vc AS (
        SELECT v, sum(g1::INT)::BIGINT AS d1,
               sum((NOT g1)::INT)::BIGINT AS d2
        FROM o GROUP BY 1
    ), cum AS (
        SELECT v,
               sum(d1) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
               sum(d2) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
               sum(d1) OVER () AS n1, sum(d2) OVER () AS n2
        FROM vc
    ), x AS (
        SELECT v, n1, n2, abs(c1 * n2 - c2 * n1)::BIGINT AS x FROM cum
    ), best AS (
        SELECT max(x) AS bx FROM x
    )
    SELECT max(n1)::BIGINT AS n_urgent, max(n2)::BIGINT AS n_normal,
           min(v)::BIGINT AS ks_at_cents,
           {dk_rat6('max(x.x)', 'max(n1)::HUGEINT * max(n2)')} AS ks_d,
           CASE WHEN max(n1) > 0 AND max(n2) > 0 THEN
               round(max(x.x)::DOUBLE / (max(n1)::DOUBLE * max(n2))
                     * sqrt(max(n1)::DOUBLE * max(n2)
                            / (max(n1) + max(n2))), 4)
           END AS ks_stat
    FROM x CROSS JOIN best
    WHERE x.x = bx
    """


def stats_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue per market segment
    — the entropy-based inequality measure that DECOMPOSES (unlike
    stats_gini_exact): reported per segment alongside the
    between-segment component, so "how unequal" splits into
    within-segment and across-segment shares.

    Customer revenue collapses once (exact integer cents); every ln
    argument is a ratio of exact integers (x·N_seg/S_seg), so both
    engines fold identical operands; the between component needs only
    the bounded segment totals. NULL rule: orders without a customer
    match drop (inner join); a NULL segment is its own group (both
    engines); zero-revenue customers contribute 0 (x·ln x → 0 limit,
    enforced with an explicit guard in both engines).
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # r feeds the segment totals AND the within pass, seg feeds the
    # within broadcast, the global totals AND the between pass —
    # unpinned, the orders x customer join ran twice (4 fact scans).
    # Customer / segment grain: pin both; each fact is scanned ONCE.
    r = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("x"))
        .transform(pin)
    )
    seg = r.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    ).transform(pin)
    j = r.join(
        F.broadcast(seg.withColumnRenamed("c_mktsegment", "_seg")),
        F.col("c_mktsegment").eqNullSafe(F.col("_seg")),
    )
    within = j.groupBy("c_mktsegment").agg(
        F.max("n").alias("n_customers"),
        F.max("s").alias("total_cents"),
        F.sum(
            F.expr(
                "CASE WHEN x > 0 THEN (cast(x as double) / s)"
                " * ln(cast(x as double) * n / s) ELSE 0.0 END"
            )
        ).alias("theil_t"),
    )
    glob = F.broadcast(
        seg.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    )
    between = (
        seg.crossJoin(glob)
        .agg(
            F.sum(
                F.expr(
                    "(cast(s as double) / gs)"
                    " * ln((cast(s as double) / gs) / (cast(n as double) / gn))"
                )
            ).alias("theil_between")
        )
    )
    return (
        within.crossJoin(F.broadcast(between))
        .selectExpr(
            "c_mktsegment AS segment",
            "n_customers",
            "total_cents",
            "round(theil_t, 6) AS theil_within",
            "round(theil_between, 6) AS theil_between",
        )
        .orderBy("segment")
    )


def stats_theil_index_sql() -> str:
    return """
    WITH r AS (
        SELECT c_mktsegment, c_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), seg AS (
        SELECT c_mktsegment, count(*)::BIGINT AS n, sum(x)::BIGINT AS s
        FROM r GROUP BY 1
    ), within AS (
        SELECT r.c_mktsegment, max(n)::BIGINT AS n_customers,
               max(s)::BIGINT AS total_cents,
               sum(CASE WHEN x > 0 THEN (x::DOUBLE / s)
                        * ln(x::DOUBLE * n / s) ELSE 0.0 END) AS theil_t
        FROM r JOIN seg ON r.c_mktsegment IS NOT DISTINCT FROM seg.c_mktsegment
        GROUP BY 1
    ), gtot AS (
        SELECT sum(n)::BIGINT AS gn, sum(s)::BIGINT AS gs FROM seg
    ), between_ AS (
        SELECT sum((s::DOUBLE / gs)
                   * ln((s::DOUBLE / gs) / (n::DOUBLE / gn))) AS theil_between
        FROM seg CROSS JOIN gtot
    )
    SELECT c_mktsegment AS segment, n_customers, total_cents,
           round(theil_t, 6) AS theil_within,
           round(theil_between, 6) AS theil_between
    FROM within CROSS JOIN between_
    ORDER BY segment
    """


def stats_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean, geometric SD factor and the arithmetic/geometric
    gap for order values per segment — the right central tendency for
    right-skewed money data (the AM/GM ratio ≥ 1 IS a skewness
    measure); the summary stats_lognormal_fit's μ implies, made
    directly comparable to the arithmetic mean dashboards report.

    ONE customer-free aggregation per segment over exact integer
    cents: ln arguments are integer ratios (identical operands both
    engines), two-pass-free since Σln and Σln² work on ln of EXACT
    integers and the GSD exponentiates a variance of those identical
    doubles. NULL price rows drop; a NULL segment is its own group
    (both engines).
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .withColumn("lnv", F.expr("ln(cast(cents as double) / 100.0)"))
    )
    agg = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum("lnv").alias("sl"),
        F.sum(F.expr("lnv * lnv")).alias("sll"),
    )
    gm = "(exp(sl / n))"
    gsd = "(exp(sqrt((sll - sl * sl / n) / (n - 1.0))))"
    am = "(cast(s as double) / n / 100.0)"
    # arith_mean = Σcents/(100n) at 2 dp is a PURE integer rational —
    # integer-exact HALF_UP (rendered-SQL lint, round 7); the geo
    # columns stay exp/sqrt-protected.
    return (
        agg.selectExpr(
            "c_mktsegment AS segment",
            "n AS n_orders",
            f"{sp_rat('s', '100 * cast(n as decimal(38,0))', 2)} AS arith_mean",
            f"round({gm}, 2) AS geo_mean",
            f"round({gsd}, 6) AS geo_sd_factor",
            f"round({am} / {gm}, 6) AS am_gm_ratio",
        )
        .orderBy("segment")
    )


def stats_geometric_mean_sql() -> str:
    gm = "(exp(sl / n))"
    gsd = "(exp(sqrt((sll - sl * sl / n) / (n - 1.0))))"
    am = "(s::DOUBLE / n / 100.0)"
    return f"""
    WITH j AS (
        SELECT c_mktsegment,
               round(o_totalprice * 100)::BIGINT AS cents,
               ln(round(o_totalprice * 100)::BIGINT::DOUBLE / 100.0) AS lnv
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice IS NOT NULL
    ), agg AS (
        SELECT c_mktsegment, count(*)::BIGINT AS n, sum(cents)::BIGINT AS s,
               sum(lnv) AS sl, sum(lnv * lnv) AS sll
        FROM j GROUP BY 1
    )
    SELECT c_mktsegment AS segment, n AS n_orders,
           {dk_rat('s', '100 * n::HUGEINT', 2)} AS arith_mean,
           round({gm}, 2) AS geo_mean,
           round({gsd}, 6) AS geo_sd_factor,
           round({am} / {gm}, 6) AS am_gm_ratio
    FROM agg ORDER BY segment
    """


def stats_benford_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford SECOND-digit audit over order totals — the screen that
    catches rounding manipulation and invented cents the first-digit
    test misses (fraud typically preserves leading digits and breaks
    the second); expected shares are Σ₁₉ log₁₀(1 + 1/(10k+d)).

    Same exact-string-extraction discipline as stats_benford (float
    log tricks misfire at power-of-ten boundaries): second significant
    digit from the integer part's string form, values needing ≥2
    integer digits; a 10-key bounded aggregate with the expected
    shares as precomputed Python literals shared by both engines.
    NULL/sub-10 values drop (both engines).
    """
    import math

    expected = {
        d: sum(math.log10(1 + 1 / (10 * k + d)) for k in range(1, 10))
        for d in range(10)
    }
    # Shared-Python-literal discipline (r7 judge census): a bare float
    # repr parses as DECIMAL in both engines with DIFFERENT precisions
    # (Spark decimal(7,6) vs DuckDB DECIMAL(18,6) after round) — so the
    # expected share is Python-pre-rounded and cast to double, and the
    # unrounded literal used inside deviation is cast to double too.
    exp_case = " ".join(
        f"WHEN {d} THEN cast({expected[d]!r} as double)" for d in range(10)
    )
    exp_case6 = " ".join(
        f"WHEN {d} THEN cast({round(expected[d], 6)!r} as double)"
        for d in range(10)
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(F.expr("cast(floor(o_totalprice) as bigint)").alias("i"))
        .where(F.col("i") >= 10)
        .select(
            F.expr("cast(substr(cast(i as string), 2, 1) as int)").alias("d2")
        )
    )
    grid = o.groupBy("d2").agg(F.count(F.lit(1)).alias("n"))
    tot = F.broadcast(grid.agg(F.sum("n").alias("t")))
    return (
        grid.crossJoin(tot)
        .selectExpr(
            "d2 AS digit",
            "n",
            f"{sp_rat6('n', 't')} AS observed",
            f"CASE d2 {exp_case6} END AS expected",
            f"round(cast(n as double) / t - (CASE d2 {exp_case} END), 6)"
            " AS deviation",
        )
        .orderBy("digit")
    )


def stats_benford_second_sql() -> str:
    import math

    expected = {
        d: sum(math.log10(1 + 1 / (10 * k + d)) for k in range(1, 10))
        for d in range(10)
    }
    # Python-pre-rounded / cast-to-double literals, mirroring the Spark
    # side (bare repr literals parse as DECIMAL — r7 latent type flip).
    exp_case = " ".join(
        f"WHEN {d} THEN cast({expected[d]!r} as double)" for d in range(10)
    )
    exp_case6 = " ".join(
        f"WHEN {d} THEN cast({round(expected[d], 6)!r} as double)"
        for d in range(10)
    )
    return f"""
    WITH o AS (
        SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 2, 1)::INT AS d2
        FROM orders
        WHERE o_totalprice IS NOT NULL AND floor(o_totalprice)::BIGINT >= 10
    ), grid AS (
        SELECT d2, count(*)::BIGINT AS n FROM o GROUP BY 1
    ), tot AS (
        SELECT sum(n)::BIGINT AS t FROM grid
    )
    SELECT d2 AS digit, n,
           {dk_rat6('n', 't')} AS observed,
           CASE d2 {exp_case6} END AS expected,
           round(n::DOUBLE / t - (CASE d2 {exp_case} END), 6) AS deviation
    FROM grid CROSS JOIN tot
    ORDER BY digit
    """


AGING_BUCKETS = (30, 60, 90, 180)


def q_orders_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report at the data's own snapshot (the max
    order date): orders still unshipped at the snapshot bucketed into
    0-30 / 31-60 / 61-90 / 91-180 / 180+ days outstanding, with count
    and value — the accounts-receivable-style aging table behind
    q_orders_backlog's time series (that one tracks the LEVEL over
    time; this decomposes the snapshot by age).

    Order grain collapses once per side (last ship date, header);
    OPEN at snapshot = last ship date strictly after it; the age
    bucket is exact integer day arithmetic against the 1-row broadcast
    snapshot; output is the ≤5-row bucket grid. NULL rule: orders with
    no dated lines never close and age from their order date; NULL
    order dates have no age (dropped), both engines.
    """
    fin = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("fin"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    snap = F.broadcast(o.agg(F.max("od").alias("snap")))
    j = (
        o.join(fin, o.o_orderkey == fin.l_orderkey, "left")
        .crossJoin(snap)
        .where(F.col("fin").isNull() | (F.col("fin") > F.col("snap")))
        .select(F.datediff("snap", "od").alias("age"), "cents")
    )
    b1, b2, b3, b4 = AGING_BUCKETS
    bucket = (
        f"CASE WHEN age <= {b1} THEN '0-030'"
        f" WHEN age <= {b2} THEN '031-060'"
        f" WHEN age <= {b3} THEN '061-090'"
        f" WHEN age <= {b4} THEN '091-180'"
        f" ELSE '180+' END"
    )
    return (
        j.groupBy(F.expr(bucket).alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("value_cents"),
            F.max("age").alias("max_age_days"),
        )
        .orderBy("age_bucket")
    )


def q_orders_aging_sql() -> str:
    b1, b2, b3, b4 = AGING_BUCKETS
    return f"""
    WITH fin AS (
        SELECT l_orderkey, max(l_shipdate::DATE) AS fin
        FROM lineitem GROUP BY 1
    ), o AS (
        SELECT o_orderkey, o_orderdate::DATE AS od,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL
    ), snap AS (
        SELECT max(od) AS snap FROM o
    ), j AS (
        SELECT datediff('day', od, snap) AS age, cents
        FROM o LEFT JOIN fin ON o_orderkey = l_orderkey
        CROSS JOIN snap
        WHERE fin IS NULL OR fin > snap
    )
    SELECT CASE WHEN age <= {b1} THEN '0-030'
                WHEN age <= {b2} THEN '031-060'
                WHEN age <= {b3} THEN '061-090'
                WHEN age <= {b4} THEN '091-180'
                ELSE '180+' END AS age_bucket,
           count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS value_cents,
           max(age)::BIGINT AS max_age_days
    FROM j GROUP BY 1 ORDER BY age_bucket
    """


def stats_negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of DAILY event counts per
    type — the parametric step after stats_dispersion_index flags
    overdispersion: r = m²/(v−m) (clumping; small r = bursty) and
    p = m/v, the two numbers a capacity planner feeds into tail
    quantile estimates a Poisson would understate.

    Counts collapse to the DAYS-bounded calendar grain in ONE shuffle;
    with A = n·Σx² − (Σx)² − (n−1)·Σx and B = n·Σx² − (Σx)²,
    r = (n−1)·(Σx)²/(n·A) and p = (n−1)·Σx/B are PURE integer
    rationals — integer-exact HALF_UP (repo round-boundary rule),
    widened products; an underdispersed type (v ≤ m, A ≤ 0) has no NB
    fit and emits NULL r/p in both engines. NULL ts has no day; NULL
    event_type is its own group.
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    b = "(cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx)"
    a = f"({b} - cast(n - 1 as decimal(38,0)) * sx)"
    return (
        agg.selectExpr(
            "event_type",
            "n AS n_days",
            f"{sp_rat6('sx', 'n')} AS mean_daily",
            f"{sp_rat6(b, 'cast(n as decimal(38,0)) * (n - 1)')} AS var_daily",
            f"({a} > 0) AS overdispersed",
            f"""CASE WHEN {a} > 0 THEN {sp_rat6(
                f'cast(n - 1 as decimal(38,0)) * sx * sx',
                f'cast(n as decimal(38,0)) * {a}',
            )} END AS nb_r""",
            f"""CASE WHEN {a} > 0 THEN {sp_rat6(
                f'cast(n - 1 as decimal(38,0)) * sx', b
            )} END AS nb_p""",
        )
        .orderBy("event_type")
    )


def stats_negative_binomial_fit_sql() -> str:
    b = "(n::HUGEINT * sxx - sx::HUGEINT * sx)"
    a = f"({b} - (n - 1)::HUGEINT * sx)"
    return f"""
    WITH d AS (
        SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), agg AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
               sum(x * x)::BIGINT AS sxx
        FROM d GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           {dk_rat6('sx', 'n')} AS mean_daily,
           {dk_rat6(b, 'n::HUGEINT * (n - 1)')} AS var_daily,
           ({a} > 0) AS overdispersed,
           CASE WHEN {a} > 0 THEN {dk_rat6(
               f'(n - 1)::HUGEINT * sx * sx', f'n::HUGEINT * {a}'
           )} END AS nb_r,
           CASE WHEN {a} > 0 THEN {dk_rat6(f'(n - 1)::HUGEINT * sx', b)}
           END AS nb_p
    FROM agg ORDER BY event_type
    """


# Page-Hinkley: tolerance delta = mean/100 per step, alarm lambda = 50
# mean-days of accumulated positive drift (both spelled as EXACT integer
# cross-multiples below — no float constant enters a comparison)
def stats_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector on the daily-revenue series —
    the sequential test that fires when revenue runs persistently ABOVE
    its long-run mean (PH_t = S_t − min S_τ with a per-step tolerance),
    the one-sided sustained-shift complement to stats_cusum_changepoint
    (which locates the single best split).

    One DAYS-grain collapse (exact integer cents), a 1-row total
    broadcast, then prefix-sum + running-min windows over the bounded
    calendar axis. Multiply-through keeps EVERYTHING integer:
    T_t = 100n·cumsum_t − 101·t·total is an exact DECIMAL(38,0), the
    PH statistic is max(T_t − runmin T)/(10⁴n) dollars via the
    integer-exact HALF_UP helper, and the alarm compares the integer
    cross-multiple maxdiff > 5000·total. NULL order dates drop (both
    engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("y")
        )
    )
    tot = F.broadcast(
        d.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("total"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    s = (
        d.crossJoin(tot)
        .withColumn("t_idx", F.count(F.lit(1)).over(w))
        .withColumn("cum", F.sum("y").over(w))
        .withColumn(
            "big_t",
            F.expr(
                "100 * cast(n as decimal(38,0)) * cum"
                " - 101 * cast(t_idx as decimal(38,0)) * total"
            ),
        )
    )
    s = s.withColumn("runmin", F.min("big_t").over(w)).withColumn(
        "ph", F.col("big_t") - F.col("runmin")
    )
    alarm_day = F.min(
        F.when(
            F.col("ph") > F.expr("5000 * cast(total as decimal(38,0))"),
            F.col("day"),
        )
    )
    return (
        s.groupBy()
        .agg(
            F.max("n").alias("n_days"),
            F.max("ph").alias("maxdiff"),
            F.max("total").alias("total"),
            alarm_day.alias("alarm_day"),
        )
        .selectExpr(
            "n_days",
            f"{sp_rat('maxdiff', '10000 * cast(n_days as decimal(38,0))', 2)}"
            " AS ph_stat_dollars",
            "maxdiff > 5000 * cast(total as decimal(38,0)) AS alarm",
            "alarm_day",
        )
    )


def stats_page_hinkley_sql() -> str:
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), tot AS (
        SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS total FROM d
    ), s AS (
        SELECT day, n, total,
               row_number() OVER (ORDER BY day) AS t_idx,
               sum(y) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d CROSS JOIN tot
    ), t AS (
        SELECT day, n, total,
               (100 * n::HUGEINT * cum - 101 * t_idx::HUGEINT * total)
                   AS big_t
        FROM s
    ), ph AS (
        SELECT day, n, total,
               big_t - min(big_t) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
        FROM t
    )
    SELECT max(n)::BIGINT AS n_days,
           {dk_rat('max(ph)', '10000 * max(n)::HUGEINT', 2)}
               AS ph_stat_dollars,
           max(ph) > 5000 * max(total)::HUGEINT AS alarm,
           min(CASE WHEN ph > 5000 * total::HUGEINT THEN day END)
               AS alarm_day
    FROM ph
    """


def stats_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of event values per type —
    (Q3 + Q1 − 2·Q2)/(Q3 − Q1), the outlier-immune skew measure that
    still reads correctly on the fat-tailed distributions where the
    moment-based skewness in stats_jarque_bera saturates.

    ONE grouped percentile aggregation (K-bounded groups, integer
    cents). Quartiles interpolate on the quarter lattice, so 4·Q is an
    exact integer and the skew is a PURE integer rational —
    integer-exact HALF_UP (repo round-boundary rule); a degenerate type
    (Q1 = Q3) has no quartile spread and emits NULL via the zero-
    divisor guard. The quartiles themselves have ≤2 exact decimals
    (round is an identity — safe). NULL values are not observations
    (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("cast(round(value * 100) as bigint)").alias("v"),
        )
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("cast(round(percentile(v, 0.25) * 4) as bigint)").alias("q1_4"),
        F.expr("cast(round(percentile(v, 0.5) * 4) as bigint)").alias("q2_4"),
        F.expr("cast(round(percentile(v, 0.75) * 4) as bigint)").alias("q3_4"),
    )
    return (
        agg.selectExpr(
            "event_type",
            "n AS n_events",
            "(cast(q1_4 as double) / 4.0) AS q1_cents",
            "(cast(q2_4 as double) / 4.0) AS q2_cents",
            "(cast(q3_4 as double) / 4.0) AS q3_cents",
            f"{sp_rat6('q3_4 + q1_4 - 2 * q2_4', 'q3_4 - q1_4')}"
            " AS bowley_skew",
        )
        .orderBy("event_type")
    )


def stats_bowley_skew_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT event_type, round(value * 100)::BIGINT AS v
        FROM events WHERE value IS NOT NULL
    ), agg AS (
        SELECT event_type, count(*)::BIGINT AS n,
               round(quantile_cont(v, 0.25) * 4)::BIGINT AS q1_4,
               round(quantile_cont(v, 0.5) * 4)::BIGINT AS q2_4,
               round(quantile_cont(v, 0.75) * 4)::BIGINT AS q3_4
        FROM ev GROUP BY 1
    )
    SELECT event_type, n AS n_events,
           (q1_4::DOUBLE / 4.0) AS q1_cents,
           (q2_4::DOUBLE / 4.0) AS q2_cents,
           (q3_4::DOUBLE / 4.0) AS q3_cents,
           {dk_rat6('q3_4 + q1_4 - 2 * q2_4', 'q3_4 - q1_4')} AS bowley_skew
    FROM agg ORDER BY event_type
    """


def q_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net trade balance per nation: revenue its suppliers EXPORT vs
    revenue its customers IMPORT, the balance, and the balance share of
    the nation's total flow — the one-row-per-nation ledger behind
    q_nation_trade_matrix's top-partner view (that one answers WHO,
    this answers NET).

    Two independent fact-side aggregations (each ONE shuffle at nation
    grain after broadcast dimension joins) joined on the 25-row nation
    axis; cents stay exact BIGINTs and the share is a PURE integer
    rational (integer-exact HALF_UP; the sign rides the numerator).
    NULL rule: lines without the dimension match drop (inner joins,
    both engines); a nation with flow in one direction only still
    reports (full outer on the bounded axis, zero-filled).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
        ).alias("rev"),
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    exports = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.sum("rev").alias("export_cents"))
    )
    imports = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("rev").alias("import_cents"))
    )
    return (
        n.join(
            F.broadcast(exports), n.n_nationkey == exports.s_nationkey, "left"
        )
        .join(
            F.broadcast(imports), n.n_nationkey == imports.c_nationkey, "left"
        )
        .selectExpr(
            "n_name AS nation",
            "coalesce(export_cents, 0) AS export_cents",
            "coalesce(import_cents, 0) AS import_cents",
            "coalesce(export_cents, 0) - coalesce(import_cents, 0)"
            " AS balance_cents",
            f"""{sp_rat6(
                'coalesce(export_cents, 0) - coalesce(import_cents, 0)',
                'coalesce(export_cents, 0) + coalesce(import_cents, 0)',
            )} AS balance_share""",
        )
        .orderBy("nation")
    )


def q_nation_trade_balance_sql() -> str:
    return f"""
    WITH li AS (
        SELECT l_orderkey, l_suppkey,
               round(l_extendedprice * (1 - l_discount) * 100)::BIGINT AS rev
        FROM lineitem
    ), exports AS (
        SELECT s_nationkey, sum(rev)::BIGINT AS export_cents
        FROM li JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1
    ), imports AS (
        SELECT c_nationkey, sum(rev)::BIGINT AS import_cents
        FROM li
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    )
    SELECT n_name AS nation,
           coalesce(export_cents, 0)::BIGINT AS export_cents,
           coalesce(import_cents, 0)::BIGINT AS import_cents,
           (coalesce(export_cents, 0) - coalesce(import_cents, 0))::BIGINT
               AS balance_cents,
           {dk_rat6(
               'coalesce(export_cents, 0) - coalesce(import_cents, 0)',
               'coalesce(export_cents, 0) + coalesce(import_cents, 0)',
           )} AS balance_share
    FROM nation
    LEFT JOIN exports ON n_nationkey = s_nationkey
    LEFT JOIN imports ON n_nationkey = c_nationkey
    ORDER BY nation
    """


def q_events_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile per event type: total events, the peak
    hour (smallest hour wins ties), its count and traffic share — the
    capacity-planning table (when to schedule compaction, what the
    autoscaler must absorb) at the hour grain below
    stats_dispersion_index's daily view.

    ONE aggregation to the ≤24·K (type, hour) grid; the peak is a
    max-struct fold with the NEGATED hour as deterministic tie-break,
    and the share is a PURE integer rational (integer-exact HALF_UP).
    Hour extraction is wall-clock on the NTZ column — session-TZ-free,
    matching DuckDB's naive hour(). NULL ts has no hour (dropped);
    NULL event_type is its own group (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", F.hour("ts").cast("int").alias("hr"))
    )
    grid = ev.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("c"))
    agg = grid.groupBy("event_type").agg(
        F.sum("c").alias("n_events"),
        F.max(F.struct(F.col("c"), (-F.col("hr")).alias("nh"))).alias("m"),
    )
    return (
        agg.selectExpr(
            "event_type",
            "n_events",
            "(-m.nh) AS peak_hour",
            "m.c AS peak_n",
            f"{sp_rat6('m.c', 'n_events')} AS peak_share",
        )
        .orderBy("event_type")
    )


def q_events_peak_hour_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT event_type, hour(ts::TIMESTAMP)::INT AS hr
        FROM events WHERE ts IS NOT NULL
    ), grid AS (
        SELECT event_type, hr, count(*)::BIGINT AS c
        FROM ev GROUP BY 1, 2
    ), agg AS (
        SELECT event_type, sum(c)::BIGINT AS n_events,
               (max({{'c': c, 'nh': -hr}})).c AS peak_n,
               -((max({{'c': c, 'nh': -hr}})).nh) AS peak_hour
        FROM grid GROUP BY 1
    )
    SELECT event_type, n_events, peak_hour::BIGINT AS peak_hour,
           peak_n::BIGINT AS peak_n,
           {dk_rat6('peak_n', 'n_events')} AS peak_share
    FROM agg ORDER BY event_type
    """


def q_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year spend-decile migration matrix: customers ranked
    into revenue deciles per year (ntile over exact integer cents with
    a custkey tie-break — both engines place the remainder identically),
    then consecutive-year transitions counted into the ≤100-row
    (from, to) grid with each origin decile's retention share — the
    customer-movement table (who is upgrading, who is churning in
    value) behind q_orders_cohort_ltv's cumulative view.

    TWO shuffles at (customer, year) grain (sum + self-equijoin on
    custkey with yr+1), year-partitioned ntile windows (bounded
    partitions), and a bounded-grid rollup; the share is a PURE integer
    rational — integer-exact HALF_UP (repo round-boundary rule). NULL
    order dates/custkeys drop (both engines).
    """
    cy = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & F.col("o_custkey").isNotNull())
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("yr").orderBy("cents", "cust")
    d = cy.withColumn("decile", F.ntile(10).over(w))
    a = d.select(
        F.col("cust"), (F.col("yr") + 1).alias("next_yr"),
        F.col("decile").alias("from_decile"),
    )
    b = d.select(
        F.col("cust").alias("_c"), F.col("yr").alias("_y"),
        F.col("decile").alias("to_decile"),
    )
    grid = (
        a.join(b, (a.cust == F.col("_c")) & (a.next_yr == F.col("_y")))
        .groupBy("from_decile", "to_decile")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    wtot = Window.partitionBy("from_decile")
    return (
        grid.withColumn("row_total", F.sum("n_customers").over(wtot))
        .selectExpr(
            "from_decile",
            "to_decile",
            "n_customers",
            f"{sp_rat6('n_customers', 'row_total')} AS share_of_origin",
        )
        .orderBy("from_decile", "to_decile")
    )


def q_customer_migration_sql() -> str:
    return f"""
    WITH cy AS (
        SELECT o_custkey AS cust, year(o_orderdate)::BIGINT AS yr,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
        GROUP BY 1, 2
    ), d AS (
        SELECT cust, yr,
               ntile(10) OVER (PARTITION BY yr ORDER BY cents, cust)
                   AS decile
        FROM cy
    ), grid AS (
        SELECT a.decile AS from_decile, b.decile AS to_decile,
               count(*)::BIGINT AS n_customers
        FROM d a JOIN d b ON a.cust = b.cust AND b.yr = a.yr + 1
        GROUP BY 1, 2
    )
    SELECT from_decile, to_decile, n_customers,
           {dk_rat6('n_customers',
                    'sum(n_customers) OVER (PARTITION BY from_decile)')}
               AS share_of_origin
    FROM grid
    ORDER BY from_decile, to_decile
    """


def stats_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of the order→ship latency per priority class via the
    log-moment (Gumbel) method — shape k = π/(√6·sd(ln t)), scale
    λ = exp(mean ln t + γ/k) — the hazard-shape read (k < 1 infant
    mortality, k > 1 wear-out) that completes the distribution-fitting
    shelf beside stats_lognormal_fit (body) and stats_extreme_gumbel
    (maxima); fitted median λ·ln2^(1/k) reported against the exact p50
    for a one-look goodness check.

    ONE co-partitioned fact⋈fact join, per-priority ln-moments fold
    order-free doubles; every output passes through ln/sqrt/exp
    (irrational — plain round is safe per the round-boundary rule).
    Zero/negative-day lags carry no ln (dropped both engines, like the
    lognormal op). NULL dates/priorities drop.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("od"),
        )
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd"))
    )
    lag = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_orderpriority", F.datediff("sd", "od").alias("t"))
        .where(F.col("t") > 0)
    )
    m = lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("ln(cast(t as double))")).alias("sl"),
        F.sum(F.expr("ln(cast(t as double)) * ln(cast(t as double))")).alias(
            "sll"
        ),
        F.expr("percentile(t, 0.5)").alias("p50_exact"),
    )
    sd = "sqrt((n * sll - sl * sl) / (n * (n - 1.0)))"
    k = f"(1.2825498301618641 / {sd})"
    lam = f"exp(sl / n + 0.5772156649015329 / {k})"
    # the method-of-moments fit needs n ≥ 2 and positive ln-variance
    # (k divides by sd) — NESTED CASE so sd is only evaluated once the
    # discriminant is positive (round-10 single-row probe): NULL fit,
    # not an ANSI crash; identical guard both engines
    def fit(expr):
        return (
            "CASE WHEN n >= 2 THEN CASE WHEN (n * sll - sl * sl) > 0"
            f" THEN {expr} END END"
        )

    return (
        m.selectExpr(
            "o_orderpriority AS priority",
            "n AS n_lines",
            f"{fit(f'round({k}, 6)')} AS shape_k",
            f"{fit(f'round({lam}, 6)')} AS scale_days",
            fit(f"round({lam} * pow(0.6931471805599453, 1.0 / {k}), 6)")
            + " AS fitted_median_days",
            "round(p50_exact, 6) AS p50_exact_days",
        )
        .orderBy("priority")
    )


def stats_weibull_fit_sql() -> str:
    sd = "sqrt((n * sll - sl * sl) / (n * (n - 1.0)))"
    k = f"(1.2825498301618641 / {sd})"
    lam = f"exp(sl / n + 0.5772156649015329 / {k})"
    return f"""
    WITH lag AS (
        SELECT o_orderpriority,
               datediff('day', o_orderdate::DATE, l_shipdate::DATE) AS t
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
          AND l_shipdate IS NOT NULL
    ), m AS (
        SELECT o_orderpriority, count(*)::BIGINT AS n,
               sum(ln(t::DOUBLE)) AS sl,
               sum(ln(t::DOUBLE) * ln(t::DOUBLE)) AS sll,
               quantile_cont(t, 0.5) AS p50_exact
        FROM lag WHERE t > 0
        GROUP BY 1
    )
    SELECT o_orderpriority AS priority, n AS n_lines,
           CASE WHEN n >= 2 THEN CASE WHEN (n * sll - sl * sl) > 0 THEN
               round({k}, 6) END END AS shape_k,
           CASE WHEN n >= 2 THEN CASE WHEN (n * sll - sl * sl) > 0 THEN
               round({lam}, 6) END END AS scale_days,
           CASE WHEN n >= 2 THEN CASE WHEN (n * sll - sl * sl) > 0 THEN
               round({lam} * pow(0.6931471805599453, 1.0 / {k}), 6)
           END END AS fitted_median_days,
           round(p50_exact, 6) AS p50_exact_days
    FROM m ORDER BY priority
    """


def q_events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month — mean daily active users
    over monthly active users, THE product-engagement ratio — plus the
    raw actives; the engagement summary over
    q_events_cohort_retention's full triangle.

    TWO user-distinct collapses (day grain, month grain — each one
    shuffle on the user key) rolled up to the ≤MONTHS-bounded axis;
    stickiness = Σday_DAU/(days·MAU) and the mean DAU are PURE integer
    rationals — integer-exact HALF_UP (repo round-boundary rule). NULL
    ts/user rows are not activity (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.col("ts").cast("date").alias("day"),
            F.trunc(F.col("ts").cast("date"), "month").alias("month"),
            "user_id",
        )
    )
    dau = ev.groupBy("month", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = ev.groupBy(F.col("month").alias("_m")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    per_month = dau.groupBy("month").agg(
        F.count(F.lit(1)).alias("active_days"),
        F.sum("dau").alias("sdau"),
        F.max("dau").alias("peak_dau"),
    )
    return (
        per_month.join(F.broadcast(mau), F.col("month") == F.col("_m"))
        .selectExpr(
            "month",
            "active_days",
            "mau",
            "peak_dau",
            f"{sp_rat6('sdau', 'active_days')} AS mean_dau",
            f"{sp_rat6('sdau', 'cast(active_days as decimal(38,0)) * mau')}"
            " AS stickiness",
        )
        .orderBy("month")
    )


def q_events_dau_mau_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT ts::DATE AS day, date_trunc('month', ts::DATE)::DATE AS month,
               user_id
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), dau AS (
        SELECT month, day, count(DISTINCT user_id)::BIGINT AS dau
        FROM ev GROUP BY 1, 2
    ), mau AS (
        SELECT month, count(DISTINCT user_id)::BIGINT AS mau
        FROM ev GROUP BY 1
    ), per_month AS (
        SELECT month, count(*)::BIGINT AS active_days,
               sum(dau)::BIGINT AS sdau, max(dau)::BIGINT AS peak_dau
        FROM dau GROUP BY 1
    )
    SELECT per_month.month, active_days, mau, peak_dau,
           {dk_rat6('sdau', 'active_days')} AS mean_dau,
           {dk_rat6('sdau', 'active_days::HUGEINT * mau')} AS stickiness
    FROM per_month JOIN mau ON per_month.month = mau.month
    ORDER BY per_month.month
    """


def stats_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises test between URGENT (priority 1-2)
    and NORMAL order-value distributions — the INTEGRATED whole-shape
    distance (Σ of squared ECDF gaps) beside stats_ks_two_sample's
    single worst gap; CvM keeps power when the difference is spread
    thin across the distribution instead of spiking once.

    Distinct-value collapse first (duplicate explosion invisible),
    ``below_sums`` (the two-level block prefix sum) gives each group's
    cumulative-before counts with NO global sort, and Anderson's
    rank form folds to exact integers: for group-1 members at value v,
    pooled−within midrank = cum_b_before + c_b/2, so
    4U = N·Σc_a(2·cbb + c_b)² + M·Σc_b(2·cab + c_a)² is an exact
    integer and T = (6·4U − 4NM(4NM−1))/(24·NM(N+M)) a PURE integer
    rational — integer-exact HALF_UP (round-boundary rule; decimal
    headroom to ~1e9 rows/side). NULL values/priorities drop (both
    engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .select(
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
            (
                F.expr("cast(substring(o_orderpriority, 1, 1) as int)") <= 2
            ).alias("g1"),
        )
    )
    # vc fans out to the min/max range, the block pass and the block
    # table: 4 orders scans unpinned. Distinct-cents grain is bounded,
    # so pin; the fact is scanned once.
    vc = (
        o.groupBy("v")
        .agg(
            F.sum(F.col("g1").cast("bigint")).alias("ca"),
            F.sum((~F.col("g1")).cast("bigint")).alias("cb"),
        )
        .transform(pin)
    )
    j = below_sums(vc, "v", cab=F.col("ca"), cbb=F.col("cb"))
    agg = j.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(
            F.expr("cast(ca as decimal(38,0)) * (2 * cbb + cb) * (2 * cbb + cb)")
        ).alias("sa"),
        F.sum(
            F.expr("cast(cb as decimal(38,0)) * (2 * cab + ca) * (2 * cab + ca)")
        ).alias("sb"),
    )
    u4 = (
        "(cast(n_a as decimal(38,0)) * sa + cast(n_b as decimal(38,0)) * sb)"
    )
    nm = "(cast(n_a as decimal(38,0)) * n_b)"
    return agg.selectExpr(
        "n_a AS n_urgent",
        "n_b AS n_normal",
        f"{sp_rat6(f'6 * {u4} - 4 * {nm} * (4 * {nm} - 1)', f'24 * {nm} * (n_a + n_b)')}"
        " AS cvm_t",
    )


def stats_cramer_von_mises_sql() -> str:
    u4 = "(n_a::HUGEINT * sa + n_b::HUGEINT * sb)"
    nm = "(n_a::HUGEINT * n_b)"
    return f"""
    WITH o AS (
        SELECT round(o_totalprice * 100)::BIGINT AS v,
               (substring(o_orderpriority, 1, 1)::INT <= 2) AS g1
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    ), vc AS (
        SELECT v, sum(g1::INT)::BIGINT AS ca,
               sum((NOT g1)::INT)::BIGINT AS cb
        FROM o GROUP BY v
    ), cum AS (
        SELECT ca, cb,
               coalesce(sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cab,
               coalesce(sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cbb
        FROM vc
    ), agg AS (
        SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
               sum(ca::HUGEINT * (2 * cbb + cb) * (2 * cbb + cb)) AS sa,
               sum(cb::HUGEINT * (2 * cab + ca) * (2 * cab + ca)) AS sb
        FROM cum
    )
    SELECT n_a AS n_urgent, n_b AS n_normal,
           {dk_rat6(f'6 * {u4} - 4 * {nm} * (4 * {nm} - 1)',
                    f'24 * {nm} * (n_a + n_b)')} AS cvm_t
    FROM agg
    """


def q_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT round trip — the wide per-year priority-count pivot
    melted back to long form with Spark's native ``DataFrame.unpivot``
    (ids/values/variable/value signature) — the engine-surface inverse
    of q_orders_pivot, certified against an oracle that computes the
    long form DIRECTLY (so the pivot→unpivot pair must be lossless,
    not merely self-consistent).

    The wide intermediate is a ≤YEARS-row table, so the unpivot is
    driver-free metadata work over a bounded frame; zero-count cells
    materialize as 0 (pivot fills) and survive the melt — the oracle
    replays that with a year×priority grid LEFT JOIN. NULL order
    dates/priorities drop (both engines).
    """
    PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull() & F.col("o_orderpriority").isNotNull())
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    wide = (
        o.groupBy("order_year")
        .pivot("priority", PRIORITIES)
        .count()
        .na.fill(0)
    )
    long = wide.unpivot(
        ids=["order_year"],
        values=PRIORITIES,
        variableColumnName="priority",
        valueColumnName="n_orders",
    )
    return long.select(
        "order_year", "priority", F.col("n_orders").cast("bigint").alias("n_orders")
    ).orderBy("order_year", "priority")


def q_sql_unpivot_sql() -> str:
    return """
    WITH years AS (
        SELECT DISTINCT year(o_orderdate)::INT AS order_year
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
    ), prios(priority) AS (
        VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'),
               ('4-NOT SPECIFIED'), ('5-LOW')
    ), counts AS (
        SELECT year(o_orderdate)::INT AS order_year,
               o_orderpriority AS priority, count(*)::BIGINT AS n
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT y.order_year, p.priority,
           coalesce(c.n, 0)::BIGINT AS n_orders
    FROM years y CROSS JOIN prios p
    LEFT JOIN counts c
      ON c.order_year = y.order_year AND c.priority = p.priority
    ORDER BY y.order_year, p.priority
    """


BOT_HEAVY_EVENTS = 200
BOT_HOURS_SPREAD = 20


def q_events_bot_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-traffic screen: users bucketed by two integer behavioral
    flags — HEAVY (>200 events) and ROUND-THE-CLOCK (active in ≥20 of
    24 hours) — into the 4-cell (heavy, around_clock) grid with counts,
    event mass, and shares; the both-flags cell is the bot-farm
    candidate set a data pipeline quarantines before training on user
    behavior.

    ONE user-grain aggregation (distinct hour set via the 24-bit mask —
    bit_or of 1<<hour, then popcount, no second distinct pass), a
    4-row grid rollup, and integer-exact HALF_UP shares. Hour is the
    wall-clock NTZ extraction (session-TZ-free). NULL user/ts rows are
    not activity (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr("cast(1 as bigint) << cast(hour(ts) as int)").alias("hbit"),
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_count(bit_or(hbit))").alias("n_hours"),
    )
    grid = (
        per_user.select(
            (F.col("n") > BOT_HEAVY_EVENTS).alias("heavy"),
            (F.col("n_hours") >= BOT_HOURS_SPREAD).alias("around_clock"),
            "n",
        )
        .groupBy("heavy", "around_clock")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n").alias("n_events"),
        )
    )
    tot = F.broadcast(
        grid.agg(
            F.sum("n_users").alias("tu"), F.sum("n_events").alias("te")
        )
    )
    return (
        grid.crossJoin(tot)
        .selectExpr(
            "heavy",
            "around_clock",
            "n_users",
            "n_events",
            f"{sp_rat6('n_users', 'tu')} AS user_share",
            f"{sp_rat6('n_events', 'te')} AS event_share",
        )
        .orderBy("heavy", "around_clock")
    )


def q_events_bot_screen_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, (1::BIGINT << hour(ts::TIMESTAMP)::INT) AS hbit
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), per_user AS (
        SELECT user_id, count(*)::BIGINT AS n,
               bit_count(bit_or(hbit))::BIGINT AS n_hours
        FROM ev GROUP BY 1
    ), grid AS (
        SELECT (n > {BOT_HEAVY_EVENTS}) AS heavy,
               (n_hours >= {BOT_HOURS_SPREAD}) AS around_clock,
               count(*)::BIGINT AS n_users, sum(n)::BIGINT AS n_events
        FROM per_user GROUP BY 1, 2
    ), tot AS (
        SELECT sum(n_users)::BIGINT AS tu, sum(n_events)::BIGINT AS te
        FROM grid
    )
    SELECT heavy, around_clock, n_users, n_events,
           {dk_rat6('n_users', 'tu')} AS user_share,
           {dk_rat6('n_events', 'te')} AS event_share
    FROM grid CROSS JOIN tot
    ORDER BY heavy, around_clock
    """


FILL_RATE_SLA_DAYS = 30


def q_orders_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order fill rate: share of lineitems shipped within the
    30-day SLA of their order date, per order month — the fulfilment
    KPI trend (stats_cpk asks "is the process capable"; this tracks the
    promise actually kept month by month), with the line volume and the
    mean lag beside it.

    ONE co-partitioned fact⋈fact join to integer day lags, a
    MONTHS-bounded rollup; the fill rate and the mean lag are PURE
    integer rationals — integer-exact HALF_UP (repo round-boundary
    rule). NULL dates drop (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
        )
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .select("l_orderkey", F.col("l_shipdate").cast("date").alias("sd"))
    )
    lag = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "month", F.datediff("sd", "od").alias("t")
    )
    agg = lag.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("t").alias("st"),
        F.sum((F.col("t") <= FILL_RATE_SLA_DAYS).cast("bigint")).alias(
            "n_in_sla"
        ),
    )
    return (
        agg.selectExpr(
            "month",
            "n_lines",
            "n_in_sla",
            f"{sp_rat6('n_in_sla', 'n_lines')} AS fill_rate",
            f"{sp_rat6('st', 'n_lines')} AS mean_lag_days",
        )
        .orderBy("month")
    )


def q_orders_fill_rate_sql() -> str:
    return f"""
    WITH lag AS (
        SELECT date_trunc('month', o_orderdate::DATE)::DATE AS month,
               datediff('day', o_orderdate::DATE, l_shipdate::DATE) AS t
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderdate IS NOT NULL AND l_shipdate IS NOT NULL
    ), agg AS (
        SELECT month, count(*)::BIGINT AS n_lines,
               sum(t)::BIGINT AS st,
               sum((t <= {FILL_RATE_SLA_DAYS})::INT)::BIGINT AS n_in_sla
        FROM lag GROUP BY 1
    )
    SELECT month, n_lines, n_in_sla,
           {dk_rat6('n_in_sla', 'n_lines')} AS fill_rate,
           {dk_rat6('st', 'n_lines')} AS mean_lag_days
    FROM agg ORDER BY month
    """


def q_supplier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-adjusted supplier ranking: per supplier the 30-day
    SLA hit rate (ship within 30 days of the order date) with its
    Wilson LOWER bound and the top-25 ranked BY the lower bound — the
    sort-by-lower-bound discipline that stops a 3-for-3 newcomer
    outranking a 4800-of-5000 veteran (the same fix as sorting reviews
    by rating alone).

    ONE co-partitioned fact⋈fact join + supplier-grain aggregation;
    hit rate integer-exact HALF_UP; the Wilson bound passes through
    sqrt (plain round safe); rank via TakeOrdered top-k on (ROUNDED
    bound DESC, suppkey) — never a global sort materialization. NULL
    dates/suppkeys drop (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull() & F.col("l_shipdate").isNotNull())
        .select(
            "l_orderkey",
            "l_suppkey",
            F.col("l_shipdate").cast("date").alias("sd"),
        )
    )
    hits = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        (F.datediff("sd", "od") <= FILL_RATE_SLA_DAYS).cast("bigint").alias(
            "hit"
        ),
    )
    agg = hits.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").alias("k")
    )
    z2 = "3.8416"
    lower = (
        f"(((k + {z2} / 2.0) / (n + {z2}))"
        f" - (1.96 * sqrt(cast(k as double) * (n - k) / n + {z2} / 4.0)"
        f" / (n + {z2})))"
    )
    scored = agg.selectExpr(
        "l_suppkey AS suppkey",
        "n AS n_lines",
        "k AS n_on_time",
        f"{sp_rat6('k', 'n')} AS hit_rate",
        f"round({lower}, 6) AS wilson_lower",
    )
    return scored.orderBy(
        F.desc("wilson_lower"), F.asc("suppkey")
    ).limit(25)


def q_supplier_reliability_sql() -> str:
    z2 = "3.8416"
    lower = (
        f"(((k + {z2} / 2.0) / (n + {z2}))"
        f" - (1.96 * sqrt(k::DOUBLE * (n - k) / n + {z2} / 4.0)"
        f" / (n + {z2})))"
    )
    return f"""
    WITH agg AS (
        SELECT l_suppkey, count(*)::BIGINT AS n,
               sum((datediff('day', o_orderdate::DATE, l_shipdate::DATE)
                    <= {FILL_RATE_SLA_DAYS})::INT)::BIGINT AS k
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
          AND o_orderdate IS NOT NULL
        GROUP BY 1
    )
    SELECT l_suppkey AS suppkey, n AS n_lines, k AS n_on_time,
           {dk_rat6('k', 'n')} AS hit_rate,
           round({lower}, 6) AS wilson_lower
    FROM agg
    ORDER BY wilson_lower DESC, suppkey
    LIMIT 25
    """


def q_orders_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue by RANGE frame — the window family ROWS
    frames get WRONG on gappy calendars: RANGE BETWEEN 6 PRECEDING AND
    CURRENT ROW over the day ordinal includes exactly the trailing week
    even when days are missing, where a ROWS frame would silently
    stretch across gaps. Emits the trailing sum, day count actually
    present, and the gap-aware daily mean.

    One DAYS-bounded collapse (exact integer cents), the range window
    runs on the epoch-day ordinal over that bounded grain; the mean is
    a PURE integer rational (integer-exact HALF_UP). NULL order dates
    drop (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        .withColumn(
            "dn", F.datediff("day", F.lit("1970-01-01").cast("date"))
        )
    )
    w = Window.orderBy("dn").rangeBetween(-6, 0)
    out = d.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("trail_cents"),
        F.count(F.lit(1)).over(w).alias("trail_days"),
    )
    return out.selectExpr(
        "day",
        "cents AS day_cents",
        "trail_cents",
        "trail_days",
        f"{sp_rat('trail_cents', 'trail_days', 2)} AS trail_daily_mean_cents",
    ).orderBy("day")


def q_orders_trailing_range_sql() -> str:
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
               datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS dn
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 3
    ), w AS (
        SELECT day, cents,
               sum(cents) OVER (ORDER BY dn
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS trail_cents,
               count(*) OVER (ORDER BY dn
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS trail_days
        FROM d
    )
    SELECT day, cents AS day_cents,
           trail_cents::BIGINT AS trail_cents,
           trail_days::BIGINT AS trail_days,
           {dk_rat('trail_cents', 'trail_days', 2)} AS trail_daily_mean_cents
    FROM w ORDER BY day
    """


FUNNEL_STEP_WINDOW_MIN = 60


def q_events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel: view → click within 60 min → purchase
    within 60 min of that click, per user — the attribution-grade
    funnel q_events_funnel (any order-respecting occurrence) overstates:
    a click hours later no longer converts the view. Emits the stage
    population counts and the step/overall conversion shares.

    Three bounded passes at user grain: min view ts, then the earliest
    qualifying click via one conditional aggregation against the
    broadcast-joined view anchor, then the same for purchases against
    the click anchor — never an event×event pairing. Shares are PURE
    integer rationals (integer-exact HALF_UP). NULL users/ts are not
    activity (both engines).
    """
    win_us = FUNNEL_STEP_WINDOW_MIN * 60_000_000
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", F.expr(sp_epoch_us("ts")).alias("us"))
    )
    # v feeds the click stage AND its own count (and rides inside p via
    # c) — unpinned the plan expanded to v x3 / c x2 = SIX events
    # scans. Pin the user-grain stage anchors; each stage scans events
    # exactly once.
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
        .transform(pin)
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .where(
            (F.col("us") >= F.col("v_us"))
            & (F.col("us") <= F.col("v_us") + F.lit(win_us))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
        .transform(pin)
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(
            (F.col("us") >= F.col("c_us"))
            & (F.col("us") <= F.col("c_us") + F.lit(win_us))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    agg = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase"))))
    )
    return agg.selectExpr(
        "n_view",
        "n_click",
        "n_purchase",
        f"{sp_rat6('n_click', 'n_view')} AS view_to_click",
        f"{sp_rat6('n_purchase', 'n_click')} AS click_to_purchase",
        f"{sp_rat6('n_purchase', 'n_view')} AS overall",
    )


def q_events_funnel_steps_sql() -> str:
    win_us = FUNNEL_STEP_WINDOW_MIN * 60_000_000
    return f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), v AS (
        SELECT user_id, min(us) AS v_us FROM ev
        WHERE event_type = 'view' GROUP BY 1
    ), c AS (
        SELECT ev.user_id, min(us) AS c_us
        FROM ev JOIN v ON ev.user_id = v.user_id
        WHERE event_type = 'click'
          AND us >= v_us AND us <= v_us + {win_us}
        GROUP BY 1
    ), p AS (
        SELECT ev.user_id, min(us) AS p_us
        FROM ev JOIN c ON ev.user_id = c.user_id
        WHERE event_type = 'purchase'
          AND us >= c_us AND us <= c_us + {win_us}
        GROUP BY 1
    ), agg AS (
        SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
               (SELECT count(*) FROM c)::BIGINT AS n_click,
               (SELECT count(*) FROM p)::BIGINT AS n_purchase
    )
    SELECT n_view, n_click, n_purchase,
           {dk_rat6('n_click', 'n_view')} AS view_to_click,
           {dk_rat6('n_purchase', 'n_click')} AS click_to_purchase,
           {dk_rat6('n_purchase', 'n_view')} AS overall
    FROM agg
    """


def q_sql_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — the LISTAGG/STRING_AGG surface: per
    region the alphabetized nation roster as one delimited string plus
    a truncated top-3 preview — the report-formatting primitive whose
    CROSS-ENGINE trap is ordering (an unordered collect is
    nondeterministic by partitioning; both sides here pin ORDER BY
    inside the aggregation).

    Spark: sort_array(collect_list(...)) + array_join (deterministic
    regardless of arrival order); DuckDB: string_agg(... ORDER BY).
    Bounded dimension tables only. NULL nation names are skipped by
    collect_list and string_agg alike (both engines).
    """
    n = load_table(spark, sf_dir, "nation").select("n_regionkey", "n_name")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    agg = (
        n.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.expr("array_join(sort_array(collect_list(n_name)), '|')").alias(
                "roster"
            ),
            F.expr(
                "array_join(slice(sort_array(collect_list(n_name)), 1, 3), '|')"
            ).alias("top3"),
        )
    )
    return (
        agg.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            "n_nations",
            "roster",
            "top3",
        )
        .orderBy("region")
    )


def q_sql_listagg_sql() -> str:
    return """
    SELECT r_name AS region,
           count(*)::BIGINT AS n_nations,
           string_agg(n_name, '|' ORDER BY n_name) AS roster,
           array_to_string((list(n_name ORDER BY n_name))[1:3], '|') AS top3
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY region
    """


def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between URGENT (priority 1-2) and NORMAL
    order values — the magnitude number every significance test here
    (Mann-Whitney, KS, CvM) deliberately does NOT give: a p-value says
    "real", d says "big enough to matter" (0.2 small / 0.5 medium /
    0.8 large), with Hedges' g small-sample correction beside it.

    ONE conditional-aggregation pass over integer cents; means come
    out integer-exact HALF_UP, d and g pass through the pooled-sd sqrt
    (irrational — plain round safe; the correction factor 1−3/(4df−1)
    multiplies an irrational). NULL values/priorities drop (both
    engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .select(
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
            (
                F.expr("cast(substring(o_orderpriority, 1, 1) as int)") <= 2
            ).alias("g1"),
        )
    )
    agg = o.agg(
        F.sum(F.col("g1").cast("bigint")).alias("na"),
        F.sum((~F.col("g1")).cast("bigint")).alias("nb"),
        F.sum(F.when(F.col("g1"), F.col("v"))).alias("sa"),
        F.sum(F.when(~F.col("g1"), F.col("v"))).alias("sb"),
        F.sum(F.when(F.col("g1"), F.expr("cast(v as decimal(38,0)) * v"))).alias("qa"),
        F.sum(F.when(~F.col("g1"), F.expr("cast(v as decimal(38,0)) * v"))).alias("qb"),
    )
    ssa = "(cast(qa as double) - cast(sa as double) * sa / na)"
    ssb = "(cast(qb as double) - cast(sb as double) * sb / nb)"
    sp_ = f"sqrt(({ssa} + {ssb}) / (na + nb - 2.0))"
    d = f"((cast(sa as double) / na - cast(sb as double) / nb) / {sp_})"
    corr = "(1.0 - 3.0 / (4.0 * (na + nb) - 9.0))"
    # d needs both groups, pooled df > 0 and positive pooled SS
    # (round-10 n=2/n=3 probe); + 0.0 normalizes the −0.0 that
    # Hedges' correction factor produces at N = 3 (corr = 0, and
    # DuckDB's round() keeps the sign while Spark's drops it)
    ddef = f"(na > 0 AND nb > 0 AND na + nb >= 3 AND {ssa} + {ssb} > 0)"
    return agg.selectExpr(
        "na AS n_urgent",
        "nb AS n_normal",
        f"{sp_rat('sa', '100 * na', 2)} AS mean_urgent",
        f"{sp_rat('sb', '100 * nb', 2)} AS mean_normal",
        f"CASE WHEN {ddef} THEN round({d}, 6) + 0.0 END AS cohens_d",
        f"CASE WHEN {ddef} THEN round({d} * {corr}, 6) + 0.0 END"
        " AS hedges_g",
    )


def stats_cohens_d_sql() -> str:
    ssa = "(qa::DOUBLE - sa::DOUBLE * sa / na)"
    ssb = "(qb::DOUBLE - sb::DOUBLE * sb / nb)"
    sp_ = f"sqrt(({ssa} + {ssb}) / (na + nb - 2.0))"
    d = f"((sa::DOUBLE / na - sb::DOUBLE / nb) / {sp_})"
    corr = "(1.0 - 3.0 / (4.0 * (na + nb) - 9.0))"
    return f"""
    WITH o AS (
        SELECT round(o_totalprice * 100)::BIGINT AS v,
               (substring(o_orderpriority, 1, 1)::INT <= 2) AS g1
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    ), agg AS (
        SELECT sum(g1::INT)::BIGINT AS na,
               sum((NOT g1)::INT)::BIGINT AS nb,
               sum(CASE WHEN g1 THEN v END)::BIGINT AS sa,
               sum(CASE WHEN NOT g1 THEN v END)::BIGINT AS sb,
               sum(CASE WHEN g1 THEN v::HUGEINT * v END) AS qa,
               sum(CASE WHEN NOT g1 THEN v::HUGEINT * v END) AS qb
        FROM o
    )
    SELECT na AS n_urgent, nb AS n_normal,
           {dk_rat('sa', '100 * na', 2)} AS mean_urgent,
           {dk_rat('sb', '100 * nb', 2)} AS mean_normal,
           CASE WHEN na > 0 AND nb > 0 AND na + nb >= 3
                     AND {ssa} + {ssb} > 0 THEN
               round({d}, 6) + 0.0 END AS cohens_d,
           CASE WHEN na > 0 AND nb > 0 AND na + nb >= 3
                     AND {ssa} + {ssb} > 0 THEN
               round({d} * {corr}, 6) + 0.0 END AS hedges_g
    FROM agg
    """


def q_events_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth distribution: gap-sessions (the q_events_sessionize
    semantics) bucketed by events-per-session into power-of-2 depth
    bins with session/event shares — "are sessions one-tap bounces or
    long journeys", the engagement histogram OVER the sessionizer
    (sessionize lists sessions; this characterizes them).

    Reuses the one-shuffle lag/cumsum sessionizer at user grain, one
    session rollup, one ≤12-row bucket rollup; shares integer-exact
    HALF_UP; the depth bucket is exact integer bit-length arithmetic
    (no float log2). NULL users/ts are not activity (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("us", F.expr(sp_epoch_us("ts")))
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("us") - F.lag("us").over(w_user)
    sess = (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_session").over(
                w_user.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("depth"))
    )
    # power-of-2 bucket by integer bit length: 1, 2, 3-4, 5-8, ... —
    # smallest 2^k >= depth is shiftleft(1, bit-length(depth-1)); pure
    # integer arithmetic, no float log2/pow (r6 ADVICE: the docstring's
    # exactness claim is now true by construction)
    bucket = "shiftleft(cast(1 as bigint), length(bin(depth - 1)))"
    buckets = sess.selectExpr(
        f"CASE WHEN depth <= 1 THEN 1 ELSE {bucket} END AS depth_bucket",
        "depth",
    ).groupBy("depth_bucket").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("depth").alias("n_events"),
    )
    tot = F.broadcast(
        buckets.agg(
            F.sum("n_sessions").alias("ts_"), F.sum("n_events").alias("te")
        )
    )
    return (
        buckets.crossJoin(tot)
        .selectExpr(
            "depth_bucket",
            "n_sessions",
            "n_events",
            f"{sp_rat6('n_sessions', 'ts_')} AS session_share",
            f"{sp_rat6('n_events', 'te')} AS event_share",
        )
        .orderBy("depth_bucket")
    )


def q_events_session_depth_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id,
               epoch_us(ts::TIMESTAMP) AS us
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), depths AS (
        SELECT count(*)::BIGINT AS depth
        FROM sess GROUP BY user_id, sid
    ), buckets AS (
        SELECT CASE WHEN depth <= 1 THEN 1
                    ELSE (1::BIGINT << length(bin(depth - 1))) END AS depth_bucket,
               count(*)::BIGINT AS n_sessions,
               sum(depth)::BIGINT AS n_events
        FROM depths GROUP BY 1
    ), tot AS (
        SELECT sum(n_sessions)::BIGINT AS ts_, sum(n_events)::BIGINT AS te
        FROM buckets
    )
    SELECT depth_bucket, n_sessions, n_events,
           {dk_rat6('n_sessions', 'ts_')} AS session_share,
           {dk_rat6('n_events', 'te')} AS event_share
    FROM buckets CROSS JOIN tot
    ORDER BY depth_bucket
    """


def q_events_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    the same gap-session — "does add-to-cart actually associate with
    purchase beyond both being common" — the association-mining view at
    behavior grain (q_basket_lift does brands in baskets;
    q_events_type_overlap does users; this does SESSIONS, the grain
    where intent lives).

    The sessionizer's one user shuffle, DISTINCT (session, type)
    collapse, a type<type self-equijoin co-partitioned on session with
    the ≤T²/2 bounded fan-out, and the ≤T² grid with broadcast type
    totals. The joint/marginal shares are integer-exact HALF_UP; PMI
    passes through ln (irrational — plain round safe); p(a,b) = 0
    pairs never materialize (inner join — documented). NULL users/ts
    are not activity (both engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .withColumn("us", F.expr(sp_epoch_us("ts")))
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("us") - F.lag("us").over(w_user)
    st = (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_session").over(
                w_user.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("user_id", "sid", "event_type")
        .distinct()
        # st feeds the session count, the type totals AND both
        # self-join sides — unpinned, the full sessionization window
        # over events ran 4x (5 fact scans). (session, type) grain: pin
        # it; events is scanned and sessionized ONCE.
        .transform(pin)
    )
    n_sess = F.broadcast(
        st.select("user_id", "sid").distinct().agg(
            F.count(F.lit(1)).alias("ns")
        )
    )
    tt = st.groupBy(F.col("event_type").alias("_t")).agg(
        F.count(F.lit(1)).alias("nt")
    )
    a = st.select("user_id", "sid", F.col("event_type").alias("ta"))
    b = st.select(
        F.col("user_id").alias("_u"), F.col("sid").alias("_s"),
        F.col("event_type").alias("tb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("user_id") == F.col("_u"))
            & (F.col("sid") == F.col("_s"))
            & (F.col("ta") < F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    j = (
        pairs.join(
            F.broadcast(tt.select(F.col("_t").alias("_a"), F.col("nt").alias("na"))),
            F.col("ta") == F.col("_a"),
        )
        .join(
            F.broadcast(tt.select(F.col("_t").alias("_b"), F.col("nt").alias("nb"))),
            F.col("tb") == F.col("_b"),
        )
        .crossJoin(n_sess)
    )
    pmi = (
        "ln(cast(n_both as double) * ns"
        " / (cast(na as double) * nb))"
    )
    return j.selectExpr(
        "ta AS type_a",
        "tb AS type_b",
        "n_both AS n_sessions_both",
        "na AS n_sessions_a",
        "nb AS n_sessions_b",
        f"{sp_rat6('n_both', 'ns')} AS p_joint",
        f"round({pmi}, 6) AS pmi",
    ).orderBy("type_a", "type_b")


def q_events_type_pmi_sql() -> str:
    pmi = "ln(n_both::DOUBLE * ns / (na::DOUBLE * nb))"
    return f"""
    WITH ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
               epoch_us(ts::TIMESTAMP) AS us
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
    ), flagged AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), st AS (
        SELECT DISTINCT user_id, event_type,
               sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), ns AS (
        SELECT count(*)::BIGINT AS ns
        FROM (SELECT DISTINCT user_id, sid FROM st)
    ), tt AS (
        SELECT event_type AS t, count(*)::BIGINT AS nt FROM st GROUP BY 1
    ), pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               count(*)::BIGINT AS n_both
        FROM st a JOIN st b
          ON a.user_id = b.user_id AND a.sid = b.sid
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT ta AS type_a, tb AS type_b,
           n_both AS n_sessions_both,
           za.nt AS n_sessions_a, zb.nt AS n_sessions_b,
           {dk_rat6('n_both', 'ns')} AS p_joint,
           round({pmi.replace('na::', 'za.nt::').replace('nb))', 'zb.nt))')}, 6) AS pmi
    FROM pairs
    JOIN tt za ON ta = za.t
    JOIN tt zb ON tb = zb.t
    CROSS JOIN ns
    ORDER BY type_a, type_b
    """


SAMPLE_BUDGET = 1000


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: for a 1000-row
    budget across market segments, the per-stratum sample size
    n_h ∝ N_h·σ_h that MINIMIZES the variance of the estimated mean —
    the survey-sampling planner that beats proportional allocation
    whenever strata differ in spread; sample_stratified executes a
    plan, this DERIVES one.

    ONE segment-grain moment pass (exact BIGINT N, Σx, Σx² on cents);
    weights w_h = N_h·σ_h are sqrt-irrational so the allocation
    fraction/rounded n_h are plain-round safe (round-boundary rule:
    irrational class); the proportional baseline n_prop = budget·N_h/N
    IS an integer rational and emits integer-exact. NULL values drop;
    NULL segment is its own stratum (both engines).
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    r = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("<null>")).alias("seg"),
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
        )
    )
    m = r.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.expr("cast(v as decimal(38,0)) * v")).alias("sxx"),
    )
    sd = (
        "sqrt((cast(n as double) * cast(sxx as double)"
        " - cast(sx as double) * sx) / (cast(n as double) * (n - 1.0)))"
    )
    w = m.withColumn("wh", F.expr(f"cast(n as double) * {sd}"))
    tot = F.broadcast(
        w.agg(F.sum("wh").alias("tw"), F.sum("n").alias("tn"))
    )
    return (
        w.crossJoin(tot)
        .selectExpr(
            "seg AS segment",
            "n AS stratum_size",
            f"round({sd}, 2) AS stratum_sd_cents",
            # nullif(tw, 0): every stratum zero-variance (round-11
            # all-ties axis) gives total weight 0 — the optimal split is
            # undefined (NULL, DuckDB's div-by-zero convention), never
            # an ANSI crash
            f"round(wh / nullif(tw, 0.0d), 6) AS alloc_fraction",
            f"cast(round({SAMPLE_BUDGET} * wh / nullif(tw, 0.0d)) as bigint)"
            " AS n_neyman",
            f"{sp_rat6(f'{SAMPLE_BUDGET} * n', 'tn')} AS n_proportional",
        )
        .orderBy("segment")
    )


def sample_neyman_allocation_sql() -> str:
    sd = "sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx) / (n::DOUBLE * (n - 1.0)))"
    return f"""
    WITH r AS (
        SELECT coalesce(c_mktsegment, '<null>') AS seg,
               round(o_totalprice * 100)::BIGINT AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice IS NOT NULL
    ), m AS (
        SELECT seg, count(*)::BIGINT AS n, sum(v)::BIGINT AS sx,
               sum(v::HUGEINT * v) AS sxx
        FROM r GROUP BY 1
    ), w AS (
        SELECT seg, n, {sd} AS sd_, n::DOUBLE * {sd} AS wh FROM m
    ), tot AS (
        SELECT sum(wh) AS tw, sum(n)::BIGINT AS tn FROM w
    )
    SELECT seg AS segment, n AS stratum_size,
           round(sd_, 2) AS stratum_sd_cents,
           round(wh / nullif(tw, 0.0), 6) AS alloc_fraction,
           round({SAMPLE_BUDGET} * wh / nullif(tw, 0.0))::BIGINT AS n_neyman,
           {dk_rat6(f'{SAMPLE_BUDGET} * n', 'tn')} AS n_proportional
    FROM w CROSS JOIN tot
    ORDER BY segment
    """


def q_sql_interval_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic surface — add_months end-of-month
    CLAMPING (Jan 31 + 1 month = Feb 29), last_day, quarter truncation
    and exact day counts, certified per order month — the date-math
    semantics a reporting layer leans on and the classic cross-engine
    divergence spot (verified: Spark add_months and DuckDB + INTERVAL
    MONTH clamp identically; every output is cast to DATE so the types
    compare exactly).

    One MONTHS-bounded aggregation; all arithmetic runs on the bounded
    month axis. NULL order dates drop (both engines).
    """
    m = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return m.selectExpr(
        "month",
        "n_orders",
        "last_day(month) AS month_end",
        "add_months(month, 1) AS next_month",
        "add_months(last_day(month), 1) AS next_month_end_clamped",
        "cast(date_trunc('quarter', month) as date) AS quarter_start",
        "(datediff(last_day(month), month) + 1) AS days_in_month",
    ).orderBy("month")


def q_sql_interval_calendar_sql() -> str:
    return """
    WITH m AS (
        SELECT date_trunc('month', o_orderdate::DATE)::DATE AS month,
               count(*)::BIGINT AS n_orders
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT month, n_orders,
           last_day(month) AS month_end,
           (month + INTERVAL 1 MONTH)::DATE AS next_month,
           (last_day(month) + INTERVAL 1 MONTH)::DATE
               AS next_month_end_clamped,
           date_trunc('quarter', month)::DATE AS quarter_start,
           (datediff('day', month, last_day(month)) + 1)::BIGINT
               AS days_in_month
    FROM m ORDER BY month
    """


def q_orders_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 crossing: the smallest customer-spend THRESHOLD whose
    at-or-above cohort covers ≥80% of revenue, with the cohort's size
    and exact shares — the headline concentration number over
    stats_lorenz_deciles' fixed decile grid (the crossing rarely lands
    on a decile).

    Customer spend collapses once (exact cents), then DISTINCT-VALUE
    counts and ``below_sums``' strictly-below sums, subtracted from the
    totals, give each spend level's at-or-above cohort (count, revenue)
    with NO global sort; the crossing is the max spend level whose
    cohort revenue ≥ 80% of total — an exact integer cross-multiple
    compare (5·cum_rev ≥ 4·total), min-struct argmin fold, witness
    join-back. Shares integer-exact HALF_UP. NULL custkeys drop (both
    engines).
    """
    r = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("v")
        )
    )
    # vc feeds below_sums' range table and block pass AND the totals
    # broadcast; unpinned, the orders scan and collapse would run once
    # per copy. Distinct-spend-level grain: pin it so the fact is scanned
    # once.
    vc = (
        r.groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    tot = F.broadcast(
        vc.agg(
            F.sum("c").alias("tot_c"),
            F.sum(F.expr("v * c")).alias("tot_r"),
        )
    )
    # a level's at-or-above cohort is every customer not strictly below
    # it: the exact bigint totals minus the exclusive running sums
    qual = (
        below_sums(vc, "v", below_c=F.col("c"), below_r=F.expr("v * c"))
        .crossJoin(tot)
        .select(
            "v",
            (F.col("tot_c") - F.col("below_c")).alias("cum_c"),
            (F.col("tot_r") - F.col("below_r")).alias("cum_r"),
            "tot_c",
            "tot_r",
        )
        .where(F.expr("5 * cast(cum_r as decimal(38,0)) >= 4 * tot_r"))
        # qual feeds the argmax AND the witness join-back; distinct-level
        # grain — pin it so the block pass runs once
        .transform(pin)
    )
    best = qual.agg(
        F.max("v").alias("v_star"),
        F.max("tot_c").alias("tot_c"),
        F.max("tot_r").alias("tot_r"),
    )
    back = qual.select(
        F.col("v").alias("_v"), F.col("cum_c").alias("n_top"),
        F.col("cum_r").alias("rev_top"),
    )
    return (
        best.join(F.broadcast(back), F.col("v_star") == F.col("_v"))
        .selectExpr(
            "v_star AS threshold_cents",
            "n_top AS n_customers_top",
            "tot_c AS n_customers",
            "rev_top AS rev_top_cents",
            "tot_r AS rev_total_cents",
            f"{sp_rat6('n_top', 'tot_c')} AS customer_share",
            f"{sp_rat6('rev_top', 'tot_r')} AS revenue_share",
        )
    )


def q_orders_pareto_8020_sql() -> str:
    return f"""
    WITH r AS (
        SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS v
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
    ), vc AS (
        SELECT v, count(*)::BIGINT AS c FROM r GROUP BY 1
    ), cum AS (
        SELECT v,
               sum(c) OVER (ORDER BY v
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS cum_c,
               sum(v * c) OVER (ORDER BY v
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS cum_r,
               sum(c) OVER ()::BIGINT AS tot_c,
               sum(v * c) OVER ()::BIGINT AS tot_r
        FROM vc
    ), qual AS (
        SELECT * FROM cum WHERE 5 * cum_r::HUGEINT >= 4 * tot_r
    )
    SELECT max(v)::BIGINT AS threshold_cents,
           max(CASE WHEN v = (SELECT max(v) FROM qual) THEN cum_c END)::BIGINT
               AS n_customers_top,
           max(tot_c)::BIGINT AS n_customers,
           max(CASE WHEN v = (SELECT max(v) FROM qual) THEN cum_r END)::BIGINT
               AS rev_top_cents,
           max(tot_r)::BIGINT AS rev_total_cents,
           {dk_rat6("max(CASE WHEN v = (SELECT max(v) FROM qual) THEN cum_c END)", "max(tot_c)")}
               AS customer_share,
           {dk_rat6("max(CASE WHEN v = (SELECT max(v) FROM qual) THEN cum_r END)", "max(tot_r)")}
               AS revenue_share
    FROM qual
    -- vacuous on any nonempty input (the max-v level always qualifies
    -- when vc is nonempty), but suppresses the global aggregate's
    -- 1-row NULL output on an EMPTY corpus, matching the Spark side's
    -- 0-row inner join-back — the r11 empty-allowlist shape retired by
    -- this formulation.
    HAVING count(*) > 0
    """


def stats_crosstab_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized Pearson residuals for every (lang, source) cell —
    (o − e)/√(e(1−r/n)(1−c/n)) with |z| > 2 flagged — the WHICH-cell
    diagnosis behind stats_chi_square's single statistic (the test says
    "the mix differs"; the residuals say "German is over-represented in
    crawl B").

    Same bounded dense-grid construction as the chi-square (zero cells
    kept — the classic bug), one corpus shuffle; the expected count
    r·c/n is a pure integer rational emitted integer-exact HALF_UP,
    the residual passes through a sqrt of float margins products
    (irrational — plain round safe per the round-boundary rule); the
    flag compares the ROUNDED residual (repo float rule). NULL
    lang/source are their own categories (both engines).
    """
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            F.coalesce(F.col("lang"), F.lit("<null>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<null>")).alias("source"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        # cells feeds the margins, the grand total AND the dense join —
        # unpinned, the documents scan ran 4x. |langs| x |sources|
        # grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    rowt = cells.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    colt = cells.groupBy("source").agg(F.sum("o").alias("col_tot"))
    tot = cells.agg(F.sum("o").alias("n_total"))
    e = (
        "(cast(row_tot as double) * col_tot / cast(n_total as double))"
    )
    z = (
        f"((o - {e}) / sqrt({e}"
        " * (1.0 - cast(row_tot as double) / n_total)"
        " * (1.0 - cast(col_tot as double) / n_total)))"
    )
    return (
        rowt.crossJoin(F.broadcast(colt))
        .join(F.broadcast(cells), ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
        .selectExpr(
            "lang",
            "source",
            "o AS observed",
            # expected = r·c/n is a PURE integer rational —
            # integer-exact HALF_UP (rendered-SQL lint, round 7); the
            # residual stays sqrt-protected plain round.
            f"{sp_rat6('cast(row_tot as decimal(38,0)) * col_tot', 'n_total')}"
            " AS expected",
            # the adjusted residual's variance factor (1−r/n)(1−c/n) is
            # zero when a margin IS the whole table (single row / single
            # column crosstab — round-10 single-row probe): NULL, not an
            # ANSI crash; exact integer compares, identical both engines
            f"CASE WHEN row_tot < n_total AND col_tot < n_total THEN "
            f"round({z}, 6) END AS std_residual",
            f"CASE WHEN row_tot < n_total AND col_tot < n_total THEN "
            f"abs(round({z}, 6)) > 2.0 END AS notable",
        )
        .orderBy("lang", "source")
    )


def stats_crosstab_residuals_sql() -> str:
    e = "(row_tot::DOUBLE * col_tot / n_total::DOUBLE)"
    z = (
        f"((o - {e}) / sqrt({e}"
        " * (1.0 - row_tot::DOUBLE / n_total)"
        " * (1.0 - col_tot::DOUBLE / n_total)))"
    )
    return f"""
    WITH cells AS (
        SELECT coalesce(lang, '<null>') AS lang,
               coalesce(source, '<null>') AS source,
               count(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2
    ), rowt AS (
        SELECT lang, sum(o)::BIGINT AS row_tot FROM cells GROUP BY 1
    ), colt AS (
        SELECT source, sum(o)::BIGINT AS col_tot FROM cells GROUP BY 1
    ), tot AS (
        SELECT sum(o)::BIGINT AS n_total FROM cells
    ), dense AS (
        SELECT rowt.lang, colt.source, row_tot, col_tot, n_total,
               coalesce(o, 0)::BIGINT AS o
        FROM rowt CROSS JOIN colt
        LEFT JOIN cells ON cells.lang = rowt.lang
                       AND cells.source = colt.source
        CROSS JOIN tot
    )
    SELECT lang, source, o AS observed,
           {dk_rat6('row_tot::HUGEINT * col_tot', 'n_total')} AS expected,
           CASE WHEN row_tot < n_total AND col_tot < n_total THEN
               round({z}, 6) END AS std_residual,
           CASE WHEN row_tot < n_total AND col_tot < n_total THEN
               abs(round({z}, 6)) > 2.0 END AS notable
    FROM dense ORDER BY lang, source
    """


def q_customer_order_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer replenishment-cycle histogram: each repeat customer's
    MEDIAN days between consecutive orders, bucketed into power-of-2
    cycle bins with customer shares — "is the base weekly or quarterly",
    the per-customer cadence distribution over q_orders_interarrival's
    global gap view.

    ONE customer shuffle (lag gaps inside customer partitions), a
    customer-grain exact median (gap medians interpolate on the
    half-day lattice — 2·median is an exact integer), a ≤12-row bucket
    rollup; shares integer-exact HALF_UP. Customers with <3 orders
    have no cycle (dropped, both engines); NULL dates drop.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .select("o_custkey", F.col("o_orderdate").cast("date").alias("od"), "o_orderkey")
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = o.withColumn(
        "gap", F.datediff("od", F.lag("od").over(w))
    ).where(F.col("gap").isNotNull())
    med = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.expr("cast(round(percentile(gap, 0.5) * 2) as bigint)").alias(
                "med2"
            ),
        )
        .where(F.col("n_gaps") >= 2)
    )
    # smallest 2^k >= ceil(med2/2) via integer bit length (no float
    # log2/pow — r6 ADVICE)
    bucket = (
        "CASE WHEN med2 <= 2 THEN 1"
        " ELSE shiftleft(cast(1 as bigint),"
        " length(bin((med2 + 1) div 2 - 1))) END"
    )
    buckets = med.selectExpr(f"{bucket} AS cycle_bucket_days").groupBy(
        "cycle_bucket_days"
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    tot = F.broadcast(buckets.agg(F.sum("n_customers").alias("tc")))
    return (
        buckets.crossJoin(tot)
        .selectExpr(
            "cycle_bucket_days",
            "n_customers",
            f"{sp_rat6('n_customers', 'tc')} AS customer_share",
        )
        .orderBy("cycle_bucket_days")
    )


def q_customer_order_cycle_sql() -> str:
    return f"""
    WITH o AS (
        SELECT o_custkey, o_orderdate::DATE AS od, o_orderkey
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    ), gaps AS (
        SELECT o_custkey,
               datediff('day', lag(od) OVER w, od) AS gap
        FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)
    ), med AS (
        SELECT o_custkey, count(*)::BIGINT AS n_gaps,
               round(quantile_cont(gap, 0.5) * 2)::BIGINT AS med2
        FROM gaps WHERE gap IS NOT NULL
        GROUP BY 1 HAVING count(*) >= 2
    ), buckets AS (
        SELECT CASE WHEN med2 <= 2 THEN 1
                    ELSE (1::BIGINT << length(bin((med2 + 1) // 2 - 1))) END
                   AS cycle_bucket_days,
               count(*)::BIGINT AS n_customers
        FROM med GROUP BY 1
    ), tot AS (
        SELECT sum(n_customers)::BIGINT AS tc FROM buckets
    )
    SELECT cycle_bucket_days, n_customers,
           {dk_rat6('n_customers', 'tc')} AS customer_share
    FROM buckets CROSS JOIN tot
    ORDER BY cycle_bucket_days
    """


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect), monthly: the share of revenue from
    PROMO-type parts per ship month — the marketing-mix trend the
    original asks for one month, widened to the full MONTHS-bounded
    axis so the whole curve certifies in one run.

    ONE fact⋈broadcast-dim join, exact integer cents, bounded month
    rollup; the promo share (traditionally ×100) is a PURE integer
    rational — integer-exact HALF_UP at 4 dp of the percentage (repo
    round-boundary rule). NULL ship dates drop; lines without a part
    match drop (inner join, both engines).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .select(
            "l_partkey",
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month"),
            F.expr(
                "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
            ).alias("rev"),
        )
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("month")
        .agg(
            F.sum("rev").alias("total_cents"),
            F.sum(F.when(F.col("is_promo"), F.col("rev")).otherwise(0)).alias(
                "promo_cents"
            ),
        )
    )
    return (
        agg.selectExpr(
            "month",
            "promo_cents",
            "total_cents",
            f"{sp_rat('100 * cast(promo_cents as decimal(38,0))', 'total_cents', 4)}"
            " AS promo_revenue_pct",
        )
        .orderBy("month")
    )


def q14_promo_effect_sql() -> str:
    return f"""
    WITH j AS (
        SELECT date_trunc('month', l_shipdate::DATE)::DATE AS month,
               round(l_extendedprice * (1 - l_discount) * 100)::BIGINT AS rev,
               starts_with(p_type, 'PROMO') AS is_promo
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate IS NOT NULL
    ), agg AS (
        SELECT month, sum(rev)::BIGINT AS total_cents,
               sum(CASE WHEN is_promo THEN rev ELSE 0 END)::BIGINT
                   AS promo_cents
        FROM j GROUP BY 1
    )
    SELECT month, promo_cents, total_cents,
           {dk_rat('100 * promo_cents::HUGEINT', 'total_cents', 4)}
               AS promo_revenue_pct
    FROM agg ORDER BY month
    """


Q10_QUARTER_START = "1995-10-01"
Q10_QUARTER_END = "1996-01-01"


def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): the top-20 customers by
    revenue LOST to returns in one quarter, with nation — the
    claims-team worklist; completes the repo's TPC-H shelf between
    Q3's shipping backlog and Q13's distribution.

    Fact⋈fact on the order key co-partition, returned lines only
    (flag pushed to the scan), broadcast customer/nation dims, exact
    integer cents, TakeOrdered top-20 on (cents DESC, custkey) — never
    a global sort. NULL keys/dates drop (inner joins, both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(Q10_QUARTER_START).cast("date"))
            & (F.col("o_orderdate") < F.lit(Q10_QUARTER_END).cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            F.expr(
                "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
            ).alias("rev"),
        )
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_returned_lines"), F.sum("rev").alias("lost_cents"))
    )
    return (
        agg.join(F.broadcast(c), agg.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
            "n_returned_lines",
            "lost_cents",
        )
        .orderBy(F.desc("lost_cents"), F.asc("custkey"))
        .limit(20)
    )


def q10_returned_customers_sql() -> str:
    return f"""
    SELECT c_custkey AS custkey, c_name AS customer, n_name AS nation,
           count(*)::BIGINT AS n_returned_lines,
           sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
               AS lost_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '{Q10_QUARTER_START}'
      AND o_orderdate < DATE '{Q10_QUARTER_END}'
    GROUP BY 1, 2, 3
    ORDER BY lost_cents DESC, custkey
    LIMIT 20
    """


def stats_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator over user lifetimes —
    H(t) = Σ_{t_i ≤ t} d_i/n_i with the same censoring convention as
    stats_survival_km (the KM twin that estimates HAZARD instead of
    survival; NA is the robust choice when event counts per time are
    small). Emits the per-time exact hazard increment and the running
    H(t) with its Poisson-style variance.

    Same DAYS-bounded construction as the KM op (one user collapse,
    exited-before prefix for the at-risk count); the per-time increment
    d/n is integer-exact HALF_UP; the cumulative sums of increments
    and d/n² cross per-time denominators (compound class — documented)
    and pass through the float sum both engines fold over the SAME
    bounded ordered axis. NULL users/ts are not activity (both
    engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.expr(sp_epoch_us("ts")).alias("us"))
    )
    # users feeds the lifetime table and (via the max-of-last
    # identity) the corpus end — unpinned, the events scan ran per
    # copy. Pin the user-grain table and derive the corpus end FROM it
    # (max(last_us) == max(us): every event belongs to some user_id
    # group, the NULL group included): events is scanned ONCE.
    users = ev.groupBy("user_id").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us")
    ).transform(pin)
    end = users.agg(F.max("last_us").alias("end_us"))
    lives = users.crossJoin(F.broadcast(end)).select(
        ((F.col("last_us") - F.col("first_us")) / F.lit(DAY_US))
        .cast("bigint")
        .alias("t_days"),
        F.when(
            F.col("last_us") >= F.col("end_us") - KM_CENSOR_DAYS * DAY_US, 1
        )
        .otherwise(0)
        .alias("censored"),
    )
    per_t = lives.groupBy("t_days").agg(
        F.sum(1 - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    # per_t feeds the total AND the NA pass; ~31-day grain -- pin
    ).transform(pin)
    tot = per_t.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    w_prev = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    na = (
        per_t.crossJoin(F.broadcast(tot))
        .withColumn(
            "exited_before",
            F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
        )
        .withColumn("n_risk", F.col("n_total") - F.col("exited_before"))
        .where(F.col("d") > 0)
    )
    return (
        na.withColumn(
            "h_cum",
            F.round(
                F.sum(
                    F.col("d").cast("double") / F.col("n_risk").cast("double")
                ).over(w_run),
                6,
            ),
        )
        .withColumn(
            "var_cum",
            F.round(
                F.sum(
                    F.col("d").cast("double")
                    / (
                        F.col("n_risk").cast("double")
                        * F.col("n_risk").cast("double")
                    )
                ).over(w_run),
                9,
            ),
        )
        .selectExpr(
            "t_days",
            "d AS n_events",
            "n_risk",
            f"{sp_rat6('d', 'n_risk')} AS hazard_inc",
            "h_cum AS cum_hazard",
            "var_cum AS cum_hazard_var",
        )
        .orderBy("t_days")
    )


def stats_nelson_aalen_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts::TIMESTAMP) AS us
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), users AS (
        SELECT user_id, min(us) AS first_us, max(us) AS last_us
        FROM ev GROUP BY 1
    ), lives AS (
        SELECT ((last_us - first_us) // {DAY_US})::BIGINT AS t_days,
               CASE WHEN last_us >= (SELECT max(us) FROM ev)
                                     - {KM_CENSOR_DAYS} * {DAY_US}
                    THEN 1 ELSE 0 END AS censored
        FROM users
    ), per_t AS (
        SELECT t_days, sum(1 - censored)::BIGINT AS d,
               sum(censored)::BIGINT AS c
        FROM lives GROUP BY 1
    ), na AS (
        SELECT t_days, d,
               ((SELECT sum(d + c) FROM per_t)
                   - coalesce(sum(d + c) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   )::BIGINT AS n_risk
        FROM per_t
    ), pos AS (
        SELECT * FROM na WHERE d > 0
    )
    SELECT t_days, d AS n_events, n_risk,
           {dk_rat6('d', 'n_risk')} AS hazard_inc,
           round(sum(d::DOUBLE / n_risk) OVER (ORDER BY t_days
               ROWS UNBOUNDED PRECEDING), 6) AS cum_hazard,
           round(sum(d::DOUBLE / (n_risk::DOUBLE * n_risk))
               OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING), 9)
               AS cum_hazard_var
    FROM pos ORDER BY t_days
    """


def stats_wape_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast quality on daily revenue — ŷ_t = y_{t−7}
    — scored with WAPE (Σ|e|/Σy) and bias (Σe/Σy), the industry
    forecast scoreboard (WAPE is the MAPE variant that stays a SINGLE
    exact rational instead of a mean of per-day ratios, and doesn't
    explode on near-zero days). The baseline every real model must
    beat; stats_seasonal_decompose says the weekly cycle exists, this
    prices forecasting with it.

    One DAYS-bounded collapse (exact cents), a lag-7 window on the
    bounded axis, order-free integer error sums; WAPE and bias are
    PURE integer rationals — integer-exact HALF_UP (round-boundary
    rule). The first 7 days have no forecast (dropped, both engines);
    NULL order dates drop.
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("y")
        )
    )
    w = Window.orderBy("day")
    f7 = d.withColumn("yhat", F.lag("y", 7).over(w)).where(
        F.col("yhat").isNotNull()
    )
    agg = f7.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.expr("abs(y - yhat)")).alias("sae"),
        F.sum(F.expr("y - yhat")).alias("se"),
        F.sum("y").alias("sy"),
    )
    return agg.selectExpr(
        "n_days",
        f"{sp_rat6('sae', 'sy')} AS wape",
        f"{sp_rat6('se', 'sy')} AS bias",
    )


def stats_wape_forecast_sql() -> str:
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), f7 AS (
        SELECT y, lag(y, 7) OVER (ORDER BY day) AS yhat FROM d
    ), agg AS (
        SELECT count(*)::BIGINT AS n_days,
               sum(abs(y - yhat))::BIGINT AS sae,
               sum(y - yhat)::BIGINT AS se,
               sum(y)::BIGINT AS sy
        FROM f7 WHERE yhat IS NOT NULL
    )
    SELECT n_days,
           {dk_rat6('sae', 'sy')} AS wape,
           {dk_rat6('se', 'sy')} AS bias
    FROM agg
    """


def q_customer_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer churn/retention: per year, how many of
    its active customers order again the NEXT year (retained), how many
    do not (churned), and how many next-year customers are NEW — the
    three numbers every revenue plan starts from; the binary-outcome
    summary over q_customer_migration's full decile matrix.

    DISTINCT (customer, year) collapse (one shuffle), a custkey
    self-equijoin on yr+1 folded into conditional counts via a LEFT
    join, a YEARS-bounded grid; rates integer-exact HALF_UP. The last
    year has no next-year window (dropped, both engines). NULL
    keys/dates drop.
    """
    cy = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .select("o_custkey", F.year("o_orderdate").alias("yr"))
        .distinct()
        # cy feeds both self-join sides, the year max AND the
        # new-customer anti-join — unpinned, the orders scan + distinct
        # ran 5x. (customer, year) grain: pin it; the fact is scanned
        # ONCE.
        .transform(pin)
    )
    nxt = cy.select(
        F.col("o_custkey").alias("_c"), (F.col("yr") - 1).alias("_y")
    )
    j = cy.join(
        nxt, (cy.o_custkey == F.col("_c")) & (cy.yr == F.col("_y")), "left"
    ).select("yr", F.col("_c").isNotNull().cast("bigint").alias("retained"))
    grid = j.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("retained").alias("n_retained"),
    )
    years = F.broadcast(cy.agg(F.max("yr").alias("max_yr")))
    new_next = (
        cy.join(
            cy.select(
                F.col("o_custkey").alias("_c2"), (F.col("yr") + 1).alias("_y2")
            ),
            (cy.o_custkey == F.col("_c2")) & (cy.yr == F.col("_y2")),
            "left_anti",
        )
        .groupBy(F.col("yr").alias("_yn"))
        .agg(F.count(F.lit(1)).alias("n_new_next"))
        .select((F.col("_yn") - 1).alias("_yj"), "n_new_next")
    )
    return (
        grid.crossJoin(years)
        .where(F.col("yr") < F.col("max_yr"))
        .join(F.broadcast(new_next), F.col("yr") == F.col("_yj"), "left")
        .selectExpr(
            "yr AS year",
            "n_customers",
            "n_retained",
            "(n_customers - n_retained) AS n_churned",
            "coalesce(n_new_next, 0) AS n_new_next_year",
            f"{sp_rat6('n_retained', 'n_customers')} AS retention_rate",
            f"{sp_rat6('n_customers - n_retained', 'n_customers')} AS churn_rate",
        )
        .orderBy("year")
    )


def q_customer_churn_sql() -> str:
    return f"""
    WITH cy AS (
        SELECT DISTINCT o_custkey, year(o_orderdate)::BIGINT AS yr
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    ), grid AS (
        SELECT a.yr, count(*)::BIGINT AS n_customers,
               sum((b.o_custkey IS NOT NULL)::INT)::BIGINT AS n_retained
        FROM cy a LEFT JOIN cy b
          ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
        GROUP BY 1
    ), new_next AS (
        SELECT (a.yr - 1)::BIGINT AS yj, count(*)::BIGINT AS n_new_next
        FROM cy a
        WHERE NOT EXISTS (
            SELECT 1 FROM cy b
            WHERE b.o_custkey = a.o_custkey AND b.yr = a.yr - 1
        )
        GROUP BY 1
    )
    SELECT yr AS year, n_customers, n_retained,
           (n_customers - n_retained)::BIGINT AS n_churned,
           coalesce(n_new_next, 0)::BIGINT AS n_new_next_year,
           {dk_rat6('n_retained', 'n_customers')} AS retention_rate,
           {dk_rat6('n_customers - n_retained', 'n_customers')} AS churn_rate
    FROM grid LEFT JOIN new_next ON yr = yj
    WHERE yr < (SELECT max(yr) FROM cy)
    ORDER BY year
    """


def q_orders_basket_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: orders histogrammed by line count with
    order/revenue shares and the cumulative order share — the staple
    "how big is a typical order" table that sizes batch-processing
    units and co-purchase analyses (q_basket_pairs' fan-out cost is
    exactly this histogram's tail).

    ONE order-grain collapse, a ≤MAX-LINES-bounded histogram, shares
    integer-exact HALF_UP with the cumulative running over the bounded
    grid. Orders with no lineitems don't appear (inner grain, both
    engines).
    """
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
        ).alias("rev"),
    )
    hist = li.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("rev").alias("rev_cents"),
    )
    tot = F.broadcast(
        hist.agg(
            F.sum("n_orders").alias("to_"), F.sum("rev_cents").alias("tr")
        )
    )
    w = Window.orderBy("n_lines").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.crossJoin(tot)
        .withColumn("cum_orders", F.sum("n_orders").over(w))
        .selectExpr(
            "n_lines",
            "n_orders",
            "rev_cents",
            f"{sp_rat6('n_orders', 'to_')} AS order_share",
            f"{sp_rat6('rev_cents', 'tr')} AS revenue_share",
            f"{sp_rat6('cum_orders', 'to_')} AS cum_order_share",
        )
        .orderBy("n_lines")
    )


def q_orders_basket_size_sql() -> str:
    return f"""
    WITH li AS (
        SELECT l_orderkey, count(*)::BIGINT AS n_lines,
               sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT
                   AS rev
        FROM lineitem GROUP BY 1
    ), hist AS (
        SELECT n_lines, count(*)::BIGINT AS n_orders,
               sum(rev)::BIGINT AS rev_cents
        FROM li GROUP BY 1
    ), tot AS (
        SELECT sum(n_orders)::BIGINT AS to_, sum(rev_cents)::BIGINT AS tr
        FROM hist
    )
    SELECT n_lines, n_orders, rev_cents,
           {dk_rat6('n_orders', 'to_')} AS order_share,
           {dk_rat6('rev_cents', 'tr')} AS revenue_share,
           {dk_rat6("sum(n_orders) OVER (ORDER BY n_lines ROWS UNBOUNDED PRECEDING)", 'to_')}
               AS cum_order_share
    FROM hist CROSS JOIN tot
    ORDER BY n_lines
    """


def q_sql_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics certification — the engine contracts every repo
    NULL rule leans on, emitted as counted FACTS on real data so a
    regression in either engine (or a config flip) fails the hash:
    aggregate NULL-skipping (count vs count(col)), COUNT(DISTINCT)
    ignoring NULL, null-safe equality (<=> / IS NOT DISTINCT FROM)
    vs `=`'s three-valued logic, concat propagation vs concat_ws
    skipping, and NULL's exclusion by both WHERE x = x and
    WHERE NOT(x = x).

    One conditional-aggregation pass over orders' nullable status
    column (the NULL-injected fixture exercises the non-zero branch;
    plain data certifies the zero case). All exact integers.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderstatus").alias("n_nonnull"),
        F.countDistinct("o_orderstatus").alias("n_distinct_nonnull"),
        F.sum(F.col("o_orderstatus").isNull().cast("bigint")).alias("n_null"),
        F.sum(
            F.col("o_orderstatus").eqNullSafe(F.lit(None).cast("string"))
            .cast("bigint")
        ).alias("n_nullsafe_eq_null"),
        F.sum(
            (F.col("o_orderstatus") == F.col("o_orderstatus")).cast("bigint")
        ).alias("n_eq_self_true"),
        F.sum(
            F.concat(F.col("o_orderstatus"), F.lit("x")).isNull().cast(
                "bigint"
            )
        ).alias("n_concat_propagated"),
        F.sum(
            (
                F.concat_ws("-", F.col("o_orderstatus"), F.lit("x"))
                == F.lit("x")
            ).cast("bigint")
        ).alias("n_concat_ws_skipped"),
    )


def q_sql_null_semantics_sql() -> str:
    return """
    SELECT count(*)::BIGINT AS n_rows,
           count(o_orderstatus)::BIGINT AS n_nonnull,
           count(DISTINCT o_orderstatus)::BIGINT AS n_distinct_nonnull,
           sum((o_orderstatus IS NULL)::INT)::BIGINT AS n_null,
           sum((o_orderstatus IS NOT DISTINCT FROM NULL)::INT)::BIGINT
               AS n_nullsafe_eq_null,
           sum(coalesce((o_orderstatus = o_orderstatus)::INT, 0))::BIGINT
               AS n_eq_self_true,
           sum(((o_orderstatus || 'x') IS NULL)::INT)::BIGINT
               AS n_concat_propagated,
           sum((concat_ws('-', o_orderstatus, 'x') = 'x')::INT)::BIGINT
               AS n_concat_ws_skipped
    FROM orders
    """


def q_groupingsets_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 DataFrame ``groupingSets`` API — the PROGRAMMATIC twin of
    q_grouping_sets' SQL GROUPING SETS surface: the same three
    hand-picked aggregation levels ((priority, year), (priority), ())
    declared with ``df.groupingSets([[...],[...],[]], ...)`` and
    disambiguated by ``F.grouping``; one shuffle computes all three
    levels' subtotals (the multi-level report a dashboard layer builds
    without string SQL). Oracle replays via classic GROUPING SETS.
    """
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").alias("yr"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    return (
        ords.groupingSets(
            [["o_orderpriority", "yr"], ["o_orderpriority"], []],
            "o_orderpriority",
            "yr",
        )
        .agg(
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
            F.grouping("yr").cast("int").alias("g_yr"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "o_orderpriority", "yr", "g_prio", "g_yr", "n_orders", "cents"
        )
        .orderBy("g_prio", "g_yr", "o_orderpriority", "yr")
    )


def q_groupingsets_api_sql() -> str:
    return """
    WITH o AS (
        SELECT o_orderpriority, year(o_orderdate::DATE) AS yr,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        FROM orders
    )
    SELECT o_orderpriority, yr,
           grouping(o_orderpriority)::INT AS g_prio,
           grouping(yr)::INT AS g_yr,
           count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS cents
    FROM o
    GROUP BY GROUPING SETS ((o_orderpriority, yr), (o_orderpriority), ())
    ORDER BY g_prio, g_yr, o_orderpriority, yr
    """


TABLESAMPLE_ROWS = 500


def q_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``TABLESAMPLE (n ROWS)`` surface beside q_hash_sample's
    deterministic hash sampler. A row sample's CONTENT is
    engine/partition-order specific, so what the oracle certifies are
    the sampler's INVARIANTS — exact cardinality least(n, |T|), key
    uniqueness, and containment within the table's global key bounds —
    properties any correct sampler satisfies on the unique-keyed orders
    table. The plan stays distributed: the sample short-circuits the
    scan (LocalLimit pushes to every partition), the bounds come from
    one 1-row aggregate.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_ts7_orders")
    return spark.sql(
        f"""
        WITH s AS (
            SELECT o_orderkey FROM v_ts7_orders TABLESAMPLE ({TABLESAMPLE_ROWS} ROWS)
        ), a AS (
            SELECT count(*) AS n_sampled,
                   count(DISTINCT o_orderkey) AS n_keys,
                   min(o_orderkey) AS s_mn, max(o_orderkey) AS s_mx
            FROM s
        ), b AS (
            SELECT least({TABLESAMPLE_ROWS}, count(*)) AS expect_n,
                   min(o_orderkey) AS mn, max(o_orderkey) AS mx
            FROM v_ts7_orders
        )
        SELECT n_sampled,
               n_sampled = expect_n AS exact_row_count,
               n_keys = n_sampled AS keys_distinct,
               -- vacuous truth on an EMPTY sample (zero-row corpus):
               -- "no sampled key out of bounds" holds with no keys; the
               -- NULL-bounds comparison alone would emit NULL (r11
               -- SWEEP_EMPTY allowlist retirement)
               coalesce(s_mn >= mn AND s_mx <= mx,
                        n_sampled = 0) AS keys_in_bounds
        FROM a CROSS JOIN b
        """
    )


def q_tablesample_sql() -> str:
    return f"""
    SELECT least({TABLESAMPLE_ROWS}, count(*))::BIGINT AS n_sampled,
           true AS exact_row_count,
           true AS keys_distinct,
           true AS keys_in_bounds
    FROM orders
    """


def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``GROUP BY ALL`` / ``ORDER BY ALL`` surface: every
    non-aggregate select item becomes a grouping key — the
    keystroke-saving form analysts write first (and the one silent
    column additions break, which is why it deserves certification).
    Semantically identical to explicit GROUP BY 1, 2; the oracle replays
    the classic form.
    """
    load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority",
        "year(o_orderdate) AS yr",
        "cast(floor(o_totalprice * 100 + 0.5) as bigint) AS cents",
    ).createOrReplaceTempView("v_gba_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, yr,
               count(*) AS n_orders, sum(cents) AS cents
        FROM v_gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


def q_sql_group_by_all_sql() -> str:
    return """
    SELECT o_orderpriority, year(o_orderdate::DATE) AS yr,
           count(*)::BIGINT AS n_orders,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


def q_sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT * EXCEPT (cols)`` surface — the wide-table projection
    idiom (drop the status/priority payload, keep everything else) that
    replaces brittle 40-column lists in ETL SELECTs. The certified
    property: the column set is exactly schema-minus-excluded, values
    pass through untouched. Column pruning still reaches the scan —
    EXCEPT resolves at analysis time, not runtime.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_sxe_orders")
    return spark.sql(
        """
        SELECT * EXCEPT (o_orderstatus, o_orderpriority)
        FROM v_sxe_orders
        ORDER BY o_orderkey
        """
    )


def q_sql_star_except_sql() -> str:
    return """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_orderkey
    """


def q_orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index of daily order revenue: for each
    calendar month (1-12, pooled across years), the month's
    revenue-per-active-day relative to the overall revenue-per-active-
    day — the multiplicative seasonal profile demand planning divides
    out before trend fitting (stats_seasonal_decompose fits one year's
    additive curve; this is the pooled multiplicative index).

    ONE shuffle to the DAYS-bounded day grain (exact integer cents),
    a 12-key month rollup, totals broadcast back; index =
    (month_cents·total_days)/(month_days·total_cents) is a PURE
    integer rational — integer-exact HALF_UP. NULL dates have no day
    (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.expr(
                "sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
            ).alias("cents")
        )
    )
    m = d.groupBy(F.month("day").alias("month")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").alias("cents"),
    )
    tot = F.broadcast(
        m.agg(
            F.sum("n_days").alias("t_days"), F.sum("cents").alias("t_cents")
        )
    )
    return (
        m.crossJoin(tot)
        .selectExpr(
            "month",
            "n_days",
            "cents",
            f"{sp_rat6('cast(cents as decimal(38,0)) * t_days', 'cast(n_days as decimal(38,0)) * t_cents')} AS seasonality_index",
        )
        .orderBy("month")
    )


def q_orders_seasonality_index_sql() -> str:
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), m AS (
        SELECT month(day) AS month, count(*)::BIGINT AS n_days,
               sum(cents)::BIGINT AS cents
        FROM d GROUP BY 1
    ), tot AS (
        SELECT sum(n_days)::BIGINT AS t_days, sum(cents)::BIGINT AS t_cents
        FROM m
    )
    SELECT month, n_days, cents,
           {dk_rat6('cents::HUGEINT * t_days', 'n_days::HUGEINT * t_cents')}
               AS seasonality_index
    FROM m CROSS JOIN tot
    ORDER BY month
    """


def stats_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do click and purchase event values straddle
    the POOLED median identically? The robust location test that only
    needs counts above/below the grand median — cruder but far more
    outlier-proof than stats_mann_whitney's rank machinery (the classic
    triage pair: median test first, rank-sum if it matters).

    ONE pass to integer cents, a 1-row exact doubled-median broadcast
    (2·median of ints is an exact integer — no float interpolation),
    map-side straddle classification, a 4-cell aggregate; the 2×2
    chi-square n(ad−bc)²/(r₁r₂c₁c₂) is a PURE integer rational —
    integer-exact HALF_UP through decimal-widened products. NULL
    values are not observations (both engines).

    MAGNITUDE BOUND (r7 ADVICE; the sibling-op discipline): the sp_units
    numerator N·(ad−bc)²·2·10⁶ grows as N⁵/8 worst-case, exceeding
    decimal(38,0)/HUGEINT once the click+purchase observation count
    passes ≈3.8M rows WITH near-perfect association ((ad−bc) ≈ N²/4).
    Realistic tables stay far below (independent-ish cells keep
    |ad−bc| ≪ N²), but past the bound Spark's non-ANSI overflow yields
    NULL while DuckDB raises — divergence in failure MODE, not value. A
    100 TB deployment feeding >4M test observations should pre-sample
    (the test's power saturates orders of magnitude earlier anyway).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            (F.col("event_type") == "click").alias("is_a"),
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        )
    )
    med = F.broadcast(
        ev.agg(
            F.expr("cast(round(percentile(cents, 0.5) * 2) as bigint)").alias(
                "med2"
            )
        )
    )
    cells = ev.crossJoin(med).agg(
        F.sum((F.col("is_a") & (2 * F.col("cents") > F.col("med2"))).cast("bigint")).alias("a"),
        F.sum((F.col("is_a") & (2 * F.col("cents") <= F.col("med2"))).cast("bigint")).alias("b"),
        F.sum((~F.col("is_a") & (2 * F.col("cents") > F.col("med2"))).cast("bigint")).alias("c"),
        F.sum((~F.col("is_a") & (2 * F.col("cents") <= F.col("med2"))).cast("bigint")).alias("d"),
        F.max("med2").alias("med2"),
    )
    chi_p = (
        "((a + b + c + d) * (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c)"
        " * (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c))"
    )
    chi_q = (
        "(cast(a + b as decimal(38,0)) * (c + d) * (a + c) * (b + d))"
    )
    return cells.selectExpr(
        "med2 AS median_2x_cents",
        "a AS click_above",
        "b AS click_at_below",
        "c AS purchase_above",
        "d AS purchase_at_below",
        f"{sp_rat6(chi_p, chi_q)} AS chi2",
    )


def stats_median_test_sql() -> str:
    chi_p = (
        "((a + b + c + d) * (a::HUGEINT * d - b::HUGEINT * c)"
        " * (a::HUGEINT * d - b::HUGEINT * c))"
    )
    chi_q = "((a + b)::HUGEINT * (c + d) * (a + c) * (b + d))"
    return f"""
    WITH ev AS (
        SELECT (event_type = 'click') AS is_a,
               floor(value * 100 + 0.5)::BIGINT AS cents
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), med AS (
        SELECT round(quantile_cont(cents, 0.5) * 2)::BIGINT AS med2 FROM ev
    ), cells AS (
        SELECT sum((is_a AND 2 * cents > med2)::INT)::BIGINT AS a,
               sum((is_a AND 2 * cents <= med2)::INT)::BIGINT AS b,
               sum((NOT is_a AND 2 * cents > med2)::INT)::BIGINT AS c,
               sum((NOT is_a AND 2 * cents <= med2)::INT)::BIGINT AS d,
               max(med2) AS med2
        FROM ev CROSS JOIN med
    )
    SELECT med2 AS median_2x_cents,
           a AS click_above, b AS click_at_below,
           c AS purchase_above, d AS purchase_at_below,
           {dk_rat6(chi_p, chi_q)} AS chi2
    FROM cells
    """


def stats_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 inter-rater agreement between the DECLARED language
    label and the stopword-vote detector, both binarized to en/non-en —
    the prevalence-robust alternative to Cohen's kappa (kappa collapses
    under skewed marginals; AC1 is the label-audit metric that stays
    interpretable when 90% of a corpus is one class).

    Composes the langid pipeline map-side (no extra shuffle beyond its
    doc-grain pass), one 4-cell aggregate; po, chance agreement
    pe = (2a+b+c)(2d+b+c)/(2n)², and AC1 = (2n(a+d)−2n²·pe)/(2n²(1−pe))
    = (2n(a+d)−P)/(2n²−P) with P = (2a+b+c)(2d+b+c)/2 are PURE integer
    rationals — integer-exact HALF_UP. NULL declared lang is non-en
    (a label audit scores what the catalog actually says).
    """
    from navigator_data_ingest_spark.operators.textstats import text_langid

    lab = text_langid(spark, sf_dir).select(
        (F.coalesce(F.col("declared_lang"), F.lit("")) == "en").alias("r1"),
        (F.col("detected_lang") == "en").alias("r2"),
    )
    cells = lab.agg(
        F.sum((F.col("r1") & F.col("r2")).cast("bigint")).alias("a"),
        F.sum((F.col("r1") & ~F.col("r2")).cast("bigint")).alias("b"),
        F.sum((~F.col("r1") & F.col("r2")).cast("bigint")).alias("c"),
        F.sum((~F.col("r1") & ~F.col("r2")).cast("bigint")).alias("d"),
    )
    n = "(a + b + c + d)"
    big_p = (
        f"((2 * cast(a as decimal(38,0)) + b + c)"
        f" * (2 * cast(d as decimal(38,0)) + b + c))"
    )
    po_p, po_q = "(a + d)", n
    pe_p, pe_q = big_p, f"(2 * cast({n} as decimal(38,0)) * {n})"
    ac1_p = f"(2 * cast({n} as decimal(38,0)) * (a + d) - {big_p})"
    ac1_q = f"(2 * cast({n} as decimal(38,0)) * {n} - {big_p})"
    return cells.selectExpr(
        "a AS both_en",
        "b AS declared_only",
        "c AS detected_only",
        "d AS both_non_en",
        f"{sp_rat6(po_p, po_q)} AS po",
        f"{sp_rat6(pe_p, pe_q)} AS pe",
        f"{sp_rat6(ac1_p, ac1_q)} AS ac1",
    )


def q_sql_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``agg(...) FILTER (WHERE ...)`` clause surface — per-arm
    conditional aggregation without CASE-wrapping every argument (the
    form that keeps COUNT semantics honest: FILTER'd count counts rows,
    CASE'd count counts non-NULL CASE results). One pass over orders:
    per-priority totals with filtered sub-aggregates (high-value count,
    1995 revenue, open-status average) — each arm a FILTER clause.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_qaf_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_totalprice > 200000) AS n_high_value,
               sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))
                   FILTER (WHERE year(o_orderdate) = 1995) AS cents_1995,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open
        FROM v_qaf_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


def q_sql_agg_filter_sql() -> str:
    return """
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_orders,
           (count(*) FILTER (WHERE o_totalprice > 200000))::BIGINT
               AS n_high_value,
           (sum(floor(o_totalprice * 100 + 0.5)::BIGINT)
               FILTER (WHERE year(o_orderdate::DATE) = 1995))::BIGINT
               AS cents_1995,
           (count(*) FILTER (WHERE o_orderstatus = 'O'))::BIGINT AS n_open
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


def q_sql_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TRY_CAST`` surface — the messy-ingest primitive that turns
    unparseable strings into NULLs instead of job-killing exceptions
    (q_sql_try_arithmetic certifies TRY arithmetic; this certifies the
    cast path). The dirty column derives deterministically from order
    keys so both engines see identical garbage: every 3rd value gets a
    'N/A' suffix, every 7th a thousands comma — then TRY_CAST back to
    numeric, with parse-failure census per priority.
    """
    load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority",
        "CASE WHEN o_orderkey % 3 = 0"
        "     THEN concat(cast(o_totalprice as string), ' N/A')"
        "     WHEN o_orderkey % 7 = 0"
        "     THEN concat('1,', cast(o_totalprice as string))"
        "     ELSE cast(o_totalprice as string) END AS raw_price",
    ).createOrReplaceTempView("v_qtc_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_rows,
               count(try_cast(raw_price AS double)) AS n_parsed,
               sum(cast(try_cast(raw_price AS double) IS NULL AS bigint))
                   AS n_failed,
               sum(cast(floor(try_cast(raw_price AS double) * 100 + 0.5)
                        as bigint)) AS parsed_cents
        FROM v_qtc_orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


def q_sql_try_cast_sql() -> str:
    return """
    WITH dirty AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 3 = 0
                    THEN o_totalprice::VARCHAR || ' N/A'
                    WHEN o_orderkey % 7 = 0
                    THEN '1,' || o_totalprice::VARCHAR
                    ELSE o_totalprice::VARCHAR END AS raw_price
        FROM orders
    )
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_rows,
           count(try_cast(raw_price AS DOUBLE))::BIGINT AS n_parsed,
           sum((try_cast(raw_price AS DOUBLE) IS NULL)::INT)::BIGINT
               AS n_failed,
           sum(floor(try_cast(raw_price AS DOUBLE) * 100 + 0.5)::BIGINT)::BIGINT
               AS parsed_cents
    FROM dirty
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """


def q_events_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-window value-picker surfaces in one per-user pass:
    ``nth_value(2)`` (second-touch attribution's key primitive),
    ``first_value``/``last_value`` over the full frame, and
    ``lead(..., default)`` — the four pickers every journey query
    combines, certified together against the oracle's identical frame.
    Deterministic total order inside a user via (ts, event_id); one
    user-partitioned window, collapsed to user grain (bounded output).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_fwd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    enriched = ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w_full).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
        F.nth_value("event_type", 2).over(w_full).alias("second_type"),
        F.lead("event_type", 1, "END").over(w_fwd).alias("next_type"),
        F.row_number().over(w_fwd).alias("rn"),
    )
    return (
        enriched.where(F.col("rn") == 1)
        .select(
            "user_id", "first_type", "second_type", "last_type",
            F.col("next_type").alias("second_or_end"),
        )
        .orderBy("user_id")
    )


def q_events_nth_value_sql() -> str:
    return """
    WITH enr AS (
        SELECT user_id, event_id,
               first_value(event_type) OVER w_full AS first_type,
               last_value(event_type) OVER w_full AS last_type,
               nth_value(event_type, 2) OVER w_full AS second_type,
               lead(event_type, 1, 'END') OVER w_fwd AS next_type,
               row_number() OVER w_fwd AS rn
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING),
               w_fwd AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, first_type, second_type, last_type,
           next_type AS second_or_end
    FROM enr WHERE rn = 1
    ORDER BY user_id
    """


def stats_mcc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient for the en/non-en language
    detector — the single-number classifier score that stays honest
    under class imbalance (accuracy and F1 both inflate when 90% of the
    corpus is one class; MCC doesn't). Shares stats_gwet_ac1's 4-cell
    confusion aggregate; MCC² = (ad−bc)²/((a+b)(a+c)(d+b)(d+c)) is a
    PURE integer rational emitted integer-exact HALF_UP alongside the
    RAW signed MCC (sqrt over bit-identical integer operands —
    functions/exact.py raw-emission policy). Accuracy is integer-exact.
    """
    from navigator_data_ingest_spark.operators.textstats import text_langid

    lab = text_langid(spark, sf_dir).select(
        (F.coalesce(F.col("declared_lang"), F.lit("")) == "en").alias("r1"),
        (F.col("detected_lang") == "en").alias("r2"),
    )
    cells = lab.agg(
        F.sum((F.col("r1") & F.col("r2")).cast("bigint")).alias("a"),
        F.sum((F.col("r1") & ~F.col("r2")).cast("bigint")).alias("b"),
        F.sum((~F.col("r1") & F.col("r2")).cast("bigint")).alias("c"),
        F.sum((~F.col("r1") & ~F.col("r2")).cast("bigint")).alias("d"),
    )
    num = "(cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c)"
    den = (
        "(cast(a + b as decimal(38,0)) * (a + c) * (d + b) * (d + c))"
    )
    mcc_raw = (
        f"(cast({num} as double) / sqrt(cast({den} as double)))"
    )
    return cells.selectExpr(
        "a AS tp",
        "b AS fn",
        "c AS fp",
        "d AS tn",
        f"{sp_rat6('(a + d)', '(a + b + c + d)')} AS accuracy",
        f"{sp_rat6(f'{num} * {num}', den)} AS mcc_squared",
        # MCC is undefined when any marginal is empty (den = 0 — the
        # exact integer product; round-9 degenerate-input probe): NULL,
        # not an ANSI DIVIDE_BY_ZERO crash (sp_rat already nullif-guards
        # mcc_squared; this mirrors it on the raw float)
        f"CASE WHEN {den} > 0 THEN {mcc_raw} END AS mcc",
    )


def stats_mcc_langid_sql(langid_oracle: str) -> str:
    num = "(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)"
    den = "(CAST(a + b AS HUGEINT) * (a + c) * (d + b) * (d + c))"
    mcc_raw = f"(CASE WHEN {den} > 0 THEN ({num})::DOUBLE / sqrt(({den})::DOUBLE) END)"
    return f"""
    WITH lid AS (
        {langid_oracle}
    ), lab AS (
        SELECT (coalesce(declared_lang, '') = 'en') AS r1,
               (detected_lang = 'en') AS r2
        FROM lid
    ), cells AS (
        SELECT sum((r1 AND r2)::INT)::BIGINT AS a,
               sum((r1 AND NOT r2)::INT)::BIGINT AS b,
               sum((NOT r1 AND r2)::INT)::BIGINT AS c,
               sum((NOT r1 AND NOT r2)::INT)::BIGINT AS d
        FROM lab
    )
    SELECT a AS tp, b AS fn, c AS fp, d AS tn,
           {dk_rat6('(a + d)', '(a + b + c + d)')} AS accuracy,
           {dk_rat6(f'{num} * {num}', den)} AS mcc_squared,
           {mcc_raw} AS mcc
    FROM cells
    """


def stats_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact MODE per market segment (most frequent order
    priority; ties break to the lexically smallest) — the categorical
    central tendency engines disagree on by default (both Spark's and
    DuckDB's mode() return an ARBITRARY tie member), certified here via
    the count-desc/value-asc rank window both engines replay
    identically. One fact shuffle to the bounded (segment, priority)
    grid; the rank runs on that grid. NULL priority is a votable
    category; NULL segment is its own group.
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    grid = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), F.asc_nulls_last("o_orderpriority")
    )
    return (
        grid.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("segment")
    )


def stats_mode_exact_sql() -> str:
    return """
    WITH grid AS (
        SELECT c_mktsegment, o_orderpriority, count(*)::BIGINT AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY n DESC, o_orderpriority ASC NULLS LAST) AS rk
        FROM grid
    )
    SELECT c_mktsegment AS segment, o_orderpriority AS mode_priority,
           n AS mode_count
    FROM ranked WHERE rk = 1
    ORDER BY segment
    """


# SPRT design constants: H0/H1 conversion rates and alpha/beta error
# targets. The log-likelihood increments and decision thresholds are
# PRECOMPUTED PYTHON LITERALS shared verbatim by both engines (the
# stats_benford_second discipline) — computing ln() in-engine would
# re-expose JVM-vs-libm last-ulp differences in the crossing decision.
import math as _math

SPRT_P0 = 0.15
SPRT_P1 = 0.20
SPRT_ALPHA = 0.05
SPRT_BETA = 0.20
# CAST AS DOUBLE: a bare decimal literal would parse as DECIMAL in both
# engines and their decimal arithmetics differ; the cast pins the shared
# IEEE double both sides.
SPRT_L1 = f"cast({_math.log(SPRT_P1 / SPRT_P0)!r} as double)"
SPRT_L2 = f"cast({_math.log((1 - SPRT_P1) / (1 - SPRT_P0))!r} as double)"
SPRT_UPPER = f"cast({_math.log((1 - SPRT_BETA) / SPRT_ALPHA)!r} as double)"
SPRT_LOWER = f"cast({_math.log(SPRT_BETA / (1 - SPRT_ALPHA))!r} as double)"


def stats_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test on the purchase-conversion
    stream: the Wald SPRT an always-on experimentation platform runs
    INSTEAD of a fixed-horizon z-test — after each day, cumulative
    LLR = x·ln(p₁/p₀) + (n−x)·ln((1−p₁)/(1−p₀)); cross the upper bound
    → accept H₁ (rate ≥ 20%), lower → accept H₀ (rate ≈ 15%), else
    keep sampling. Reports the final state and the FIRST crossing day.

    One shuffle to the DAYS-bounded (day, n, x) grid, running sums on
    the day window, crossing day via min-day filters. The ln increments
    and Wald thresholds are shared Python literals, so every LLR is
    exact-integer × identical-literal arithmetic — bit-identical
    doubles both engines, emitted RAW (functions/exact.py policy).
    NULL ts rows have no day (both engines).
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("x"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr = f"(xc * {SPRT_L1} + (nc - xc) * {SPRT_L2})"
    run = d.withColumn("nc", F.sum("n").over(w)).withColumn(
        "xc", F.sum("x").over(w)
    )
    agg = run.selectExpr(
        "day",
        "nc",
        "xc",
        f"{llr} AS llr",
    ).agg(
        F.max("nc").alias("n_total"),
        F.max("xc").alias("x_total"),
        F.expr("max_by(llr, day)").alias("final_llr"),
        F.min(
            F.when(F.expr(f"llr >= {SPRT_UPPER}"), F.col("day"))
        ).alias("first_upper_day"),
        F.min(
            F.when(F.expr(f"llr <= {SPRT_LOWER}"), F.col("day"))
        ).alias("first_lower_day"),
    )
    return agg.selectExpr(
        "n_total",
        "x_total",
        "final_llr",
        "first_upper_day",
        "first_lower_day",
        f"CASE WHEN first_upper_day IS NOT NULL"
        f"      AND (first_lower_day IS NULL"
        f"           OR first_upper_day <= first_lower_day) THEN 'accept_h1'"
        f"     WHEN first_lower_day IS NOT NULL THEN 'accept_h0'"
        f"     ELSE 'continue' END AS decision",
    )


def stats_sprt_ab_sql() -> str:
    llr = f"(xc * {SPRT_L1} + (nc - xc) * {SPRT_L2})"
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS n,
               sum((event_type = 'purchase')::INT)::BIGINT AS x
        FROM events
        WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
        GROUP BY 1
    ), run AS (
        SELECT day,
               sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS nc,
               sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS xc
        FROM d
    ), scored AS (
        SELECT day, nc, xc, {llr} AS llr FROM run
    ), agg AS (
        SELECT max(nc)::BIGINT AS n_total, max(xc)::BIGINT AS x_total,
               max_by(llr, day) AS final_llr,
               min(CASE WHEN llr >= {SPRT_UPPER} THEN day END)
                   AS first_upper_day,
               min(CASE WHEN llr <= {SPRT_LOWER} THEN day END)
                   AS first_lower_day
        FROM scored
    )
    SELECT n_total, x_total, final_llr, first_upper_day, first_lower_day,
           CASE WHEN first_upper_day IS NOT NULL
                 AND (first_lower_day IS NULL
                      OR first_upper_day <= first_lower_day) THEN 'accept_h1'
                WHEN first_lower_day IS NOT NULL THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM agg
    """


def q_sql_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery surfaces in one certification: EXISTS,
    NOT EXISTS, IN, NOT IN — including the classic NOT-IN-with-NULL
    trap (one NULL in the subquery list makes NOT IN three-valued-NULL
    for every probe, so the arm returns ZERO rows; both engines
    implement the standard, and pipelines that "migrate" NOT IN to
    anti-join silently change it). Catalyst plans the first four as
    semi/anti joins — the certification is that the SQL surface
    reaches those plans with standard semantics intact.
    """
    # five scalar subqueries each re-scanned both views (5x customer +
    # 5x orders unpinned). Every arm consumes the views MEMBERSHIP-ONLY
    # — customer via c_custkey counts, orders via the o_custkey set
    # (EXISTS / IN / NOT IN are set predicates; duplicate o_custkey
    # rows cannot change any arm, and the distinct set keeps a NULL iff
    # orders has one, so the NOT-IN three-valued trap is preserved
    # bit-for-bit). Register the key projection (customer) and the
    # distinct key set (orders), both pinned: each base table is
    # scanned ONCE, the SQL text and its semi/anti-join plans are
    # unchanged.
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pin(cust).createOrReplaceTempView("v_qei_cust")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    pin(orders).createOrReplaceTempView("v_qei_orders")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM v_qei_cust c
            WHERE EXISTS (SELECT 1 FROM v_qei_orders o
                           WHERE o.o_custkey = c.c_custkey)) AS n_exists,
          (SELECT count(*) FROM v_qei_cust c
            WHERE NOT EXISTS (SELECT 1 FROM v_qei_orders o
                               WHERE o.o_custkey = c.c_custkey)) AS n_not_exists,
          (SELECT count(*) FROM v_qei_cust
            WHERE c_custkey IN (SELECT o_custkey FROM v_qei_orders)) AS n_in,
          (SELECT count(*) FROM v_qei_cust
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM v_qei_orders
                WHERE o_custkey IS NOT NULL)) AS n_not_in,
          (SELECT count(*) FROM v_qei_cust
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM v_qei_orders
               UNION ALL SELECT NULL)) AS n_not_in_null_trap
        """
    )


def q_sql_exists_in_sql() -> str:
    return """
    SELECT
      (SELECT count(*) FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey))::BIGINT AS n_exists,
      (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey))::BIGINT
          AS n_not_exists,
      (SELECT count(*) FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders))::BIGINT AS n_in,
      (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders
            WHERE o_custkey IS NOT NULL))::BIGINT AS n_not_in,
      (SELECT count(*) FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders
           UNION ALL SELECT NULL))::BIGINT AS n_not_in_null_trap
    """


def q_sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``PIVOT`` clause surface — the statement form of
    q_orders_pivot's DataFrame pivot (a warehouse migration carries the
    SQL text, not the API call): yearly revenue cents spread across
    explicitly-enumerated status columns. Enumerated IN-list keeps the
    pivot ONE pass (an unenumerated pivot needs a distinct-values job
    first); the oracle replays with CASE aggregation, the portable
    expansion PIVOT compiles to.
    """
    load_table(spark, sf_dir, "orders").selectExpr(
        "year(o_orderdate) AS order_year",
        "o_orderstatus",
        "cast(floor(o_totalprice * 100 + 0.5) as bigint) AS cents",
    ).createOrReplaceTempView("v_qpv_orders")
    return spark.sql(
        """
        SELECT * FROM v_qpv_orders
        PIVOT (sum(cents) AS c
               FOR o_orderstatus IN ('O' AS status_o, 'F' AS status_f,
                                     'P' AS status_p))
        ORDER BY order_year
        """
    )


def q_sql_pivot_sql() -> str:
    return """
    SELECT year(o_orderdate::DATE) AS order_year,
           sum(CASE WHEN o_orderstatus = 'O'
                    THEN floor(o_totalprice * 100 + 0.5)::BIGINT END)::BIGINT
               AS status_o,
           sum(CASE WHEN o_orderstatus = 'F'
                    THEN floor(o_totalprice * 100 + 0.5)::BIGINT END)::BIGINT
               AS status_f,
           sum(CASE WHEN o_orderstatus = 'P'
                    THEN floor(o_totalprice * 100 + 0.5)::BIGINT END)::BIGINT
               AS status_p
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """


def q_sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINT surface: the same customer⋈nation aggregate
    computed under ``/*+ BROADCAST */`` and ``/*+ SHUFFLE_MERGE */``
    hints, unioned with a hint-free control — results must be
    IDENTICAL (hints steer the physical strategy, never the answer; a
    hint that changed values would be an engine bug). The plan-side
    assertion — BROADCAST ⇒ BroadcastHashJoin, SHUFFLE_MERGE ⇒
    SortMergeJoin — is pinned in tests/test_plan_shape.py; this query
    certifies the value contract. The oracle replays one arm three
    ways (DuckDB has no hint surface — which is the point).
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_qjh_cust")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_qjh_nation")
    arm = """
        SELECT {hint} '{label}' AS arm, n_name,
               count(*) AS n_customers,
               sum(cast(floor(c_acctbal * 100 + 0.5) as bigint)) AS acct_cents
        FROM v_qjh_cust JOIN v_qjh_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """
    return spark.sql(
        " UNION ALL ".join(
            [
                arm.format(hint="/*+ BROADCAST(v_qjh_nation) */", label="broadcast"),
                arm.format(hint="/*+ SHUFFLE_MERGE(v_qjh_nation) */", label="shuffle_merge"),
                arm.format(hint="", label="none"),
            ]
        )
        + " ORDER BY arm, n_name"
    )


def q_sql_join_hints_sql() -> str:
    arm = """
        SELECT '{label}' AS arm, n_name,
               count(*)::BIGINT AS n_customers,
               sum(floor(c_acctbal * 100 + 0.5)::BIGINT)::BIGINT AS acct_cents
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """
    return (
        " UNION ALL ".join(
            arm.format(label=lbl) for lbl in ("broadcast", "shuffle_merge", "none")
        )
        + " ORDER BY arm, n_name"
    )


def stats_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test on click vs purchase event values —
    the unequal-variance location test that belongs beside the rank
    family (mann_whitney), the proportions z (stats_ab_test) and the
    effect size (stats_cohens_d): means, the t statistic, and the
    Welch–Satterthwaite degrees of freedom.

    ONE conditional-moment aggregation over float value data (sums are
    float aggregates → rounded at 6 dp per the functions/exact.py
    policy — rounding is what re-aligns summation-order ulps); every
    expression is identical text in both engines. NULL values are not
    observations (both engines).
    """
    agg = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
        )
        .agg(
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).alias("na"),
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN value ELSE 0 END")).alias("sa"),
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN value * value ELSE 0 END")).alias("qa"),
            F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")).alias("nb"),
            F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")).alias("sb"),
            F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN value * value ELSE 0 END")).alias("qb"),
        )
    )
    va = "(((qa - sa * sa / na) / (na - 1.0)) / na)"
    vb = "(((qb - sb * sb / nb) / (nb - 1.0)) / nb)"
    t = f"((sa / na - sb / nb) / sqrt({va} + {vb}))"
    df_w = (
        f"(({va} + {vb}) * ({va} + {vb})"
        f" / ({va} * {va} / (na - 1.0) + {vb} * {vb} / (nb - 1.0)))"
    )
    # the Welch machinery needs n ≥ 2 in BOTH groups and a positive
    # pooled variance — NESTED CASE because the variance expressions
    # themselves divide by (n−1) (round-10 n=2/n=3 probe): NULL, not an
    # ANSI crash; identical guards both engines
    two = "(na >= 2 AND nb >= 2)"
    return agg.selectExpr(
        "na AS n_a",
        "nb AS n_b",
        "CASE WHEN na > 0 AND nb > 0 THEN "
        "round(sa / na - sb / nb, 6) END AS mean_diff",
        f"CASE WHEN {two} THEN CASE WHEN {va} + {vb} > 0 THEN "
        f"round({t}, 6) END END AS t_stat",
        f"CASE WHEN {two} THEN CASE WHEN {va} * {va} / (na - 1.0)"
        f" + {vb} * {vb} / (nb - 1.0) > 0 THEN "
        f"round({df_w}, 6) END END AS df_welch",
        f"CASE WHEN {two} THEN CASE WHEN {va} + {vb} > 0 THEN "
        f"abs({t}) > 1.959964 END END AS reject_95",
    )


def stats_welch_t_sql() -> str:
    va = "(((qa - sa * sa / na) / (na - 1.0)) / na)"
    vb = "(((qb - sb * sb / nb) / (nb - 1.0)) / nb)"
    t = f"((sa / na - sb / nb) / sqrt({va} + {vb}))"
    df_w = (
        f"(({va} + {vb}) * ({va} + {vb})"
        f" / ({va} * {va} / (na - 1.0) + {vb} * {vb} / (nb - 1.0)))"
    )
    return f"""
    WITH agg AS (
        SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS na,
               sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS sa,
               sum(CASE WHEN event_type = 'click' THEN value * value ELSE 0 END) AS qa,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS nb,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS sb,
               sum(CASE WHEN event_type = 'purchase' THEN value * value ELSE 0 END) AS qb
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    )
    SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           CASE WHEN na > 0 AND nb > 0 THEN
               round(sa / na - sb / nb, 6) END AS mean_diff,
           CASE WHEN na >= 2 AND nb >= 2 THEN
               CASE WHEN {va} + {vb} > 0 THEN
                   round({t}, 6) END END AS t_stat,
           CASE WHEN na >= 2 AND nb >= 2 THEN
               CASE WHEN {va} * {va} / (na - 1.0)
                         + {vb} * {vb} / (nb - 1.0) > 0 THEN
                   round({df_w}, 6) END END AS df_welch,
           CASE WHEN na >= 2 AND nb >= 2 THEN
               CASE WHEN {va} + {vb} > 0 THEN
                   abs({t}) > 1.959964 END END AS reject_95
    FROM agg
    """


def q_sql_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four SQL ranking functions in one certified frame — rank
    (gapped), dense_rank, percent_rank and cume_dist over national
    revenue — on the NATION-bounded grid (the window is global but its
    input is the ≤25-row dimension rollup, never the fact table).
    percent_rank = (rank−1)/(N−1) and cume_dist = rows≤current/N are
    engine-internal IEEE divisions of identical integers, emitted RAW
    (functions/exact.py policy).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.expr("sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))").alias(
                "cents"
            )
        )
    )
    w = Window.orderBy(F.desc("cents"), F.asc("n_name"))
    return rev.select(
        "n_name",
        "cents",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("dense_rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("rnk", "n_name")


def q_sql_rank_functions_sql() -> str:
    return """
    WITH rev AS (
        SELECT n_name,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, cents,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS dense_rnk,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM rev
    WINDOW w AS (ORDER BY cents DESC, n_name ASC)
    ORDER BY rnk, n_name
    """


def q_sql_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``LATERAL`` correlated-subquery surface (the statement form
    of q_lateral_join_api's DataFrame lateralJoin): for each REGION,
    the top-revenue nation pulled by a correlated ORDER BY ... LIMIT 1
    subquery. The outer side is the 5-row region dimension — per-row
    correlated limits are the lookup-enrichment tool, never a
    fact-table scan pattern (the bulk form is the min(struct) argmax
    idiom). Ties break on nation name inside the subquery's ORDER BY.
    """
    load_table(spark, sf_dir, "region").createOrReplaceTempView("v_qls_region")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_qls_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_qls_cust")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_qls_orders")
    return spark.sql(
        """
        WITH nrev AS (
            SELECT n_regionkey, n_name,
                   sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) AS cents
            FROM v_qls_orders
            JOIN v_qls_cust ON o_custkey = c_custkey
            JOIN v_qls_nation ON c_nationkey = n_nationkey
            GROUP BY n_regionkey, n_name
        )
        SELECT r_name, top.n_name AS top_nation, top.cents AS top_cents
        FROM v_qls_region,
             LATERAL (SELECT n_name, cents FROM nrev
                       WHERE nrev.n_regionkey = v_qls_region.r_regionkey
                       ORDER BY cents DESC, n_name ASC LIMIT 1) AS top
        ORDER BY r_name
        """
    )


def q_sql_lateral_subquery_sql() -> str:
    return """
    WITH nrev AS (
        SELECT n_regionkey, n_name,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_regionkey, n_name
    )
    SELECT r_name, top.n_name AS top_nation, top.cents AS top_cents
    FROM region,
         LATERAL (SELECT n_name, cents FROM nrev
                   WHERE nrev.n_regionkey = region.r_regionkey
                   ORDER BY cents DESC, n_name ASC LIMIT 1) AS top
    ORDER BY r_name
    """


def stats_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons AFTER Kruskal-Wallis — the
    test that answers WHICH event types differ once KW says SOME do:
    z_ij = (R̄_i − R̄_j) / √(S²(1/n_i + 1/n_j)) on the shared
    tie-corrected rank variance S² = N(N+1)/12 − Σ(c³−c)/(12(N−1)),
    with a Bonferroni verdict at the K(K−1)/2 family size.

    Shares stats_kruskal_wallis's per-group rank sums
    (``_event_type_rank_sums``: exact 0.5-lattice ranks on the K-row
    grid) and adds a K²-bounded pair self-join. Every operand is exact,
    so z is IEEE-deterministic and emitted RAW (functions/exact.py
    policy). NULL value/type rows are not observations (both engines).
    """
    grp, ties = _event_type_rank_sums(spark, sf_dir)
    glob = F.broadcast(
        grp.agg(
            F.sum("n_j").alias("n"), F.count(F.lit(1)).alias("k")
        ).crossJoin(F.broadcast(ties))
    )
    a = grp.select(
        F.col("event_type").alias("type_a"),
        F.col("n_j").alias("na"),
        F.col("r_j").alias("ra"),
    )
    bb = grp.select(
        F.col("event_type").alias("type_b"),
        F.col("n_j").alias("nb"),
        F.col("r_j").alias("rb"),
    )
    pairs = a.join(bb, F.col("type_a") < F.col("type_b")).crossJoin(glob)
    s2 = "(n * (n + 1.0) / 12.0 - tie3 / (12.0 * (n - 1.0)))"
    # S2 = 0 exactly when EVERY observation ties (tie3 == N3-N, the
    # all-ties sweep axis): z is undefined (NULL both engines, never
    # an ANSI crash) -- exact integer discriminant in decimal(38,0),
    # the stats_mann_whitney pattern
    zdef = "(tie3 < cast(n as decimal(38,0)) * n * n - n)"
    z = (
        f"(CASE WHEN {zdef} THEN ((ra / na - rb / nb)"
        f" / sqrt({s2} * (1.0 / na + 1.0 / nb))) END)"
    )
    return pairs.selectExpr(
        "type_a",
        "type_b",
        "na AS n_a",
        "nb AS n_b",
        "ra / na AS mean_rank_a",
        "rb / nb AS mean_rank_b",
        f"{z} AS z",
        # Bonferroni at the K(K-1)/2 family: |z| > Phi^-1(1 - 0.025/m).
        # k is data-dependent, so the threshold is a CASE over Python-
        # precomputed literals (in-engine ln() re-exposes JVM-vs-libm
        # last-ulp differences in crossing decisions — the SPRT-constant
        # rationale); in-engine ln only past k=16, documented.
        f"abs({z}) > {_dunn_threshold_case()} AS notable",
    ).orderBy("type_a", "type_b")


def _dunn_threshold_case() -> str:
    """Shared-Python-literal Bonferroni thresholds for Dunn's test
    (2 + ln(k(k-1)/2)/2 for each plausible group count k), emitted as
    the same SQL text for Spark and DuckDB so the crossing decision is
    bit-identical; beyond k=16 both engines fall back to in-engine ln
    (residual last-ulp risk only at absurd family sizes)."""
    import math

    whens = " ".join(
        f"WHEN {k} THEN cast({2.0 + math.log(k * (k - 1) / 2.0) / 2.0!r}"
        " as double)"
        for k in range(2, 17)
    )
    return (
        f"(CASE k {whens} ELSE 2.0 + ln(cast(k * (k - 1) as double)"
        " / 2.0) / 2.0 END)"
    )


def stats_dunn_posthoc_sql() -> str:
    s2 = "(n * (n + 1.0) / 12.0 - tie3 / (12.0 * (n - 1.0)))"
    zdef = "(tie3 < n::HUGEINT * n * n - n)"
    z = (
        f"(CASE WHEN {zdef} THEN ((ra / na - rb / nb)"
        f" / sqrt({s2} * (1.0 / na + 1.0 / nb))) END)"
    )
    return f"""
    WITH ev AS (
        SELECT event_type, value FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), tv AS (
        SELECT event_type, value, count(*)::BIGINT AS cg
        FROM ev GROUP BY 1, 2
    ), vc AS (
        SELECT value, sum(cg)::BIGINT AS c FROM tv GROUP BY 1
    ), ranked AS (
        SELECT value,
               coalesce(sum(c) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
               + (c::DOUBLE + 1.0) / 2.0 AS avg_rank
        FROM vc
    ), grp AS (
        SELECT event_type, sum(cg)::BIGINT AS n_j,
               sum(cg::DOUBLE * avg_rank) AS r_j
        FROM tv JOIN ranked USING (value)
        GROUP BY 1
    ), tots AS (
        SELECT (SELECT sum(n_j)::BIGINT FROM grp) AS n,
               (SELECT count(*)::BIGINT FROM grp) AS k,
               (SELECT sum(c * c * c - c)::BIGINT FROM vc) AS tie3
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n_j AS n_a, b.n_j AS n_b,
           a.r_j / a.n_j AS mean_rank_a,
           b.r_j / b.n_j AS mean_rank_b,
           {z.replace('ra', 'a.r_j').replace('rb', 'b.r_j')
             .replace('na', 'a.n_j').replace('nb', 'b.n_j')} AS z,
           abs({z.replace('ra', 'a.r_j').replace('rb', 'b.r_j')
                 .replace('na', 'a.n_j').replace('nb', 'b.n_j')})
               > {_dunn_threshold_case()} AS notable
    FROM grp a JOIN grp b ON a.event_type < b.event_type
    CROSS JOIN tots
    ORDER BY type_a, type_b
    """


def stats_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence on the
    lang × source contingency table — the chi-square's
    information-theoretic twin (G = 2·Σ o·ln(o/e); additive across
    partitions of the table, which Pearson's X² is not, and the reason
    hierarchical corpus audits prefer it).

    Same bounded dense-grid construction as stats_chi_square — one
    corpus shuffle to cells, margins re-aggregated from the bounded
    cell table, expected counts from exact integer products — zero
    cells contribute 0 by the o·ln(o/·) convention (explicit CASE in
    both engines). G passes through ln (irrational — plain round).
    """
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            F.coalesce(F.col("lang"), F.lit("<null>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<null>")).alias("source"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        # cells feeds the margins, the grand total AND the dense join —
        # unpinned, the documents scan ran 4x. |langs| x |sources|
        # grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    rowt = cells.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    colt = cells.groupBy("source").agg(F.sum("o").alias("col_tot"))
    tot = cells.agg(F.sum("o").alias("n_total"))
    dense = (
        rowt.crossJoin(F.broadcast(colt))
        .join(F.broadcast(cells), ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    term = (
        "CASE WHEN o = 0 THEN 0.0 ELSE"
        " o * ln(cast(o as double) * n_total"
        " / (cast(row_tot as double) * col_tot)) END"
    )
    agg = dense.agg(
        F.max("n_total").alias("n_total"),
        F.expr("count(DISTINCT lang)").alias("n_rows"),
        F.expr("count(DISTINCT source)").alias("n_cols"),
        F.expr(f"sum({term})").alias("g_half"),
    )
    return agg.selectExpr(
        "n_total",
        "cast((n_rows - 1) * (n_cols - 1) as bigint) AS dof",
        "round(2.0 * g_half, 6) AS g_stat",
    )


def stats_g_test_sql() -> str:
    term = (
        "CASE WHEN o = 0 THEN 0.0 ELSE"
        " o * ln(o::DOUBLE * n_total / (row_tot::DOUBLE * col_tot)) END"
    )
    return f"""
    WITH cells AS (
        SELECT coalesce(lang, '<null>') AS lang,
               coalesce(source, '<null>') AS source,
               count(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2
    ), rowt AS (
        SELECT lang, sum(o)::BIGINT AS row_tot FROM cells GROUP BY 1
    ), colt AS (
        SELECT source, sum(o)::BIGINT AS col_tot FROM cells GROUP BY 1
    ), tot AS (
        SELECT sum(o)::BIGINT AS n_total FROM cells
    ), dense AS (
        SELECT rowt.lang, colt.source, row_tot, col_tot, n_total,
               coalesce(o, 0)::BIGINT AS o
        FROM rowt CROSS JOIN colt
        LEFT JOIN cells ON cells.lang = rowt.lang
                       AND cells.source = colt.source
        CROSS JOIN tot
    )
    SELECT max(n_total)::BIGINT AS n_total,
           ((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1))::BIGINT
               AS dof,
           round(2.0 * sum({term}), 6) AS g_stat
    FROM dense
    """


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.unionByName(allowMissingColumns=True)`` surface —
    the schema-evolution-tolerant union every multi-vintage ingest
    needs (positional UNION silently pairs mismatched columns; by-name
    fills absent ones with NULL). Two deliberately different
    projections of orders (one carries status, the other carries
    priority) unite by name; the census counts NULL-filled cells per
    arm so a silent positional pairing could never pass the oracle.
    """
    o = load_table(spark, sf_dir, "orders")
    arm_a = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    arm_b = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    u = arm_a.unionByName(arm_b, allowMissingColumns=True)
    return u.selectExpr(
        "count(*) AS n_rows",
        "count(o_orderstatus) AS n_status",
        "count(o_orderpriority) AS n_priority",
        "sum(cast(o_orderstatus IS NULL AS bigint)) AS n_status_null",
        "sum(cast(o_orderpriority IS NULL AS bigint)) AS n_priority_null",
        "sum(cents) AS cents",
    )


def q_union_by_name_sql() -> str:
    return """
    WITH u AS (
        SELECT o_orderkey, o_orderstatus,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
               NULL::VARCHAR AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, NULL::VARCHAR AS o_orderstatus,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents,
               o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT count(*)::BIGINT AS n_rows,
           count(o_orderstatus)::BIGINT AS n_status,
           count(o_orderpriority)::BIGINT AS n_priority,
           sum((o_orderstatus IS NULL)::INT)::BIGINT AS n_status_null,
           sum((o_orderpriority IS NULL)::INT)::BIGINT AS n_priority_null,
           sum(cents)::BIGINT AS cents
    FROM u
    """


def stats_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test on daily revenue: the S
    statistic computed WITHIN each calendar month (pairs only compare
    January to January, never January to July) and summed — the
    de-seasonalized monotonic-trend test demand series need where plain
    MK (stats_mann_kendall) confounds seasonality with trend.

    Fact collapse to the DAYS-bounded day grain first (exact integer
    cents), then ONE month-equality self-join bounded by
    (days-per-month)² per season; per-season tie terms from the
    (month, value) grid. S and the summed variance stay integers —
    var_s is integer-exact HALF_UP and z is +,−,÷,sqrt over
    bit-identical integers, emitted RAW (functions/exact.py policy).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.expr(
                "sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))"
            ).alias("y")
        )
        .select(F.month("day").alias("m"), "day", "y")
        # d fans out to both pair sides + per-season counts + tie grid
        # (4 orders scans unpinned); DAYS-bounded, so pin — the fact is
        # scanned once.
        .transform(pin)
    )
    a = d.select(F.col("m").alias("ma"), F.col("day").alias("da"), F.col("y").alias("ya"))
    b = d.select(F.col("m").alias("mb"), F.col("day").alias("db"), F.col("y").alias("yb"))
    s = a.join(
        b, (F.col("ma") == F.col("mb")) & (F.col("da") < F.col("db"))
    ).agg(F.sum(F.signum(F.col("yb") - F.col("ya")).cast("bigint")).alias("s_stat"))
    per_m = d.groupBy("m").agg(F.count(F.lit(1)).alias("n_m"))
    ties = (
        d.groupBy("m", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("m")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_m")
        )
    )
    var_terms = per_m.join(ties, "m").agg(
        F.sum(
            F.expr(
                "cast(n_m as decimal(38,0)) * (n_m - 1) * (2 * n_m + 5) - tie_m"
            )
        ).alias("var18"),
        F.sum("n_m").alias("n_days"),
        F.count(F.lit(1)).alias("n_seasons"),
    )
    out = s.crossJoin(F.broadcast(var_terms))
    var_d = "(cast(var18 as double) / 18.0)"
    z = (
        f"CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt({var_d}) "
        f"WHEN s_stat < 0 THEN (s_stat + 1) / sqrt({var_d}) ELSE 0.0 END"
    )
    return out.selectExpr(
        "n_days",
        "cast(n_seasons as bigint) AS n_seasons",
        "s_stat",
        f"{sp_rat6('var18', '18')} AS var_s",
        f"{z} AS z",
    )


def stats_seasonal_mann_kendall_sql() -> str:
    var_d = "(var18::DOUBLE / 18.0)"
    z = (
        f"CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt({var_d}) "
        f"WHEN s_stat < 0 THEN (s_stat + 1) / sqrt({var_d}) ELSE 0.0 END"
    )
    return f"""
    WITH d AS (
        SELECT month(o_orderdate::DATE) AS m, o_orderdate::DATE AS day,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS y
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY 1, 2
    ), s AS (
        SELECT sum(sign(b.y - a.y))::BIGINT AS s_stat
        FROM d a JOIN d b ON a.m = b.m AND a.day < b.day
    ), per_m AS (
        SELECT m, count(*)::BIGINT AS n_m FROM d GROUP BY 1
    ), ties AS (
        SELECT m, sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_m
        FROM (SELECT m, y, count(*)::BIGINT AS t FROM d GROUP BY 1, 2)
        GROUP BY 1
    ), vt AS (
        SELECT sum(CAST(n_m AS HUGEINT) * (n_m - 1) * (2 * n_m + 5)
                   - tie_m)::HUGEINT AS var18,
               sum(n_m)::BIGINT AS n_days,
               count(*)::BIGINT AS n_seasons
        FROM per_m JOIN ties USING (m)
    )
    SELECT n_days, n_seasons, s_stat,
           {dk_rat6('var18', '18')} AS var_s,
           {z} AS z
    FROM s CROSS JOIN vt
    """


def stats_cmh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 analysis: the
    urgent-priority × returned-lineitem association CONTROLLED FOR
    market segment — the confounder-adjusted version of
    stats_odds_ratio (Simpson's-paradox insurance: a marginal OR can
    invert once a stratifier is held fixed). Reports the
    Mantel-Haenszel pooled odds ratio and the CMH chi-square with
    continuity correction.

    One lineitem collapse to an order-grain returned flag, broadcast
    segment dimension, one SEGMENTS-bounded 4-cell-per-stratum
    aggregate; the MH ratio and CMH statistic are float combinations
    of per-stratum rationals with differing denominators
    (COMPOUND_RATIONAL — rounded at 6 dp, both engines identical
    text). NULL segment is its own stratum; orders with no lineitems
    have no outcome (inner join, both engines).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            # a NULL returnflag is simply not 'R' (coalesce 0 keeps the
            # outcome two-valued so every joined order lands in exactly
            # one 2x2 cell — count(*) == a+b+c+d per stratum)
            F.max(
                F.coalesce((F.col("l_returnflag") == "R").cast("int"), F.lit(0))
            ).alias("ret")
        )
    )
    # NULL priority has no exposure arm — dropped in BOTH engines (the
    # stats_odds_ratio rule; the NULL-inject axis caught the count(*)
    # stratum total silently including rows the cells exclude)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("exposed"),
        )
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    strata = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("<null>")).alias("seg"))
        .agg(
            F.sum((F.col("exposed") & (F.col("ret") == 1)).cast("bigint")).alias("a"),
            F.sum((F.col("exposed") & (F.col("ret") == 0)).cast("bigint")).alias("b"),
            F.sum((~F.col("exposed") & (F.col("ret") == 1)).cast("bigint")).alias("c"),
            F.sum((~F.col("exposed") & (F.col("ret") == 0)).cast("bigint")).alias("d"),
        )
        .withColumn("n", F.expr("a + b + c + d"))
    )
    agg = strata.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.expr("sum(a * cast(d as double) / n)").alias("mh_num"),
        F.expr("sum(b * cast(c as double) / n)").alias("mh_den"),
        F.expr("sum(a)").alias("sum_a"),
        F.expr("sum((a + b) * cast(a + c as double) / n)").alias("sum_e"),
        F.expr(
            "sum((a + b) * cast(c + d as double) * (a + c) * (b + d)"
            " / (cast(n as double) * n * (n - 1)))"
        ).alias("sum_v"),
    )
    cmh = (
        "((abs(sum_a - sum_e) - 0.5) * (abs(sum_a - sum_e) - 0.5) / sum_v)"
    )
    return agg.selectExpr(
        "cast(n_strata as bigint) AS n_strata",
        "cast(sum_a as bigint) AS exposed_returned",
        "round(mh_num / mh_den, 6) AS or_mh",
        "round(sum_e, 6) AS expected",
        f"round({cmh}, 6) AS cmh_chi2",
    )


def stats_cmh_sql() -> str:
    cmh = "((abs(sum_a - sum_e) - 0.5) * (abs(sum_a - sum_e) - 0.5) / sum_v)"
    return f"""
    WITH li AS (
        SELECT l_orderkey,
               max(coalesce((l_returnflag = 'R')::INT, 0)) AS ret
        FROM lineitem GROUP BY 1
    ), j AS (
        SELECT coalesce(c_mktsegment, '<null>') AS seg,
               o_orderpriority IN ('1-URGENT', '2-HIGH') AS exposed,
               ret
        FROM orders
        JOIN li ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderpriority IS NOT NULL
    ), strata AS (
        SELECT seg,
               sum((exposed AND ret = 1)::INT)::BIGINT AS a,
               sum((exposed AND ret = 0)::INT)::BIGINT AS b,
               sum((NOT exposed AND ret = 1)::INT)::BIGINT AS c,
               sum((NOT exposed AND ret = 0)::INT)::BIGINT AS d,
               count(*)::BIGINT AS n
        FROM j GROUP BY 1
    ), agg AS (
        SELECT count(*)::BIGINT AS n_strata,
               sum(a * d::DOUBLE / n) AS mh_num,
               sum(b * c::DOUBLE / n) AS mh_den,
               sum(a)::BIGINT AS sum_a,
               sum((a + b) * (a + c)::DOUBLE / n) AS sum_e,
               sum((a + b) * (c + d)::DOUBLE * (a + c) * (b + d)
                   / (n::DOUBLE * n * (n - 1))) AS sum_v
        FROM strata
    )
    SELECT n_strata, sum_a AS exposed_returned,
           round(mh_num / mh_den, 6) AS or_mh,
           round(sum_e, 6) AS expected,
           round({cmh}, 6) AS cmh_chi2
    FROM agg
    """


# --------------------------------------------------------------------------
# round 8: ordered/ordinal rank tests, change detection, SAX profiling
# --------------------------------------------------------------------------


def stats_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: does order value
    rise (or fall) MONOTONICALLY across the ordinal priority ladder
    1-URGENT -> 5-LOW? Kruskal-Wallis asks "any difference?"; JT asks
    the sharper dose-response question an ordered factor deserves, with
    far more power against monotone trends.

    2·JT = Σ_v Σ_{i<j} (2·c_j(v)·below_i(v) + c_i(v)·c_j(v)) stays an
    EXACT integer (ties contribute c_i·c_j/2 each — hence the doubling,
    the stats_mann_whitney discipline applied to all K(K-1)/2 group
    pairs at once). One distinct-value collapse carrying K=5 per-group
    counts, ``below_sums`` block prefix sums per group (block windows
    partitioned, the offset window bounded at 1024 rows), a single
    aggregate. The normal z uses the tie-uncorrected moments (exact
    integer operands, sqrt the only float step — emitted RAW per the
    functions/exact.py policy). NULL priority/price rows are not
    observations (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderpriority").isNotNull()
            & F.col("o_totalprice").isNotNull()
        )
        .selectExpr(
            "cast(substr(o_orderpriority, 1, 1) as int) AS g",
            "cast(round(o_totalprice * 100) as bigint) AS cents",
        )
    )
    # vc fans out to the min/max range, the block pass and the block
    # table: 4 orders scans unpinned. Distinct-cents grain is bounded,
    # so pin; the fact is scanned once.
    vc = (
        o.groupBy("cents")
        .agg(
            *[
                F.sum((F.col("g") == k).cast("bigint")).alias(f"c{k}")
                for k in range(1, 6)
            ]
        )
        .transform(pin)
    )
    j = below_sums(
        vc, "cents", **{f"below{k}": F.col(f"c{k}") for k in range(1, 6)}
    )
    pair_terms = " + ".join(
        f"(2 * c{jj} * below{ii} + c{ii} * c{jj})"
        for ii in range(1, 6)
        for jj in range(ii + 1, 6)
    )
    agg = j.agg(
        *[F.sum(f"c{k}").alias(f"n{k}") for k in range(1, 6)],
        F.expr(f"sum({pair_terms})").alias("jt2"),
    )
    n = "(n1 + n2 + n3 + n4 + n5)"
    sum_n2 = "(n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)"
    # moments in DOUBLE from exact bigint inputs (n³ overflows bigint at
    # large SF; both engines evaluate the identical IEEE expression)
    mu2 = f"(cast({n} as double) * {n} - {sum_n2})"
    var72 = (
        f"(cast({n} as double) * {n} * (2.0 * {n} + 3.0)"
        + "".join(
            f" - cast(n{k} as double) * n{k} * (2.0 * n{k} + 3.0)"
            for k in range(1, 6)
        )
        + ")"
    )
    # jt2 = 2·JT and mu2 = 4·μ (μ = (N²−Σn²)/4): JT−μ = (jt2 − mu2/2)/2
    # var72 = N²(2N+3) − Σnk²(2nk+3) is 0 exactly when ONE group holds
    # every observation — EXACT integer guard (greatest(nk) < N), never
    # a float compare: NULL z, not a crash
    return agg.selectExpr(
        f"{n} AS n_total",
        "jt2",
        f"CASE WHEN greatest(n1, n2, n3, n4, n5) < {n} THEN "
        f"(cast(jt2 as double) - {mu2} / 2.0) / 2.0"
        f" / sqrt({var72} / 72.0) END AS z",
    )


def stats_jonckheere_terpstra_sql() -> str:
    pair_terms = " + ".join(
        f"(2 * c{jj} * below{ii} + c{ii} * c{jj})"
        for ii in range(1, 6)
        for jj in range(ii + 1, 6)
    )
    cum_cols = ", ".join(
        f"coalesce(sum(c{k}) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED"
        f" PRECEDING AND 1 PRECEDING), 0) AS below{k}"
        for k in range(1, 6)
    )
    n = "(n1 + n2 + n3 + n4 + n5)"
    sum_n2 = "(n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)"
    mu2 = f"({n}::DOUBLE * {n} - {sum_n2})"
    var72 = (
        f"({n}::DOUBLE * {n} * (2.0 * {n} + 3.0)"
        + "".join(
            f" - n{k}::DOUBLE * n{k} * (2.0 * n{k} + 3.0)"
            for k in range(1, 6)
        )
        + ")"
    )
    ccols = ", ".join(
        f"sum((substr(o_orderpriority, 1, 1)::INT = {k})::INT)::BIGINT"
        f" AS c{k}"
        for k in range(1, 6)
    )
    ncols = ", ".join(f"sum(c{k})::BIGINT AS n{k}" for k in range(1, 6))
    return f"""
    WITH vc AS (
        SELECT round(o_totalprice * 100)::BIGINT AS cents, {ccols}
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ), cum AS (
        SELECT *, {cum_cols} FROM vc
    ), agg AS (
        SELECT {ncols}, sum({pair_terms})::BIGINT AS jt2 FROM cum
    )
    SELECT {n}::BIGINT AS n_total, jt2,
           CASE WHEN greatest(n1, n2, n3, n4, n5) < {n} THEN
               (jt2::DOUBLE - {mu2} / 2.0) / 2.0 / sqrt({var72} / 72.0)
           END AS z
    FROM agg
    """


def stats_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt non-parametric changepoint test on the daily-revenue
    series: the day that maximizes |U_t| where U_t counts sign
    agreements between the before/after halves — the rank-based
    "did the level shift, and WHEN?" complement to
    stats_cusum_changepoint's parametric mean-shift locator.

    The O(T²) pair sum collapses to one linear pass via
    U_t = Σ_{s<=t} W_s with W_s = #(days above x_s) − #(days below
    x_s): a distinct-cents collapse with prefix counts gives every W_s
    exactly (ties contribute zero), and U_t is a day-ordered prefix
    sum. Every window sits on the DAYS-bounded calendar table. All
    integers until the documented approximate p-value
    2·exp(−6K²/(T³+T²)) — float exp over exact integer operands,
    emitted RAW. NULL order dates drop (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        # d feeds the cents collapse AND the day-series join; vc feeds
        # the totals and the rank pass — unpinned, the orders scan ran
        # 8x. DAYS-calendar grain: pin both; the fact is scanned ONCE.
        .transform(pin)
    )
    vc = (
        d.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    w_v = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    tot = F.broadcast(vc.agg(F.sum("c").alias("t_days")))
    ranked = (
        vc.withColumn("below", F.coalesce(F.sum("c").over(w_v), F.lit(0)))
        .crossJoin(tot)
        .select(
            "cents",
            (
                F.col("t_days") - F.col("below") - F.col("c") - F.col("below")
            ).alias("w_s"),
        )
    )
    w_day = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    u = (
        d.join(ranked, "cents")
        .withColumn("u_t", F.sum("w_s").over(w_day))
        .crossJoin(tot)
        # u feeds the max broadcast AND the final aggregate;
        # DAYS grain — pin it
        .transform(pin)
    )
    mx = F.broadcast(u.agg(F.max(F.abs(F.col("u_t"))).alias("k_max")))
    agg = u.crossJoin(mx).agg(
        F.max("t_days").alias("n_days"),
        F.max("k_max").alias("k_stat"),
        F.min(
            F.when(F.abs(F.col("u_t")) == F.col("k_max"), F.col("day"))
        ).alias("change_day"),
    )
    p = (
        "2.0 * exp(-6.0 * cast(k_stat as double) * k_stat"
        " / (cast(n_days as double) * n_days * n_days"
        " + cast(n_days as double) * n_days))"
    )
    return agg.selectExpr(
        "n_days", "k_stat", "change_day", f"least({p}, 1.0) AS p_approx"
    )


def stats_pettitt_changepoint_sql() -> str:
    p = (
        "2.0 * exp(-6.0 * k_stat::DOUBLE * k_stat"
        " / (n_days::DOUBLE * n_days * n_days"
        " + n_days::DOUBLE * n_days))"
    )
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), vc AS (
        SELECT cents, count(*)::BIGINT AS c FROM d GROUP BY 1
    ), tot AS (
        SELECT sum(c)::BIGINT AS t_days FROM vc
    ), ranked AS (
        SELECT cents,
               (SELECT t_days FROM tot)
                   - 2 * coalesce(sum(c) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   - c AS w_s
        FROM vc
    ), u AS (
        SELECT day,
               sum(w_s) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u_t
        FROM d JOIN ranked USING (cents)
    ), agg AS (
        SELECT (SELECT t_days FROM tot) AS n_days,
               max(abs(u_t))::BIGINT AS k_stat,
               min(CASE WHEN abs(u_t) = (SELECT max(abs(u_t)) FROM u)
                        THEN day END) AS change_day
        FROM u
    )
    SELECT n_days, k_stat, change_day, least({p}, 1.0) AS p_approx
    FROM agg
    """


def stats_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test on the daily-revenue series: count
    strict local maxima/minima and compare against the i.i.d.
    expectation E[T] = 2(n−2)/3, var = (16n−29)/90 — the cheapest
    "is this series random or structured?" screen (too few turns =
    trend, too many = alternation), beside stats_runs_test's
    above/below-median runs.

    One DAYS-grain collapse, lag/lead on the bounded calendar axis,
    exact integer count; the expectation is an exact rational
    (integer-exact HALF_UP) and z is float only at the final sqrt
    (raw emission). Ties with a neighbor break strictness and do not
    count as turns — the convention both engines apply identically.
    NULL order dates drop (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
    )
    w = Window.orderBy("day")
    t = d.select(
        "cents",
        F.lag("cents").over(w).alias("prv"),
        F.lead("cents").over(w).alias("nxt"),
    )
    agg = t.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            (
                F.col("prv").isNotNull()
                & F.col("nxt").isNotNull()
                & (
                    ((F.col("cents") > F.col("prv")) & (F.col("cents") > F.col("nxt")))
                    | ((F.col("cents") < F.col("prv")) & (F.col("cents") < F.col("nxt")))
                )
            ).cast("bigint")
        ).alias("n_turns"),
    )
    # n_days >= 2 guard: below that the variance term (16n-29)/90 is
    # negative and DuckDB's sqrt raises on an empty/degenerate series
    # (round-9 empty-input axis) — the statistic is undefined there, so
    # both engines emit NULL
    z = (
        "CASE WHEN n_days >= 2 THEN"
        " (cast(n_turns as double) - 2.0 * (n_days - 2) / 3.0)"
        " / sqrt((16.0 * n_days - 29.0) / 90.0) END"
    )
    return agg.selectExpr(
        "n_days",
        "n_turns",
        f"{sp_rat6('2 * (n_days - 2)', '3')} AS expected_turns",
        f"{z} AS z",
    )


def stats_turning_points_sql() -> str:
    z = (
        "CASE WHEN n_days >= 2 THEN"
        " (n_turns::DOUBLE - 2.0 * (n_days - 2) / 3.0)"
        " / sqrt((16.0 * n_days - 29.0) / 90.0) END"
    )
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), t AS (
        SELECT cents,
               lag(cents) OVER (ORDER BY day) AS prv,
               lead(cents) OVER (ORDER BY day) AS nxt
        FROM d
    ), agg AS (
        SELECT count(*)::BIGINT AS n_days,
               sum((prv IS NOT NULL AND nxt IS NOT NULL
                    AND ((cents > prv AND cents > nxt)
                         OR (cents < prv AND cents < nxt)))::INT)::BIGINT
                   AS n_turns
        FROM t
    )
    SELECT n_days, n_turns,
           {dk_rat6('2 * (n_days - 2)', '3')} AS expected_turns,
           {z} AS z
    FROM agg
    """


def stats_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank version of von Neumann's ratio on the daily-revenue
    series: RVN = Σ(r_t − r_{t+1})² / Σ(r_t − r̄)² over day ranks — the
    rank-robust serial-randomness test (≈2 under independence, <2 for
    positive autocorrelation) beside stats_durbin_watson's parametric
    residual version.

    Ranks are tie-averaged on the exact 0.5 lattice, so DOUBLED ranks
    are integers: both the successive-difference numerator and the
    centered denominator (doubled mean = T+1 exactly) stay EXACT
    integers after one ×4 scale that cancels in the ratio — RVN is a
    pure integer rational (integer-exact HALF_UP), and the normal
    z = (RVN − 2)·√T/2 is float only at the final sqrt (raw emission).
    All windows sit on the DAYS-bounded calendar table. NULL order
    dates drop (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
    )
    rn = F.row_number().over(Window.orderBy("cents", "day"))
    r = d.select("day", "cents", rn.alias("rn"))
    # doubled tie-averaged rank: 2·avg(row_number) over the tie group
    r = r.withColumn(
        "r2",
        F.expr("cast(2 * avg(rn) over (partition by cents) as bigint)"),
    )
    w = Window.orderBy("day")
    t = r.select(
        "r2", (F.lead("r2").over(w) - F.col("r2")).alias("d2")
    )
    # denominator needs T (doubled mean = T+1). Expand the centered sum
    # algebraically — Σ(r2−(T+1))² = Σr2² − 2(T+1)·Σr2 + T(T+1)² — so
    # ONE global agg over r yields n_days=count(*) (0 on an empty
    # series, like the oracle's count) instead of pulling T through a
    # max() over a crossJoin that leaves it NULL-not-0 on empty — the
    # r11 empty-allowlist shape retired by this formulation. Exact
    # integers throughout (Σr2² ≤ 4T³ ≪ bigint).
    den = r.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("r2").alias("sr2"),
        F.sum(F.expr("r2 * r2")).alias("qr2"),
    ).selectExpr(
        "n_days",
        "qr2 - 2 * (n_days + 1) * sr2"
        " + n_days * (n_days + 1) * (n_days + 1) AS den4",
    )
    num = t.agg(F.sum(F.expr("d2 * d2")).alias("num4"))
    out = den.crossJoin(F.broadcast(num))
    z = (
        "(cast(num4 as double) / den4 - 2.0)"
        " * sqrt(cast(n_days as double)) / 2.0"
    )
    return out.selectExpr(
        "n_days",
        f"{sp_rat6('num4', 'den4')} AS rvn",
        f"{z} AS z",
    )


def stats_bartels_rank_sql() -> str:
    z = "(num4::DOUBLE / den4 - 2.0) * sqrt(n_days::DOUBLE) / 2.0"
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), rbase AS (
        SELECT day, cents,
               row_number() OVER (ORDER BY cents, day) AS rn
        FROM d
    ), r AS (
        SELECT day,
               (2 * avg(rn) OVER (PARTITION BY cents))::BIGINT AS r2
        FROM rbase
    ), t AS (
        SELECT r2, lead(r2) OVER (ORDER BY day) - r2 AS d2 FROM r
    ), num AS (
        SELECT sum(d2 * d2)::BIGINT AS num4 FROM t
    ), den AS (
        SELECT count(*)::BIGINT AS n_days,
               sum((r2 - (SELECT count(*) FROM r) - 1)
                   * (r2 - (SELECT count(*) FROM r) - 1))::BIGINT AS den4
        FROM r
    )
    SELECT n_days, {dk_rat6('num4', 'den4')} AS rvn, {z} AS z
    FROM den CROSS JOIN num
    """


def stats_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-weighted Cohen's kappa on an ORDINAL scale — the
    agreement audit where being one rung apart is half as wrong as two
    (plain kappa, stats_cohens_kappa, scores both as total
    disagreement). Rater A is the order's priority rung 1..5; rater B
    is a deterministic restatement (every 7th key bumped up a rung,
    every 11th down, clamped) so the oracle replays both raters
    exactly.

    With linear weights the whole statistic collapses to disagreement
    DISTANCES: κ_w = 1 − N·D_o/D_e with D_o = Σ n_ij·|i−j| (one
    map-side pass) and D_e = Σ row_i·col_j·|i−j| over the 5×5 margin
    grid (two 5-row aggregates cross-joined — bounded). Pure integer
    rationals end-to-end (integer-exact HALF_UP, decimal-widened
    products). NULL priority rows are not rated (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isNotNull())
        .selectExpr(
            "cast(substr(o_orderpriority, 1, 1) as int) AS p",
            "least(5, greatest(1,"
            " cast(substr(o_orderpriority, 1, 1) as int)"
            " + CASE WHEN o_orderkey % 7 = 0 THEN 1"
            "        WHEN o_orderkey % 11 = 0 THEN -1 ELSE 0 END)) AS q",
        )
    )
    # base/rows/cols each re-scanned orders (3x). All three are
    # regroups of the bounded 5x5 (p, q) cell table — integer count
    # sums regroup exactly — so collapse to cells once, pin, and
    # aggregate the pin; the fact is scanned ONCE.
    kcells = (
        o.groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("kn"))
        .transform(pin)
    )
    base = kcells.agg(
        # coalesce: the pre-pin shape was count(*) (0 on EMPTY input);
        # sum over the zero-row cell table is NULL — keep the 0.
        F.coalesce(F.sum("kn"), F.lit(0).cast("bigint")).alias("n"),
        F.sum(F.expr("kn * abs(p - q)")).alias("d_o"),
        F.sum(F.expr("CASE WHEN p = q THEN kn ELSE 0 END")).alias("n_agree"),
    )
    rows = kcells.groupBy("p").agg(F.sum("kn").alias("row_n"))
    cols = kcells.groupBy("q").agg(F.sum("kn").alias("col_n"))
    de = (
        rows.crossJoin(F.broadcast(cols))
        .agg(
            F.sum(
                F.expr(
                    "cast(row_n as decimal(38,0)) * col_n * abs(p - q)"
                )
            ).alias("d_e")
        )
    )
    out = base.crossJoin(F.broadcast(de))
    return out.selectExpr(
        "n AS n_orders",
        "d_o AS disagreement_steps",
        f"{sp_rat6('n_agree', 'n')} AS p_agree",
        f"{sp_rat6('d_e - cast(n as decimal(38,0)) * d_o', 'd_e')}"
        " AS kappa_w",
    )


def stats_weighted_kappa_sql() -> str:
    return f"""
    WITH o AS (
        SELECT substr(o_orderpriority, 1, 1)::INT AS p,
               least(5, greatest(1,
                   substr(o_orderpriority, 1, 1)::INT
                   + CASE WHEN o_orderkey % 7 = 0 THEN 1
                          WHEN o_orderkey % 11 = 0 THEN -1 ELSE 0 END)) AS q
        FROM orders WHERE o_orderpriority IS NOT NULL
    ), base AS (
        SELECT count(*)::BIGINT AS n,
               sum(abs(p - q))::BIGINT AS d_o,
               sum((p = q)::INT)::BIGINT AS n_agree
        FROM o
    ), rows_ AS (
        SELECT p, count(*)::BIGINT AS row_n FROM o GROUP BY 1
    ), cols_ AS (
        SELECT q, count(*)::BIGINT AS col_n FROM o GROUP BY 1
    ), de AS (
        SELECT sum(row_n::HUGEINT * col_n * abs(p - q)) AS d_e
        FROM rows_ CROSS JOIN cols_
    )
    SELECT n AS n_orders, d_o AS disagreement_steps,
           {dk_rat6('n_agree', 'n')} AS p_agree,
           {dk_rat6('d_e - n::HUGEINT * d_o', 'd_e')} AS kappa_w
    FROM base CROSS JOIN de
    """


def stats_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W: do the months AGREE on
    how the five priority classes rank by revenue? The m-judges ×
    k-items agreement statistic (W=1 every month ranks priorities
    identically, W=0 no consensus) — the multi-rater generalization of
    stats_spearman_daily's two-series rank correlation, with
    stats_friedman's within-block ranking machinery turned into an
    effect size.

    Blocks are complete months only (all 5 priorities present — the
    classic complete-block requirement, enforced identically in both
    engines). Within-month ranks tie-average on the 0.5 lattice over
    EXACT integer cell revenues, so doubled ranks and the doubled
    rank-sum deviations are integers: S and the tie term Σ(t³−t) stay
    exact, and W = 12S/(m²(k³−k) − m·ΣT) is a pure integer rational
    (integer-exact HALF_UP). Bounded everywhere: cells ≤ months×5,
    every window partitioned by month. NULL dates/priorities drop.
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.expr("date_trunc('MONTH', cast(o_orderdate as date))").alias(
                "mth"
            ),
            F.expr("cast(substr(o_orderpriority, 1, 1) as int)").alias("g"),
        )
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        # cells feeds the complete-block filter AND the rank/score
        # passes — unpinned, the orders scan re-ran per consumer
        # copy. months x 5 grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    full = (
        cells.groupBy("mth")
        .agg(F.countDistinct("g").alias("kk"))
        .where(F.col("kk") == 5)
        .select("mth")
    )
    c = cells.join(full, "mth")
    rn = F.row_number().over(
        Window.partitionBy("mth").orderBy("cents", "g")
    )
    r = c.select("mth", "g", "cents", rn.alias("rn"))
    r = r.withColumn(
        "r2",
        F.expr(
            "cast(2 * avg(rn) over (partition by mth, cents) as bigint)"
        ),
    )
    ties = (
        c.groupBy("mth", "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(F.expr("t * t * t - t")).alias("tie3"),
        )
    )
    grid = r.groupBy("g").agg(F.sum("r2").alias("rs2"))
    m = F.broadcast(full.agg(F.count(F.lit(1)).alias("m")))
    s4 = (
        grid.crossJoin(m)
        .agg(
            F.sum(
                F.expr("(rs2 - m * 6) * (rs2 - m * 6)")
            ).alias("s4"),
            F.max("m").alias("m"),
        )
    )
    out = s4.crossJoin(F.broadcast(ties))
    return out.selectExpr(
        "m AS n_months",
        f"{sp_rat6('3 * cast(s4 as decimal(38,0))', 'cast(m as decimal(38,0)) * m * 120 - cast(m as decimal(38,0)) * tie3')}"
        " AS kendall_w",
    )


def stats_kendall_w_sql() -> str:
    return f"""
    WITH cells AS (
        SELECT date_trunc('month', o_orderdate::DATE) AS mth,
               substr(o_orderpriority, 1, 1)::INT AS g,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    ), full_m AS (
        SELECT mth FROM cells GROUP BY 1 HAVING count(DISTINCT g) = 5
    ), c AS (
        SELECT cells.* FROM cells JOIN full_m USING (mth)
    ), rbase AS (
        SELECT mth, g, cents,
               row_number() OVER (PARTITION BY mth ORDER BY cents, g) AS rn
        FROM c
    ), r AS (
        SELECT g,
               (2 * avg(rn) OVER (PARTITION BY mth, cents))::BIGINT AS r2
        FROM rbase
    ), ties AS (
        SELECT sum(t * t * t - t)::BIGINT AS tie3
        FROM (SELECT count(*)::BIGINT AS t FROM c GROUP BY mth, cents)
    ), grid AS (
        SELECT g, sum(r2)::BIGINT AS rs2 FROM r GROUP BY 1
    ), mm AS (
        SELECT count(*)::BIGINT AS m FROM full_m
    ), s AS (
        SELECT sum((rs2 - m * 6) * (rs2 - m * 6))::BIGINT AS s4,
               max(m)::BIGINT AS m
        FROM grid CROSS JOIN mm
    )
    SELECT m AS n_months,
           {dk_rat6('3 * s4::HUGEINT', 'm::HUGEINT * m * 120 - m::HUGEINT * tie3')}
        AS kendall_w
    FROM s CROSS JOIN ties
    """


def q_events_sax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-style symbolic daily-rhythm profile per event type: the 24h
    cycle compressed to eight 3-hour segments, each segment's activity
    mapped to a 4-letter alphabet (a = quietest quartile .. d =
    busiest) by WITHIN-TYPE rank — the symbolic-aggregate
    representation time-series motif mining and cheap rhythm
    clustering run on ("is purchase traffic a two-peak 'bdcadbca'
    type?") without a single float.

    Exactness discipline: segment loads are integer counts; symbols
    come from rank-of-8 (row_number, ties broken by segment index —
    documented, deterministic), not from z-normalized breakpoints, so
    NO float ever enters the word. The spine cross-join (distinct
    types × 8 literal segments) keeps absent segments as explicit
    zero-load 'a's. Bounded everywhere: the grid is |types|×8; the
    ranking window partitions by type. NULL type/ts rows drop (both
    engines).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type", F.expr("hour(ts) div 3").alias("seg")
        )
    )
    cnt = ev.groupBy("event_type", "seg").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1).select(
                    F.explode(F.expr("sequence(0, 7)")).alias("seg")
                )
            )
        )
    )
    g = spine.join(cnt, ["event_type", "seg"], "left").fillna(
        0, subset=["cnt"]
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("cnt", "seg")
    )
    sym = g.select("event_type", "seg", "cnt", rn.alias("rn")).select(
        "event_type",
        "seg",
        "cnt",
        F.expr("substring('abcd', ((rn - 1) * 4) div 8 + 1, 1)").alias(
            "sym"
        ),
    )
    return (
        sym.groupBy("event_type")
        .agg(
            F.expr(
                "concat_ws('', transform(array_sort(collect_list("
                "struct(seg, sym))), s -> s.sym))"
            ).alias("sax_word"),
            F.sum("cnt").alias("n_events"),
            F.expr("min(CASE WHEN sym = 'd' THEN seg END)").alias(
                "first_peak_seg"
            ),
            F.expr("min(CASE WHEN sym = 'a' THEN seg END)").alias(
                "first_quiet_seg"
            ),
        )
        .orderBy("event_type")
    )


def q_events_sax_profile_sql() -> str:
    return """
    WITH ev AS (
        SELECT event_type, hour(ts::TIMESTAMP) // 3 AS seg
        FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ), cnt AS (
        SELECT event_type, seg, count(*)::BIGINT AS cnt
        FROM ev GROUP BY 1, 2
    ), spine AS (
        SELECT t.event_type, g.seg
        FROM (SELECT DISTINCT event_type FROM ev) t
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seg) g
    ), grid AS (
        SELECT s.event_type, s.seg, coalesce(c.cnt, 0)::BIGINT AS cnt
        FROM spine s LEFT JOIN cnt c
          ON s.event_type = c.event_type AND s.seg = c.seg
    ), sym AS (
        SELECT event_type, seg, cnt,
               substr('abcd',
                      ((row_number() OVER (PARTITION BY event_type
                                           ORDER BY cnt, seg) - 1) * 4)
                      // 8 + 1, 1) AS sym
        FROM grid
    )
    SELECT event_type,
           string_agg(sym, '' ORDER BY seg) AS sax_word,
           sum(cnt)::BIGINT AS n_events,
           min(CASE WHEN sym = 'd' THEN seg END)::BIGINT AS first_peak_seg,
           min(CASE WHEN sym = 'a' THEN seg END)::BIGINT AS first_quiet_seg
    FROM sym
    GROUP BY event_type
    ORDER BY event_type
    """


def stats_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal-association battery for priority (5 rungs) vs fulfilled
    status (binary): concordant/discordant pair counts and the three
    classic normalizations — Goodman-Kruskal gamma (ties dropped),
    Somers' D(y|x) (y-ties penalized — the direction a "does priority
    predict fulfillment?" question needs), and Kendall tau-b (both tie
    margins). stats_kendall_tau ranks two CONTINUOUS series; this is
    the contingency-grid version where all pair counting collapses to
    the bounded 5×2 cell table.

    C/D/tie counts are exact integer sums over the 10×10 cell
    cross-join (bounded — never the corpus); gamma and D(y|x) are pure
    integer rationals (integer-exact HALF_UP), tau-b's sqrt denominator
    is the one float step (raw emission). NULL priority/status rows are
    not observations (both engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderpriority").isNotNull()
            & F.col("o_orderstatus").isNotNull()
        )
        .selectExpr(
            "cast(substr(o_orderpriority, 1, 1) as int) AS x",
            "cast(o_orderstatus = 'F' as int) AS y",
        )
    )
    # cells fans out to both pair sides and the x-tie margin — 3
    # orders scans unpinned. The 5x2 grid is bounded, so pin; the fact
    # is scanned once.
    cells = (
        o.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin)
    )
    a = cells.selectExpr("x AS xa", "y AS ya", "n AS na")
    b = cells.selectExpr("x AS xb", "y AS yb", "n AS nb")
    pairs = a.join(F.broadcast(b), F.expr("xa < xb"))
    agg = pairs.agg(
        F.sum(
            F.expr(
                "CASE WHEN ya < yb THEN cast(na as decimal(38,0)) * nb"
                " ELSE 0 END"
            )
        ).alias("c_pairs"),
        F.sum(
            F.expr(
                "CASE WHEN ya > yb THEN cast(na as decimal(38,0)) * nb"
                " ELSE 0 END"
            )
        ).alias("d_pairs"),
        F.sum(
            F.expr(
                "CASE WHEN ya = yb THEN cast(na as decimal(38,0)) * nb"
                " ELSE 0 END"
            )
        ).alias("ty_pairs"),
    )
    # x-ties with differing y: within each x rung, n_x0 * n_x1
    tx = (
        cells.groupBy("x")
        .agg(
            F.sum(F.expr("CASE WHEN y = 0 THEN n ELSE 0 END")).alias("n0"),
            F.sum(F.expr("CASE WHEN y = 1 THEN n ELSE 0 END")).alias("n1"),
        )
        .agg(
            F.sum(F.expr("cast(n0 as decimal(38,0)) * n1")).alias("tx_pairs")
        )
    )
    out = agg.crossJoin(F.broadcast(tx))
    taub = (
        "(cast(c_pairs - d_pairs as double)"
        " / sqrt(cast(c_pairs + d_pairs + tx_pairs as double)"
        " * cast(c_pairs + d_pairs + ty_pairs as double)))"
    )
    return out.selectExpr(
        "cast(c_pairs as bigint) AS concordant",
        "cast(d_pairs as bigint) AS discordant",
        f"{sp_rat6('c_pairs - d_pairs', 'c_pairs + d_pairs')} AS gamma",
        f"{sp_rat6('c_pairs - d_pairs', 'c_pairs + d_pairs + ty_pairs')}"
        " AS somers_d_yx",
        f"{taub} AS tau_b",
    )


def stats_somers_d_sql() -> str:
    taub = (
        "((c_pairs - d_pairs)::DOUBLE"
        " / sqrt((c_pairs + d_pairs + tx_pairs)::DOUBLE"
        " * (c_pairs + d_pairs + ty_pairs)::DOUBLE))"
    )
    return f"""
    WITH o AS (
        SELECT substr(o_orderpriority, 1, 1)::INT AS x,
               (o_orderstatus = 'F')::INT AS y
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
    ), cells AS (
        SELECT x, y, count(*)::BIGINT AS n FROM o GROUP BY 1, 2
    ), pairs AS (
        SELECT sum(CASE WHEN a.y < b.y THEN a.n::HUGEINT * b.n
                        ELSE 0 END) AS c_pairs,
               sum(CASE WHEN a.y > b.y THEN a.n::HUGEINT * b.n
                        ELSE 0 END) AS d_pairs,
               sum(CASE WHEN a.y = b.y THEN a.n::HUGEINT * b.n
                        ELSE 0 END) AS ty_pairs
        FROM cells a JOIN cells b ON a.x < b.x
    ), tx AS (
        SELECT sum(n0::HUGEINT * n1) AS tx_pairs
        FROM (SELECT x,
                     sum(CASE WHEN y = 0 THEN n ELSE 0 END)::BIGINT AS n0,
                     sum(CASE WHEN y = 1 THEN n ELSE 0 END)::BIGINT AS n1
              FROM cells GROUP BY 1)
    )
    SELECT c_pairs::BIGINT AS concordant,
           d_pairs::BIGINT AS discordant,
           {dk_rat6('c_pairs - d_pairs', 'c_pairs + d_pairs')} AS gamma,
           {dk_rat6('c_pairs - d_pairs', 'c_pairs + d_pairs + ty_pairs')}
               AS somers_d_yx,
           {taub} AS tau_b
    FROM pairs CROSS JOIN tx
    """


def stats_quade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test — Friedman's within-block ranking REWEIGHTED by how
    much each block discriminates (months with a wide revenue spread
    across priorities count more): the more powerful small-k
    alternative every applied-stats text recommends at k ≤ 5, beside
    stats_friedman (equal-weight) and stats_kendall_w (effect size) on
    the same months × priorities design.

    Complete blocks only. Within-month ranks and the month-range ranks
    both tie-average on the 0.5 lattice over EXACT integer cell cents,
    so the weighted scores s_ij = Q_i·(r_ij − (k+1)/2) are exact on the
    ×4 lattice and the statistic F = (m−1)·B/(A−B) collapses to a PURE
    integer rational (m·Σs4² − ΣS4_j² in the denominator — the ×16
    scale cancels; integer-exact HALF_UP). Bounded everywhere: cells ≤
    months×5, the month-range rank window sits on the ≤|months| table.
    NULL dates/priorities drop (both engines).
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.expr("date_trunc('MONTH', cast(o_orderdate as date))").alias(
                "mth"
            ),
            F.expr("cast(substr(o_orderpriority, 1, 1) as int)").alias("g"),
        )
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        # cells feeds the complete-block filter AND the rank/score
        # passes — unpinned, the orders scan re-ran per consumer
        # copy. months x 5 grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    full = (
        cells.groupBy("mth")
        .agg(F.countDistinct("g").alias("kk"))
        .where(F.col("kk") == 5)
        .select("mth")
    )
    c = cells.join(full, "mth")
    rn = F.row_number().over(
        Window.partitionBy("mth").orderBy("cents", "g")
    )
    r = c.select("mth", "g", "cents", rn.alias("rn")).withColumn(
        "r2",
        F.expr(
            "cast(2 * avg(rn) over (partition by mth, cents) as bigint)"
        ),
    )
    ranges = c.groupBy("mth").agg(
        (F.max("cents") - F.min("cents")).alias("rng")
    )
    qrn = F.row_number().over(Window.orderBy("rng", "mth"))
    q = ranges.select("mth", "rng", qrn.alias("qrn")).withColumn(
        "q2",
        F.expr(
            "cast(2 * avg(qrn) over (partition by rng) as bigint)"
        ),
    )
    s = r.join(q.select("mth", "q2"), "mth").select(
        "g", F.expr("q2 * (r2 - 6)").alias("s4")
    # s feeds the A and per-treatment B aggregates; cell grain —
    # pin it so the two rank windows run once
    ).transform(pin)
    a16 = s.agg(F.sum(F.expr("cast(s4 as decimal(38,0)) * s4")).alias("a16"))
    sj = s.groupBy("g").agg(F.sum("s4").alias("s4_j"))
    b16m = sj.agg(
        F.sum(F.expr("cast(s4_j as decimal(38,0)) * s4_j")).alias("b16m")
    )
    m = F.broadcast(full.agg(F.count(F.lit(1)).alias("m")))
    out = a16.crossJoin(F.broadcast(b16m)).crossJoin(m)
    return out.selectExpr(
        "m AS n_months",
        f"{sp_rat6('cast(m - 1 as decimal(38,0)) * b16m', 'cast(m as decimal(38,0)) * a16 - b16m')}"
        " AS quade_f",
    )


def stats_quade_sql() -> str:
    return f"""
    WITH cells AS (
        SELECT date_trunc('month', o_orderdate::DATE) AS mth,
               substr(o_orderpriority, 1, 1)::INT AS g,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    ), full_m AS (
        SELECT mth FROM cells GROUP BY 1 HAVING count(DISTINCT g) = 5
    ), c AS (
        SELECT cells.* FROM cells JOIN full_m USING (mth)
    ), rbase AS (
        SELECT mth, g, cents,
               row_number() OVER (PARTITION BY mth ORDER BY cents, g) AS rn
        FROM c
    ), r AS (
        SELECT mth, g,
               (2 * avg(rn) OVER (PARTITION BY mth, cents))::BIGINT AS r2
        FROM rbase
    ), ranges AS (
        SELECT mth, max(cents) - min(cents) AS rng FROM c GROUP BY 1
    ), qbase AS (
        SELECT mth, rng,
               row_number() OVER (ORDER BY rng, mth) AS qrn
        FROM ranges
    ), q AS (
        SELECT mth,
               (2 * avg(qrn) OVER (PARTITION BY rng))::BIGINT AS q2
        FROM qbase
    ), s AS (
        SELECT g, q2 * (r2 - 6) AS s4
        FROM r JOIN q USING (mth)
    ), a16 AS (
        SELECT sum(s4::HUGEINT * s4) AS a16 FROM s
    ), sj AS (
        SELECT g, sum(s4)::BIGINT AS s4_j FROM s GROUP BY 1
    ), b16m AS (
        SELECT sum(s4_j::HUGEINT * s4_j) AS b16m FROM sj
    ), mm AS (
        SELECT count(*)::BIGINT AS m FROM full_m
    )
    SELECT m AS n_months,
           {dk_rat6('(m - 1)::HUGEINT * b16m', 'm::HUGEINT * a16 - b16m')}
               AS quade_f
    FROM a16 CROSS JOIN b16m CROSS JOIN mm
    """


def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimate of daily revenue: the median of
    all pairwise Walsh averages (x_i + x_j)/2, i ≤ j — the robust
    location estimator with 0.29 breakdown AND near-normal efficiency
    (the "better median" rank texts pair with stats_theil_sen's slope
    and the Wilcoxon machinery), reported beside the plain median and
    mean for the classic robustness triptych.

    The O(T²) Walsh set is BOUNDED (calendar² pairs, never corpus²): a
    DAYS-grain collapse first, then a day ≤ day self-join. The Walsh
    median does NOT go through percentile() — buffering the ~3M pair
    rows in one aggregation task measured 9.5 s (single-task sort).

    Round-12 optimization (guide §2.3/§2.4 — shuffle fewer bytes,
    remove shuffles outright; before/after in OPTIMIZATION_r12.md): the
    previous lattice shuffled the FULL pair distribution three times
    (groupBy(w2) at ~n_pairs distinct sums, an in-block prefix window
    over it, a rank-lookup join) and, because every lattice stage
    re-derived the day table, the physical plan re-scanned orders 11×.
    Now: (1) the DAYS-grain table is pinned once (≤calendar
    rows) and every stage reads it; (2) the median is found by TWO
    passes over the regenerated pair stream — pass 1 histograms pair
    COUNTS into 1024 fixed w2-range blocks (map-side partial agg ⇒ the
    shuffle carries ≤1024 rows/task, never the pair set), pass 2
    re-streams the pairs, keeps only the 1-2 blocks that straddle the
    median ranks (expected n_pairs/1024 rows), and picks the exact
    straddling rank positions with an in-block row_number. Selection by
    global rank over exact integer w2 is unchanged, so the output —
    and the declarative DuckDB oracle — is identical; only the shuffle
    volume moved from O(n_pairs) to O(1024 + sliver). Doubled Walsh
    sums are exact integers and 2·median picks the two straddling rank
    positions exactly, so every emitted value is an exact integer or an
    exact rational. NULL dates drop (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        .transform(pin)
    )
    # one pass over the ≤calendar-row day table gives every scalar the
    # lattice needs: the pair count, the w2 range (min/max Walsh sums
    # are 2·min/2·max of the day sums — the da==db self-pairs attain
    # them), and the plain-median/mean triptych columns
    stat = F.broadcast(
        d.agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("cents").alias("mn_c"),
            F.max("cents").alias("mx_c"),
            F.expr(
                "cast(round(percentile(cents, 0.5) * 2) as bigint)"
            ).alias("med2"),
            F.sum("cents").alias("total"),
        ).selectExpr(
            "n_days",
            "mn_c",
            "mx_c",
            "med2",
            "total",
            "cast(n_days as bigint) * (n_days + 1) div 2 AS n_pairs",
            "(cast(n_days as bigint) * (n_days + 1) div 2 + 1) div 2"
            " AS lo_rank",
            "cast(n_days as bigint) * (n_days + 1) div 2 div 2 + 1"
            " AS hi_rank",
        )
    )
    a = d.selectExpr("day AS da", "cents AS ca")
    b = d.selectExpr("day AS db", "cents AS cb")
    blk_col = F.least(
        F.lit(1023),
        F.floor(
            (F.col("w2") - F.lit(2) * F.col("mn_c"))
            / (F.lit(2) * (F.col("mx_c") - F.col("mn_c")) + F.lit(1e-9))
            * 1024
        ),
    )
    # pass 1: pair counts per fixed block — partial aggregation
    # collapses map-side, so the exchange carries ≤1024 rows per task
    pairs1 = (
        a.join(b, F.expr("da <= db"))
        .selectExpr("ca + cb AS w2")
        .crossJoin(stat)
        .withColumn("blk", blk_col)
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    bt = pairs1.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_blk), F.lit(0))
    )
    # the 1-2 blocks whose [off, off+cnt] span straddles a median rank
    targets = F.broadcast(
        bt.crossJoin(stat.select("lo_rank", "hi_rank"))
        .where(
            (
                (F.col("off") < F.col("lo_rank"))
                & (F.col("lo_rank") <= F.col("off") + F.col("cnt"))
            )
            | (
                (F.col("off") < F.col("hi_rank"))
                & (F.col("hi_rank") <= F.col("off") + F.col("cnt"))
            )
        )
        .select("blk", "off")
    )
    # pass 2: re-stream the pairs, keep only the target blocks' sliver,
    # exact in-block rank (ties share a w2 value, so row_number order
    # within a tie is value-irrelevant)
    w_in = Window.partitionBy("blk").orderBy("w2")
    sliver = (
        a.join(b, F.expr("da <= db"))
        .selectExpr("ca + cb AS w2")
        .crossJoin(stat.select("mn_c", "mx_c", "lo_rank", "hi_rank"))
        .withColumn("blk", blk_col)
        .join(targets, "blk")
        .withColumn("rn", F.row_number().over(w_in))
    )
    agg = sliver.agg(
        F.sum(
            F.expr("CASE WHEN off + rn = lo_rank THEN w2 ELSE 0 END")
        ).alias("hl_lo"),
        F.sum(
            F.expr("CASE WHEN off + rn = hi_rank THEN w2 ELSE 0 END")
        ).alias("hl_hi"),
    ).selectExpr("hl_lo + hl_hi AS hl4")
    # empty-input parity: the old plan's n_pairs was max() over an empty
    # rank table ⇒ NULL; the count-derived n_pairs must NULL the same way
    med = stat.selectExpr(
        "n_days",
        "CASE WHEN n_days > 0 THEN n_pairs END AS n_pairs",
        "med2",
        "total",
    )
    out = agg.crossJoin(med)
    # hl4 = 4·HL (Walsh sums are 2·avg, the doubled median doubles again)
    return out.selectExpr(
        "n_days",
        "n_pairs",
        f"{sp_rat('hl4', '400', 2)} AS hl_dollars",
        f"{sp_rat('med2', '200', 2)} AS median_dollars",
        f"{sp_rat('total', 'cast(n_days as decimal(38,0)) * 100', 2)}"
        " AS mean_dollars",
    )


def stats_hodges_lehmann_sql() -> str:
    return f"""
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), g AS (
        SELECT a.cents + b.cents AS w2, count(*)::BIGINT AS cnt
        FROM d a JOIN d b ON a.day <= b.day
        GROUP BY 1
    ), cum AS (
        SELECT w2, cnt,
               coalesce(sum(cnt) OVER (ORDER BY w2
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below,
               (SELECT sum(cnt)::BIGINT FROM g) AS n_pairs
        FROM g
    ), agg AS (
        SELECT max(n_pairs)::BIGINT AS n_pairs,
               (sum(CASE WHEN below < (n_pairs + 1) // 2
                         AND (n_pairs + 1) // 2 <= below + cnt
                         THEN w2 ELSE 0 END)
                + sum(CASE WHEN below < n_pairs // 2 + 1
                           AND n_pairs // 2 + 1 <= below + cnt
                           THEN w2 ELSE 0 END))::BIGINT AS hl4
        FROM cum
    ), med AS (
        SELECT count(*)::BIGINT AS n_days,
               round(quantile_cont(cents, 0.5) * 2)::BIGINT AS med2,
               sum(cents)::BIGINT AS total
        FROM d
    )
    SELECT n_days, n_pairs,
           {dk_rat('hl4', '400', 2)} AS hl_dollars,
           {dk_rat('med2', '200', 2)} AS median_dollars,
           {dk_rat('total', 'n_days::HUGEINT * 100', 2)} AS mean_dollars
    FROM agg CROSS JOIN med
    """


def stats_ww_runs_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz two-sample runs test: pool click and purchase
    values, sort, and count label runs — too FEW runs means the two
    samples separate (any distributional difference, not just
    location), the omnibus complement to stats_mann_whitney (location)
    and stats_ks_two_sample (max gap). stats_runs_test is the
    one-sample above/below-median cousin.

    Ties are broken deterministically (all clicks before purchases at
    an equal value — documented; the classic test assumes continuous
    data). NO global sort of the corpus: the distinct-value collapse
    carries (ca, cb) per value, so runs count = Σ within-value
    boundaries (+1 where both groups present) + Σ adjacent-value
    boundaries (last label of v ≠ first label of v′) + 1 — and
    adjacency comes from a GLOBAL POSITION (``below_sums`` of 1 over
    the distinct values, plus 1), then a pos = pos+1 self-equijoin.
    Exact integers into the raw-sqrt z. NULL values are not
    observations (both engines).
    """
    vc = _click_purchase_values(spark, sf_dir)
    # position of each distinct value = values strictly below it + 1
    p = below_sums(vc, "value", below=F.lit(1)).selectExpr(
        "below + 1 AS pos",
        "ca",
        "cb",
        # labels at the edges of this value's span (clicks first)
        "CASE WHEN ca > 0 THEN 'a' ELSE 'b' END AS first_lbl",
        "CASE WHEN cb > 0 THEN 'b' ELSE 'a' END AS last_lbl",
        "CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS inner_bnd",
    )
    nxt = p.selectExpr("pos - 1 AS pos", "first_lbl AS nxt_first")
    j = p.join(nxt, "pos", "left")
    agg = j.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        (
            F.sum("inner_bnd")
            + F.sum(
                F.expr(
                    "CASE WHEN nxt_first IS NOT NULL"
                    " AND nxt_first <> last_lbl THEN 1 ELSE 0 END"
                )
            )
            + F.lit(1)
        ).alias("runs"),
    )
    mu = "(1.0 + 2.0 * n_a * cast(n_b as double) / (n_a + n_b))"
    var = (
        "(2.0 * n_a * cast(n_b as double)"
        " * (2.0 * n_a * cast(n_b as double) - n_a - n_b)"
        " / ((cast(n_a as double) + n_b) * (n_a + n_b)"
        " * (n_a + n_b - 1.0)))"
    )
    # z's variance is 0 with an empty group or n_a = n_b = 1 — exact
    # integer guard: NULL, not an ANSI crash
    return agg.selectExpr(
        "n_a",
        "n_b",
        "runs",
        f"CASE WHEN n_a > 0 AND n_b > 0 AND 2 * n_a * n_b > n_a + n_b THEN "
        f"(cast(runs as double) - {mu}) / sqrt({var}) END AS z",
    )


def stats_ww_runs_two_sample_sql() -> str:
    mu = "(1.0 + 2.0 * n_a * n_b::DOUBLE / (n_a + n_b))"
    var = (
        "(2.0 * n_a * n_b::DOUBLE * (2.0 * n_a * n_b::DOUBLE - n_a - n_b)"
        " / ((n_a::DOUBLE + n_b) * (n_a + n_b) * (n_a + n_b - 1.0)))"
    )
    return f"""
    WITH vc AS (
        SELECT value,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS ca,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        GROUP BY value
    ), p AS (
        SELECT row_number() OVER (ORDER BY value) AS pos, ca, cb,
               CASE WHEN ca > 0 THEN 'a' ELSE 'b' END AS first_lbl,
               CASE WHEN cb > 0 THEN 'b' ELSE 'a' END AS last_lbl,
               CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS inner_bnd
        FROM vc
    ), j AS (
        SELECT p.*, lead(first_lbl) OVER (ORDER BY pos) AS nxt_first
        FROM p
    ), agg AS (
        SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
               (sum(inner_bnd)
                + sum(CASE WHEN nxt_first IS NOT NULL
                           AND nxt_first <> last_lbl THEN 1 ELSE 0 END)
                + 1)::BIGINT AS runs
        FROM j
    )
    SELECT n_a, n_b, runs,
           CASE WHEN n_a > 0 AND n_b > 0 AND 2 * n_a * n_b > n_a + n_b THEN
               (runs::DOUBLE - {mu}) / sqrt({var}) END AS z
    FROM agg
    """


def _pooled_score_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for the two-sample SCALE tests (stats_ansari_bradley,
    stats_mood_scale, stats_brunner_munzel, stats_anderson_darling_2s):
    click vs purchase event values collapsed to DISTINCT-VALUE group
    counts with the pooled strictly-below count from ``below_sums`` (no
    global sort, no unpartitioned corpus window). Returns one row per
    distinct value: ca, cb, c, below (pooled observations strictly
    below the value), plus the per-sample cumulatives below_a / below_b
    (stats_brunner_munzel needs own-sample midranks; the extra two
    running sums ride the SAME block windows — no additional shuffle).
    NULL values are filtered in BOTH engines (rank scores are undefined
    for NULL, and a NULL value has no block).
    """
    vc = _click_purchase_values(spark, sf_dir)
    out = below_sums(
        vc.withColumn("c", F.col("ca") + F.col("cb")),
        "value",
        below=F.col("c"),
        below_a=F.col("ca"),
        below_b=F.col("cb"),
    ).select("ca", "cb", "c", "below", "below_a", "below_b")
    # every caller (ansari_bradley, mood_scale, brunner_munzel,
    # anderson_darling_2s) consumes this table twice (a 1-row totals
    # broadcast + the scored pass), so unpinned the whole prefix-sum
    # pipeline ran twice per query. Distinct-value grain, bounded by
    # the quantized lattice: pin it.
    return pin(out)


_POOLED_SCORE_GROUPS_SQL = """
        SELECT value,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS ca,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS cb
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        GROUP BY value
"""


def stats_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test: do click and purchase event
    values have the same dispersion around a common center? Ranks count
    inward from both ends (extreme observations get LOW scores), so a
    small click score-sum means clicks are MORE spread — the rank
    complement to stats_mann_whitney (location) and stats_levene
    (variance): AB needs no normality and no variance existence.

    Scores on midranks, ×2 lattice: with doubled midrank m2 = 2·below +
    c + 1, the doubled AB score is s2 = min(m2, 2(N+1) − m2) — an exact
    integer per tied group (the convention R's ansari.test applies with
    ties). The exact PERMUTATION moments conditional on the observed tie
    pattern — E[A] = m·mean(s), Var[A] = m(N−m)/(N−1)·var(s) over the
    N fixed scores — come from the exact integer score sums S1 = Σc·s2
    and S2q = Σc·s2² (S2q ≤ N·(N+1)² — BIGINT-safe to N ≈ 2M, then
    decimal38/HUGEINT to N ≈ 10^12; both engines widen identically).
    e_ab is a pure integer rational (integer-exact HALF_UP); z is
    +,−,×,÷,sqrt over bit-identical integers — raw emission
    (functions/exact.py policy). Pooled below-counts use the two-level
    block prefix sum; no corpus-size window anywhere.
    """
    g = _pooled_score_groups(spark, sf_dir)
    tot = F.broadcast(
        g.agg(
            F.sum("ca").alias("n_a"),
            F.sum("cb").alias("n_b"),
            F.sum("c").alias("nn"),
        )
    )
    s = g.crossJoin(tot).selectExpr(
        "ca",
        "cb",
        "c",
        "n_a",
        "n_b",
        "nn",
        "least(2 * below + c + 1, 2 * (nn + 1) - (2 * below + c + 1)) AS s2",
    )
    agg = s.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("nn").alias("nn"),
        F.sum(F.expr("ca * s2")).alias("a2"),
        F.sum(F.expr("c * s2")).alias("s1"),
        F.sum(F.expr("cast(c as decimal(38,0)) * s2 * s2")).alias("s2q"),
    )
    var = (
        "(cast(n_a as double) * n_b / (nn - 1.0)"
        " * (nn * cast(s2q as double) - cast(s1 as double) * s1)"
        " / (cast(nn as double) * nn))"
    )
    # z needs both groups, nn >= 2, and nonzero score variance:
    # nn*S2q > S1^2. The comparison runs in DOUBLE — S1^2 grows as N^4+
    # and would overflow the 128-bit lattice the sums live on, while
    # the degenerate case (all scores equal) is an EXACT integer tie
    # that both engines round to the SAME doubles (round-10 n=2/n=3
    # probe): NULL, not an ANSI crash; identical both engines
    zdef = (
        "(n_a > 0 AND n_b > 0 AND nn >= 2 AND"
        " cast(nn as double) * cast(s2q as double)"
        " > cast(s1 as double) * cast(s1 as double))"
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "cast(a2 as double) / 2.0 AS ab_stat",
        f"{sp_rat6('cast(n_a as decimal(38,0)) * s1', '2 * cast(nn as decimal(38,0))')} AS e_ab",
        f"CASE WHEN {zdef} THEN "
        f"(cast(a2 as double) / 2.0 - cast(n_a as double) * s1 / (2.0 * nn))"
        f" / sqrt({var} / 4.0) END AS z",
    )


def stats_ansari_bradley_sql() -> str:
    var = (
        "(n_a::DOUBLE * n_b / (nn - 1.0)"
        " * (nn * s2q::DOUBLE - s1::DOUBLE * s1)"
        " / (nn::DOUBLE * nn))"
    )
    return f"""
    WITH vc AS (
{_POOLED_SCORE_GROUPS_SQL}
    ), cum AS (
        SELECT ca, cb, ca + cb AS c,
               coalesce(sum(ca + cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM vc
    ), tot AS (
        SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
               sum(c)::BIGINT AS nn
        FROM cum
    ), s AS (
        SELECT ca, cb, c, n_a, n_b, nn,
               least(2 * below + c + 1,
                     2 * (nn + 1) - (2 * below + c + 1)) AS s2
        FROM cum CROSS JOIN tot
    ), agg AS (
        SELECT max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
               max(nn)::BIGINT AS nn,
               sum(ca * s2)::BIGINT AS a2,
               sum(c * s2)::BIGINT AS s1,
               sum(c::HUGEINT * s2 * s2) AS s2q
        FROM s
    )
    SELECT n_a, n_b,
           a2::DOUBLE / 2.0 AS ab_stat,
           {dk_rat6('n_a::HUGEINT * s1', '2 * nn::HUGEINT')} AS e_ab,
           CASE WHEN n_a > 0 AND n_b > 0 AND nn >= 2
                     AND nn::DOUBLE * s2q::DOUBLE
                         > s1::DOUBLE * s1::DOUBLE THEN
               (a2::DOUBLE / 2.0 - n_a::DOUBLE * s1 / (2.0 * nn))
                   / sqrt({var} / 4.0) END AS z
    FROM agg
    """


def stats_mood_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's two-sample SCALE test: squared deviation of each pooled
    rank from the grand mid-rank, summed over the click sample —
    quadratic weighting makes it more sensitive than Ansari-Bradley to
    heavy-tail dispersion differences (AB's linear inward scores cap
    the influence of extremes; Mood's squares don't), the pairing
    applied-stats texts run together.

    Midrank scores on the ×4 lattice: d = (2·below + c + 1) − (N + 1)
    is the doubled centered midrank, so 4·score = d² is an exact
    integer. Exact permutation moments conditional on ties from
    S1 = Σc·d² and S2q = Σc·d⁴ — S2q grows as N⁵, so BOTH engines
    widen the sum identically (decimal(38,0) / HUGEINT; exact to
    N ≈ 3×10⁷, the stats_median_test magnitude-bound discipline).
    t_stat is on the exact ¼ lattice, e_t is a pure integer rational
    (integer-exact HALF_UP, numerator ≤ N⁴·10⁶ — decimal38-safe to
    N ≈ 10⁸), z is raw (sqrt policy). Same two-level prefix-sum base
    as stats_ansari_bradley; no corpus-size window.
    """
    g = _pooled_score_groups(spark, sf_dir)
    tot = F.broadcast(
        g.agg(
            F.sum("ca").alias("n_a"),
            F.sum("cb").alias("n_b"),
            F.sum("c").alias("nn"),
        )
    )
    s = g.crossJoin(tot).selectExpr(
        "ca",
        "c",
        "n_a",
        "n_b",
        "nn",
        "(2 * below + c + 1) - (nn + 1) AS d",
    )
    agg = s.selectExpr(
        "ca", "c", "n_a", "n_b", "nn", "d * d AS d2"
    ).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("nn").alias("nn"),
        F.sum(F.expr("cast(ca as decimal(38,0)) * d2")).alias("t4"),
        F.sum(F.expr("cast(c as decimal(38,0)) * d2")).alias("s1"),
        F.sum(F.expr("cast(c as decimal(38,0)) * d2 * d2")).alias("s2q"),
    )
    var = (
        "(cast(n_a as double) * n_b / (nn - 1.0)"
        " * (nn * cast(s2q as double) - cast(s1 as double) * s1)"
        " / (cast(nn as double) * nn))"
    )
    # same degenerate surface as stats_ansari_bradley (round-10 probe);
    # same DOUBLE comparison rationale (S1² grows as N⁶ here)
    zdef = (
        "(n_a > 0 AND n_b > 0 AND nn >= 2 AND"
        " cast(nn as double) * cast(s2q as double)"
        " > cast(s1 as double) * cast(s1 as double))"
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "cast(t4 as double) / 4.0 AS t_stat",
        f"{sp_rat6('cast(n_a as decimal(38,0)) * s1', '4 * cast(nn as decimal(38,0))')} AS e_t",
        f"CASE WHEN {zdef} THEN "
        f"(cast(t4 as double) / 4.0 - cast(n_a as double) * (cast(s1 as double) / nn) / 4.0)"
        f" / sqrt({var} / 16.0) END AS z",
    )


def stats_mood_scale_sql() -> str:
    var = (
        "(n_a::DOUBLE * n_b / (nn - 1.0)"
        " * (nn * s2q::DOUBLE - s1::DOUBLE * s1)"
        " / (nn::DOUBLE * nn))"
    )
    return f"""
    WITH vc AS (
{_POOLED_SCORE_GROUPS_SQL}
    ), cum AS (
        SELECT ca, cb, ca + cb AS c,
               coalesce(sum(ca + cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below
        FROM vc
    ), tot AS (
        SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
               sum(c)::BIGINT AS nn
        FROM cum
    ), s AS (
        SELECT ca, c, n_a, n_b, nn,
               ((2 * below + c + 1) - (nn + 1))
                   * ((2 * below + c + 1) - (nn + 1)) AS d2
        FROM cum CROSS JOIN tot
    ), agg AS (
        SELECT max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
               max(nn)::BIGINT AS nn,
               sum(ca::HUGEINT * d2) AS t4,
               sum(c::HUGEINT * d2) AS s1,
               sum(c::HUGEINT * d2 * d2) AS s2q
        FROM s
    )
    SELECT n_a, n_b,
           t4::DOUBLE / 4.0 AS t_stat,
           {dk_rat6('n_a::HUGEINT * s1', '4 * nn::HUGEINT')} AS e_t,
           CASE WHEN n_a > 0 AND n_b > 0 AND nn >= 2
                     AND nn::DOUBLE * s2q::DOUBLE
                         > s1::DOUBLE * s1::DOUBLE THEN
               (t4::DOUBLE / 4.0 - n_a::DOUBLE * (s1::DOUBLE / nn) / 4.0)
                   / sqrt({var} / 16.0) END AS z
    FROM agg
    """


def stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED alternative across the months ×
    priority design: is revenue monotonically ordered by priority code
    (1-URGENT … 5-LOW)? Friedman/Quade (same blocks) only ask "any
    difference?"; Page's L = Σ_j j·R_j weights each priority's rank sum
    by its hypothesized position, the trend-specific and strictly more
    powerful test when the alternative is monotone.

    Complete months only (stats_quade's framing). Within-month midranks
    tie-average on the ×2 lattice over exact integer cell cents
    (deterministic both engines; cents ties across the 5 priorities are
    measure-zero but the lattice keeps them identical), so
    L2 = Σ_j j·R2_j is an exact integer. For k = 5 the null moments
    collapse to integers on the same lattice — E[L2] = b·k(k+1)²/2 =
    90b, Var[L2] = b·(k³−k)²/(36(k−1)) = 100b — so e_l is an exact
    BIGINT and z = (L2 − 90b)/(10√b) is float only at the final sqrt
    (raw emission). Bounded everywhere: cells ≤ months×5, rank windows
    sit on ≤5-row month partitions, the month table is calendar-sized.
    NULL dates/priorities drop (both engines).
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.expr("date_trunc('MONTH', cast(o_orderdate as date))").alias(
                "mth"
            ),
            F.expr("cast(substr(o_orderpriority, 1, 1) as int)").alias("g"),
        )
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        # cells feeds the complete-block filter AND the rank/score
        # passes — unpinned, the orders scan re-ran per consumer
        # copy. months x 5 grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    full = (
        cells.groupBy("mth")
        .agg(F.countDistinct("g").alias("kk"))
        .where(F.col("kk") == 5)
        .select("mth")
    )
    c = cells.join(full, "mth")
    rn = F.row_number().over(Window.partitionBy("mth").orderBy("cents", "g"))
    r = c.select("mth", "g", "cents", rn.alias("rn")).withColumn(
        "r2",
        F.expr("cast(2 * avg(rn) over (partition by mth, cents) as bigint)"),
    )
    lsum = r.selectExpr("g * r2 AS jr2").agg(F.sum("jr2").alias("l2"))
    b = F.broadcast(full.agg(F.count(F.lit(1)).alias("b")))
    return lsum.crossJoin(b).selectExpr(
        "b AS n_months",
        "l2",
        "90 * b AS e_l2",
        "(cast(l2 as double) - 90.0 * b) / (10.0 * sqrt(cast(b as double)))"
        " AS z",
    )


def stats_page_trend_sql() -> str:
    return """
    WITH cells AS (
        SELECT date_trunc('month', o_orderdate::DATE) AS mth,
               substr(o_orderpriority, 1, 1)::INT AS g,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    ), full_m AS (
        SELECT mth FROM cells GROUP BY 1 HAVING count(DISTINCT g) = 5
    ), c AS (
        SELECT cells.* FROM cells JOIN full_m USING (mth)
    ), r AS (
        SELECT mth, g, cents,
               row_number() OVER (PARTITION BY mth ORDER BY cents, g) AS rn
        FROM c
    ), r2t AS (
        SELECT g,
               (2 * avg(rn) OVER (PARTITION BY mth, cents))::BIGINT AS r2
        FROM r
    ), lsum AS (
        SELECT sum(g * r2)::BIGINT AS l2 FROM r2t
    ), bt AS (
        SELECT count(*)::BIGINT AS b FROM full_m
    )
    SELECT b AS n_months, l2,
           (90 * b)::BIGINT AS e_l2,
           (l2::DOUBLE - 90.0 * b) / (10.0 * sqrt(b::DOUBLE)) AS z
    FROM lsum CROSS JOIN bt
    """


def stats_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test on the daily-revenue series: pair day i
    with day i + ⌈n/2⌉ (the middle day drops when n is odd) and sign-
    test the later-minus-earlier differences — the distribution-free
    "is there ANY monotone trend?" screen that needs no rank machinery,
    beside stats_mann_kendall (all-pairs) and stats_turning_points
    (randomness): Cox-Stuart is the O(n) one.

    One DAYS-grain collapse; positions come from a row_number on the
    bounded calendar axis and the half-offset pairing is a self-
    equijoin on pos = pos + offset with the offset resolved IN-PLAN
    from a 1-row count broadcast (no driver round-trip, any corpus
    size). Zero differences drop (the classic convention, both
    engines); the sign-test z uses the exact pair counts with
    continuity correction — float only at the final sqrt (raw
    emission). NULL order dates drop (both engines).
    """
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        # d fans out to pos (consumed by both pair sides) and the
        # 1-row count — 3-4 orders scans unpinned. DAYS-bounded, so
        # pin; the fact is scanned once.
        .transform(pin)
    )
    pos = d.select(
        F.row_number().over(Window.orderBy("day")).alias("pos"), "cents"
    )
    nt = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_days")))
    early = pos.crossJoin(nt).where(
        F.expr("pos <= n_days div 2")
    ).selectExpr("pos", "cents AS c_early", "n_days")
    late = pos.selectExpr("pos AS pos_l", "cents AS c_late")
    pairs = early.join(
        late, F.expr("pos_l = pos + (n_days + 1) div 2")
    )
    agg = pairs.agg(
        F.max("n_days").alias("n_days"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.expr("cast(c_late > c_early as bigint)")).alias("n_plus"),
        F.sum(F.expr("cast(c_late < c_early as bigint)")).alias("n_minus"),
    )
    return agg.selectExpr(
        "n_days",
        "n_pairs",
        "n_plus",
        "n_minus",
        "(abs(cast(n_plus as double) - cast(n_plus + n_minus as double) / 2.0)"
        " - 0.5) / sqrt(cast(n_plus + n_minus as double) / 4.0) AS z",
    )


def stats_cox_stuart_sql() -> str:
    return """
    WITH d AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), pos AS (
        SELECT row_number() OVER (ORDER BY day) AS pos, cents FROM d
    ), nt AS (
        SELECT count(*)::BIGINT AS n_days FROM d
    ), pairs AS (
        SELECT e.cents AS c_early, l.cents AS c_late, n_days
        FROM pos e CROSS JOIN nt
        JOIN pos l ON l.pos = e.pos + (n_days + 1) // 2
        WHERE e.pos <= n_days // 2
    ), agg AS (
        SELECT max(n_days)::BIGINT AS n_days,
               count(*)::BIGINT AS n_pairs,
               sum((c_late > c_early)::INT)::BIGINT AS n_plus,
               sum((c_late < c_early)::INT)::BIGINT AS n_minus
        FROM pairs
    )
    SELECT n_days, n_pairs, n_plus, n_minus,
           (abs(n_plus::DOUBLE - (n_plus + n_minus)::DOUBLE / 2.0) - 0.5)
               / sqrt((n_plus + n_minus)::DOUBLE / 4.0) AS z
    FROM agg
    """


def stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel generalized Wilcoxon test: P(click < purchase) +
    ½P(=) with a variance estimated SEPARATELY per sample — the modern
    replacement for Mann-Whitney when the two distributions may differ
    in shape/variance (MW's single pooled variance is only valid under
    exchangeability; BM is the rank analogue of Welch's t), finishing
    the two-sample rank suite beside stats_mann_whitney (location,
    pooled), stats_ansari_bradley / stats_mood_scale (scale) and
    stats_ww_runs_two_sample (omnibus).

    Everything is exact integers until the final doubles: pooled and
    OWN-sample midranks both live on the ×2 lattice (m2 = 2·below+c+1,
    a2/b2 from the per-sample cumulatives that ride the same two-level
    block prefix sum — no extra shuffle), the per-item deviation
    R − R^own − R̄ + (n_own+1)/2 scales to the integer u = n_own·(m2−a2)
    − (SR2_own − n_own(n_own+1)) with dev² = u²/(4·n_own²), and the
    deviation-square sums widen decimal(38,0)/HUGEINT identically on
    both engines (u² grows as N⁴·n_own — exact to N ≈ 10⁷, the
    stats_mood_scale magnitude-bound discipline). p̂ is a pure integer
    rational (integer-exact HALF_UP); W and the Welch-Satterthwaite df
    are +,−,×,÷,sqrt over bit-identical integers — raw emission.
    """
    g = _pooled_score_groups(spark, sf_dir).withColumn(
        "m2", F.expr("2 * below + c + 1")
    )
    tot = F.broadcast(
        g.agg(
            F.sum("ca").alias("n_a"),
            F.sum("cb").alias("n_b"),
            F.sum(F.expr("ca * m2")).alias("sr2_a"),
            F.sum(F.expr("cb * m2")).alias("sr2_b"),
        )
    )
    s = g.crossJoin(tot).selectExpr(
        "ca",
        "cb",
        "n_a",
        "n_b",
        "sr2_a",
        "sr2_b",
        "n_a * (m2 - (2 * below_a + ca + 1)) - (sr2_a - n_a * (n_a + 1))"
        " AS u",
        "n_b * (m2 - (2 * below_b + cb + 1)) - (sr2_b - n_b * (n_b + 1))"
        " AS v",
    )
    agg = s.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("sr2_a").alias("sr2_a"),
        F.max("sr2_b").alias("sr2_b"),
        F.sum(F.expr("cast(ca as decimal(38,0)) * u * u")).alias("du_a"),
        F.sum(F.expr("cast(cb as decimal(38,0)) * v * v")).alias("du_b"),
    )
    # S²_own = du/(4·n_own²·(n_own−1)); σ̂² = N(S²_A/n_b + S²_B/n_a)
    sa2 = "(cast(du_a as double) / (4.0 * n_a * n_a * (n_a - 1.0)))"
    sb2 = "(cast(du_b as double) / (4.0 * n_b * n_b * (n_b - 1.0)))"
    se2 = f"({sa2} / n_b + {sb2} / n_a)"
    # the BM machinery needs n ≥ 2 in BOTH groups (S²_own divides by
    # n_own−1) and a nonzero rank variance (du_a + du_b > 0 — exact
    # integer sums of non-negative terms); p̂ needs both groups
    # populated (round-10 n=2/n=3 probe): NULL, not an ANSI crash
    wdef = "(n_a >= 2 AND n_b >= 2 AND du_a + du_b > 0)"
    return agg.selectExpr(
        "n_a",
        "n_b",
        f"CASE WHEN n_a > 0 AND n_b > 0 THEN "
        f"{sp_rat6('cast(sr2_b as decimal(38,0)) - cast(n_b as decimal(38,0)) * (n_b + 1)', '2 * cast(n_b as decimal(38,0)) * n_a')} END AS p_hat",
        f"CASE WHEN {wdef} THEN "
        f"(cast(sr2_b as double) / (2.0 * n_b)"
        f" - cast(sr2_a as double) / (2.0 * n_a))"
        f" / sqrt((n_a + n_b) * {se2})"
        f" * sqrt(cast(n_a as double) * n_b / (n_a + n_b)) END AS w_bm",
        f"CASE WHEN {wdef} THEN "
        f"({se2} * {se2})"
        f" / (({sa2} / n_b) * ({sa2} / n_b) / (n_a - 1.0)"
        f"    + ({sb2} / n_a) * ({sb2} / n_a) / (n_b - 1.0)) END AS df",
    )


def stats_brunner_munzel_sql() -> str:
    sa2 = "(du_a::DOUBLE / (4.0 * n_a * n_a * (n_a - 1.0)))"
    sb2 = "(du_b::DOUBLE / (4.0 * n_b * n_b * (n_b - 1.0)))"
    se2 = f"({sa2} / n_b + {sb2} / n_a)"
    return f"""
    WITH vc AS (
{_POOLED_SCORE_GROUPS_SQL}
    ), cum AS (
        SELECT ca, cb, ca + cb AS c,
               coalesce(sum(ca + cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below,
               coalesce(sum(ca) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below_a,
               coalesce(sum(cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below_b
        FROM vc
    ), m AS (
        SELECT ca, cb, below_a, below_b, 2 * below + c + 1 AS m2 FROM cum
    ), tot AS (
        SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
               sum(ca * m2)::BIGINT AS sr2_a, sum(cb * m2)::BIGINT AS sr2_b
        FROM m
    ), s AS (
        SELECT ca, cb, n_a, n_b, sr2_a, sr2_b,
               n_a * (m2 - (2 * below_a + ca + 1))
                   - (sr2_a - n_a * (n_a + 1)) AS u,
               n_b * (m2 - (2 * below_b + cb + 1))
                   - (sr2_b - n_b * (n_b + 1)) AS v
        FROM m CROSS JOIN tot
    ), agg AS (
        SELECT max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
               max(sr2_a)::BIGINT AS sr2_a, max(sr2_b)::BIGINT AS sr2_b,
               sum(ca::HUGEINT * u * u) AS du_a,
               sum(cb::HUGEINT * v * v) AS du_b
        FROM s
    )
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
               {dk_rat6('sr2_b::HUGEINT - n_b::HUGEINT * (n_b + 1)', '2 * n_b::HUGEINT * n_a')}
           END AS p_hat,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND du_a + du_b > 0 THEN
               (sr2_b::DOUBLE / (2.0 * n_b) - sr2_a::DOUBLE / (2.0 * n_a))
                   / sqrt((n_a + n_b) * {se2})
                   * sqrt(n_a::DOUBLE * n_b / (n_a + n_b)) END AS w_bm,
           CASE WHEN n_a >= 2 AND n_b >= 2 AND du_a + du_b > 0 THEN
               ({se2} * {se2})
                   / (({sa2} / n_b) * ({sa2} / n_b) / (n_a - 1.0)
                      + ({sb2} / n_a) * ({sb2} / n_a) / (n_b - 1.0))
           END AS df
    FROM agg
    """


PERM_REPS = 256   # sign-flip replicates (deterministic hash draws)


def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test on the daily click-minus-
    purchase revenue differences: under H₀ (no systematic difference
    within a day) each day's difference is symmetric around 0, so every
    replicate flips each day's sign by a DETERMINISTIC hash draw
    (md5(perm:rep:day) — the stats_bootstrap_ci
    resampling-without-resampling trick) and the p-value is the
    add-one share of replicates whose |Σ s·d| reaches the observed
    |Σ d|. The exact-inference companion to stats_welch_t /
    stats_sign_test when nothing about the daily distribution is
    assumed.

    Scale shape: the corpus collapses to the DAYS grain first (one
    shuffle); the ×PERM_REPS fan-out is a map-side sequence explode on
    the calendar-bounded day table and partial aggregation collapses
    every partition to ≤PERM_REPS rows before the one tiny shuffle.
    Every replicate sum is an exact BIGINT (integer cents, order-free);
    the p-value is a pure integer rational (integer-exact HALF_UP).
    """
    h = X.sp_hash32(
        "concat(cast(rep as string), ':', cast(day as string))", "perm"
    )
    d = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'click'"
                    " THEN cast(round(value * 100) as bigint)"
                    " ELSE -cast(round(value * 100) as bigint) END"
                )
            ).alias("d_cents")
        )
    )
    obs = F.broadcast(
        d.agg(
            F.count(F.lit(1)).alias("n_days"),
            F.abs(F.sum("d_cents")).alias("t_obs_cents"),
        )
    )
    reps = d.select(
        "day",
        "d_cents",
        F.explode(F.expr(f"sequence(0, {PERM_REPS - 1})")).alias("rep"),
    ).select(
        "rep",
        F.expr(
            f"CASE WHEN ({h}) % 2 = 0 THEN d_cents ELSE -d_cents END"
        ).alias("sd"),
    )
    per_rep = reps.groupBy("rep").agg(F.abs(F.sum("sd")).alias("t_rep"))
    agg = per_rep.crossJoin(obs).agg(
        F.max("n_days").alias("n_days"),
        F.max("t_obs_cents").alias("t_obs_cents"),
        F.count(F.lit(1)).alias("n_reps"),
        F.sum(F.expr("cast(t_rep >= t_obs_cents as bigint)")).alias("n_geq"),
    )
    return agg.selectExpr(
        "n_days",
        "t_obs_cents",
        "n_reps",
        "n_geq",
        f"{sp_rat6('1 + n_geq', str(PERM_REPS + 1))} AS p_value",
    )


def stats_permutation_test_sql() -> str:
    h = X.dk_hash32("rep::VARCHAR || ':' || day::VARCHAR", "perm")
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day,
               sum(CASE WHEN event_type = 'click'
                        THEN round(value * 100)::BIGINT
                        ELSE -(round(value * 100)::BIGINT) END)::BIGINT
                   AS d_cents
        FROM events
        WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1
    ), obs AS (
        SELECT count(*)::BIGINT AS n_days,
               abs(sum(d_cents))::BIGINT AS t_obs_cents
        FROM d
    ), reps AS (
        SELECT rep,
               CASE WHEN ({h}) % 2 = 0 THEN d_cents ELSE -d_cents END AS sd
        FROM d CROSS JOIN range(0, {PERM_REPS}) t(rep)
    ), per_rep AS (
        SELECT rep, abs(sum(sd))::BIGINT AS t_rep FROM reps GROUP BY rep
    ), agg AS (
        SELECT max(n_days)::BIGINT AS n_days,
               max(t_obs_cents)::BIGINT AS t_obs_cents,
               count(*)::BIGINT AS n_reps,
               sum((t_rep >= t_obs_cents)::INT)::BIGINT AS n_geq
        FROM per_rep CROSS JOIN obs
    )
    SELECT n_days, t_obs_cents, n_reps, n_geq,
           {dk_rat6('1 + n_geq', str(PERM_REPS + 1))} AS p_value
    FROM agg
    """


def q_sql_unpivot_stmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``UNPIVOT`` clause surface — the statement twin of
    q_unpivot_measures' ``stack()`` (wide→long after aggregation, so
    the explosion is 3× a handful of grouped rows, never 3× the fact
    table). Certifies Spark's UNPIVOT (3.4+) parses and matches the
    CASE-free relational semantics DuckDB's UNPIVOT applies.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_unpivot_orders"
    )
    return spark.sql(
        """
        WITH wide AS (
            SELECT o_orderpriority,
                   cast(sum(cast(round(o_totalprice * 100) as bigint))
                        as bigint) AS m_cents,
                   cast(count(*) as bigint) AS m_orders,
                   cast(count(DISTINCT o_custkey) as bigint) AS m_customers
            FROM v_unpivot_orders
            WHERE o_orderpriority IS NOT NULL
            GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, measure, val
        FROM wide
        UNPIVOT (val FOR measure IN (m_cents, m_orders, m_customers))
        ORDER BY o_orderpriority, measure
        """
    )


def q_sql_unpivot_stmt_sql() -> str:
    return """
    WITH wide AS (
        SELECT o_orderpriority,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS m_cents,
               count(*)::BIGINT AS m_orders,
               count(DISTINCT o_custkey)::BIGINT AS m_customers
        FROM orders
        WHERE o_orderpriority IS NOT NULL
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, name AS measure, val
    FROM (
        UNPIVOT wide ON m_cents, m_orders, m_customers
        INTO NAME name VALUE val
    )
    ORDER BY o_orderpriority, measure
    """


# Poisson(8) inverse-CDF thresholds for the BLB resampling weights —
# PRECOMPUTED Python-repr literals shared verbatim by both engines (the
# _POIS_CUM discipline: an in-engine exp/ln would re-expose libm
# last-ulp differences in the branch decisions).
_POIS8_CUM = [
    0.00033546262790251185, 0.003019163651122607, 0.013753967744002987,
    0.042380111991684, 0.09963240048704602, 0.19123606207962526,
    0.31337427753639757, 0.45296080948699446, 0.5925473414375914,
    0.7166242587270109, 0.8158857925585464, 0.8880759989814814,
    0.936202803263438, 0.9658192982061805, 0.9827430096020334,
    0.9917689890131549, 0.9962819787187157, 0.998405738580156,
    0.9993496318519073, 0.9997470605979079, 0.999906032096308,
    0.9999665926671272, 0.9999886146928796, 0.999996274527924,
    0.999998827806272, 0.9999996448553434, 0.9999998962550577,
    0.9999999707438619, 0.9999999920263775, 0.9999999978974162,
]
BLB_SUBSAMPLES = 8
BLB_REPS = 16


def _pois8_weight(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS8_CUM)
    )
    return f"(CASE {branches} ELSE {len(_POIS8_CUM)} END)"


def stats_blb_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag of Little Bootstraps for the mean order value — the
    bootstrap that actually scales: each of s=8 DISJOINT hash
    subsamples (≈n/s rows, small enough to live on few executors)
    runs r=16 replicates whose Poisson(s) weights rescale it back to a
    FULL-SIZE resample (Σw ≈ n — Kleiner et al.'s inflation step, the
    part plain subsampling gets wrong), so every replicate estimates
    the full-data mean and the per-subsample spread estimates its
    sampling error without any replicate ever materializing n rows.
    stats_bootstrap_ci is the single-bag Poisson(1) cousin; BLB is
    what replaces it when n no longer fits one bag.

    Determinism: subsample id and weights are hash-derived
    (md5-uniform → Poisson(8) inverse-CDF over PRECOMPUTED repr
    literals); replicate means are integer-exact HALF_UP micro-units,
    the per-subsample replicate variance is a PURE integer rational,
    and the only floats are the final per-row sqrt (raw emission) and
    the 6-dp mean. Shape: one ×r map-side explode, partial agg to
    (s·r) rows per partition, two bounded shuffles (s·r, then s);
    output is the s-row per-bag table (the consumer averages bags).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    uj = (
        "cast(conv(substr(md5(concat('blb:', cast(o_orderkey as string))),"
        " 1, 8), 16, 10) as bigint)"
    )
    uw = (
        "cast(conv(substr(md5(concat('blbw:', cast(rep as string), ':', "
        "cast(o_orderkey as string))), 1, 8), 16, 10) as bigint) "
        "/ 4294967296.0"
    )
    reps = o.selectExpr(
        "o_orderkey",
        f"({uj}) % {BLB_SUBSAMPLES} AS bag",
        "cast(round(o_totalprice * 100) as bigint) AS cents",
        f"explode(sequence(0, {BLB_REPS - 1})) AS rep",
    ).selectExpr("bag", "rep", "cents", f"{_pois8_weight(uw)} AS w")
    per_rep = (
        reps.groupBy("bag", "rep")
        .agg(
            F.sum("w").alias("nw"),
            F.sum(F.expr("cast(w as bigint) * cents")).alias("swc"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .selectExpr(
            "bag",
            "n_rows",
            "cast(" + sp_units("swc", "100 * nw") + " as bigint) AS m6",
        )
    )
    bags = per_rep.groupBy("bag").agg(
        F.max("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_reps"),
        F.sum("m6").alias("sm6"),
        F.sum(F.expr("cast(m6 as decimal(38,0)) * m6")).alias("sqm6"),
    )
    var_units = (
        f"(cast({BLB_REPS} as double) * cast(sqm6 as double)"
        f" - cast(sm6 as double) * sm6)"
        f" / ({BLB_REPS} * ({BLB_REPS} - 1.0))"
    )
    return bags.selectExpr(
        "bag",
        "n_rows",
        "n_reps",
        f"{sp_rat6('sm6', str(BLB_REPS * 1_000_000))} AS bag_mean",
        f"sqrt({var_units}) / 1000000.0 AS bag_se",
    ).orderBy("bag")


def stats_blb_ci_sql() -> str:
    uj = "('0x' || substr(md5('blb:' || o_orderkey::VARCHAR), 1, 8))::UBIGINT::BIGINT"
    uw = (
        "('0x' || substr(md5('blbw:' || rep::VARCHAR || ':' || "
        "o_orderkey::VARCHAR), 1, 8))::UBIGINT::BIGINT / 4294967296.0"
    )
    var_units = (
        f"({BLB_REPS}::DOUBLE * sqm6::DOUBLE - sm6::DOUBLE * sm6)"
        f" / ({BLB_REPS} * ({BLB_REPS} - 1.0))"
    )
    return f"""
    WITH reps AS (
        SELECT ({uj}) % {BLB_SUBSAMPLES} AS bag, r.rep,
               round(o_totalprice * 100)::BIGINT AS cents,
               {_pois8_weight(uw)} AS w
        FROM orders,
             (SELECT unnest(generate_series(0, {BLB_REPS - 1})) AS rep) r
    ), per_rep AS (
        SELECT bag, count(*)::BIGINT AS n_rows,
               ({dk_units("sum(w * cents)::HUGEINT", "100 * sum(w)::HUGEINT")})::BIGINT AS m6
        FROM reps GROUP BY bag, rep
    ), bags AS (
        SELECT bag, max(n_rows)::BIGINT AS n_rows,
               count(*)::BIGINT AS n_reps,
               sum(m6)::BIGINT AS sm6,
               sum(m6::HUGEINT * m6) AS sqm6
        FROM per_rep GROUP BY bag
    )
    SELECT bag::BIGINT AS bag, n_rows, n_reps,
           {dk_rat6('sm6', str(BLB_REPS * 1_000_000))} AS bag_mean,
           sqrt({var_units}) / 1000000.0 AS bag_se
    FROM bags ORDER BY bag
    """


MARKOV_POWER_ITERS = 10   # stationary-distribution power iterations


def stats_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    — where the behavior process settles if it runs forever, the single
    long-run summary of stats_markov_transitions' matrix (and the
    weights stats_entropy_rate_markov integrates against): π = πP by
    MARKOV_POWER_ITERS unrolled power iterations from the uniform
    start.

    Exactness: the iteration runs on an INTEGER lattice — π in 10⁻⁹
    units, each term HALF_UP(π_i·n_ij/n_i) by integer division, summed
    as exact integers — so both engines walk bit-identical states (a
    float π·p sum would re-expose cross-engine summation order; the
    per-term half-ulp rounding is identical by construction and decays
    geometrically in the final distribution). Products π_i·n_ij widen
    decimal(38,0)/HUGEINT (≤10⁹·|transitions| — exact to 10²⁸
    transitions). Shape: the chain state is the TYPES-bounded (≤5-row)
    π table; each iteration is one tiny keyed join + integer-sum
    aggregate with the type spine LEFT-joined back (mass through
    missing cells drops, documented), lazily checkpointed per round
    (the graph_pagerank unroll discipline). The corpus is touched
    ONCE to build the transition counts.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_ij"))
    )
    wr = Window.partitionBy("from_type")
    t = (
        trans.withColumn("n_i", F.sum("n_ij").over(wr))
        .transform(pin)
    )
    spine = (
        t.select(F.col("from_type").alias("event_type"))
        .union(t.select("to_type"))
        .distinct()
        .transform(pin)
    )
    n_types = F.broadcast(spine.agg(F.count(F.lit(1)).alias("k")))
    pi = spine.crossJoin(n_types).selectExpr(
        "event_type", "1000000000 div k AS u"
    )
    for _ in range(MARKOV_POWER_ITERS):
        stepped = (
            pi.join(t, pi.event_type == t.from_type)
            .selectExpr(
                "to_type",
                "(2 * cast(u as decimal(38,0)) * n_ij + n_i)"
                " div (2 * cast(n_i as decimal(38,0))) AS term",
            )
            .groupBy("to_type")
            .agg(F.sum("term").alias("u_new"))
        )
        pi = (
            spine.join(
                stepped, spine.event_type == stepped.to_type, "left"
            )
            .selectExpr(
                "event_type", "cast(coalesce(u_new, 0) as bigint) AS u"
            )
            .transform(pin)
        )
    out_n = t.groupBy("from_type").agg(F.max("n_i").alias("n_out"))
    return (
        pi.join(out_n, pi.event_type == out_n.from_type, "left")
        .selectExpr(
            "event_type",
            "u AS stationary_ppb",
            "cast(u as double) / 1000000000.0 AS stationary_prob",
            "coalesce(n_out, 0) AS n_out",
        )
        .orderBy("event_type")
    )


def stats_markov_stationary_sql() -> str:
    term = "(2 * u::HUGEINT * n_ij + n_i) // (2 * n_i::HUGEINT)"
    iters = []
    prev = "i0"
    for k in range(1, MARKOV_POWER_ITERS + 1):
        iters.append(
            f"i{k} AS (\n"
            f"        SELECT s.event_type,\n"
            f"               coalesce((SELECT sum({term})::BIGINT\n"
            f"                         FROM {prev} p JOIN t\n"
            f"                           ON p.event_type = t.from_type\n"
            f"                         WHERE t.to_type = s.event_type), 0)\n"
            f"                   AS u\n"
            f"        FROM spine s\n"
            f"    )"
        )
        prev = f"i{k}"
    return f"""
    WITH trans AS (
        SELECT from_type, to_type, count(*)::BIGINT AS n_ij
        FROM (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS to_type
            FROM events WHERE event_type IS NOT NULL
        ) WHERE to_type IS NOT NULL
        GROUP BY 1, 2
    ), t AS (
        SELECT from_type, to_type, n_ij,
               sum(n_ij) OVER (PARTITION BY from_type) AS n_i
        FROM trans
    ), spine AS (
        SELECT from_type AS event_type FROM t
        UNION SELECT to_type FROM t
    ), i0 AS (
        SELECT event_type,
               1000000000 // (SELECT count(*) FROM spine) AS u
        FROM spine
    ), {", ".join(iters)}
    SELECT p.event_type,
           u::BIGINT AS stationary_ppb,
           u::DOUBLE / 1000000000.0 AS stationary_prob,
           coalesce((SELECT max(n_i) FROM t
                     WHERE from_type = p.event_type), 0)::BIGINT AS n_out
    FROM {prev} p
    ORDER BY event_type
    """


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: ``parse_json`` the semi-structured
    props column ONCE into the binary VARIANT encoding, then typed
    ``variant_get`` path extraction — the successor to repeated
    ``get_json_object`` string re-parsing (q_events_json's query-time
    form): at 100 TB the variant column is parsed once at ingest and
    every downstream path read is a typed binary probe, not a JSON
    scan. Certifies extraction, a missing path degrading to NULL, and
    the VARIANT null-semantics helper against DuckDB's native JSON
    reader.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    v = ev.selectExpr(
        "event_type",
        "parse_json(props) AS v",
    ).selectExpr(
        "event_type",
        "variant_get(v, '$.k', 'bigint') AS k",
        "variant_get(v, '$.missing', 'bigint') AS missing",
        "cast(is_variant_null(v) as int) AS v_is_null",
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum(F.expr("cast(k IS NULL as bigint)")).alias("null_ks"),
            F.sum(F.expr("cast(missing IS NULL as bigint)")).alias(
                "null_missing"
            ),
            F.sum("v_is_null").alias("variant_nulls"),
        )
        .selectExpr(
            "event_type",
            "n_events",
            "sum_k",
            "max_k",
            "null_ks",
            "null_missing",
            "cast(variant_nulls as bigint) AS variant_nulls",
        )
        .orderBy("event_type")
    )


def q_variant_props_sql() -> str:
    return """
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           max(json_extract(props, '$.k')::BIGINT)::BIGINT AS max_k,
           sum((json_extract(props, '$.k') IS NULL)::INT)::BIGINT AS null_ks,
           sum((json_extract(props, '$.missing') IS NULL)::INT)::BIGINT
               AS null_missing,
           sum((props IS NOT NULL AND json(props) = 'null'::JSON)::INT)::BIGINT
               AS variant_nulls
    FROM events
    GROUP BY event_type ORDER BY event_type
    """


def stats_paired_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test on the daily click-minus-purchase revenue
    differences — the parametric twin of stats_permutation_test on the
    SAME pairing (and the within-pair companion to stats_welch_t's
    independent-samples form): pairing by day removes the day-to-day
    volume swing both arms share, which is the whole point of pairing.

    One DAYS-grain collapse to exact integer cent differences; mean
    and variance come from exact BIGINT sums (Σd, Σd² — the two-pass
    trap doesn't apply to exact integers; Σd² ≤ days·max(d)², widened
    decimal(38,0)/HUGEINT), the mean difference is an exact rational
    (integer-exact HALF_UP), and t = d̄/(s/√n) plus Cohen's dz = d̄/s
    are +,−,×,÷,sqrt over bit-identical integers — raw emission.
    NULL timestamps/values drop (both engines).
    """
    d = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'click'"
                    " THEN cast(round(value * 100) as bigint)"
                    " ELSE -cast(round(value * 100) as bigint) END"
                )
            ).alias("d_cents")
        )
    )
    agg = d.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("d_cents").alias("sd"),
        F.sum(F.expr("cast(d_cents as decimal(38,0)) * d_cents")).alias(
            "sdd"
        ),
    )
    # s² = (n·Σd² − (Σd)²) / (n(n−1)); t = (Σd/n) / (s/√n) = Σd / (s·√n)
    s2 = (
        "((cast(n_days as double) * cast(sdd as double)"
        " - cast(sd as double) * sd) / (cast(n_days as double)"
        " * (n_days - 1.0)))"
    )
    # t/dz need n ≥ 2 and nonzero difference variance — EXACT integer
    # discriminant n·Σd² − (Σd)² > 0 in decimal(38,0)/HUGEINT
    # (round-10 n=2/n=3 probe): NULL, not an ANSI crash; both engines
    tdef = (
        "(n_days >= 2 AND cast(n_days as decimal(38,0)) * sdd"
        " > cast(sd as decimal(38,0)) * sd)"
    )
    return agg.selectExpr(
        "n_days",
        f"{sp_rat6('cast(sd as decimal(38,0))', 'cast(n_days as decimal(38,0)) * 100')} AS mean_diff_dollars",
        f"CASE WHEN {tdef} THEN "
        f"cast(sd as double) / (sqrt({s2}) * sqrt(cast(n_days as double)))"
        " END AS t",
        f"CASE WHEN {tdef} THEN "
        f"(cast(sd as double) / n_days) / sqrt({s2}) END AS cohen_dz",
    )


def stats_paired_t_sql() -> str:
    s2 = (
        "((n_days::DOUBLE * sdd::DOUBLE - sd::DOUBLE * sd)"
        " / (n_days::DOUBLE * (n_days - 1.0)))"
    )
    return f"""
    WITH d AS (
        SELECT ts::DATE AS day,
               sum(CASE WHEN event_type = 'click'
                        THEN round(value * 100)::BIGINT
                        ELSE -(round(value * 100)::BIGINT) END)::BIGINT
                   AS d_cents
        FROM events
        WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1
    ), agg AS (
        SELECT count(*)::BIGINT AS n_days,
               sum(d_cents)::BIGINT AS sd,
               sum(d_cents::HUGEINT * d_cents) AS sdd
        FROM d
    )
    SELECT n_days,
           {dk_rat6('sd::HUGEINT', 'n_days::HUGEINT * 100')} AS mean_diff_dollars,
           CASE WHEN n_days >= 2
                 AND n_days::HUGEINT * sdd > sd::HUGEINT * sd THEN
               sd::DOUBLE / (sqrt({s2}) * sqrt(n_days::DOUBLE)) END AS t,
           CASE WHEN n_days >= 2
                 AND n_days::HUGEINT * sdd > sd::HUGEINT * sd THEN
               (sd::DOUBLE / n_days) / sqrt({s2}) END AS cohen_dz
    FROM agg
    """


def stats_anderson_darling_2s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling (Scholz-Stephens k=2, midrank tie
    form): the ECDF distance that up-weights the TAILS by 1/(F(1−F)) —
    completing the whole-shape trio beside stats_ks_two_sample (single
    worst gap) and stats_cramer_von_mises (uniform-weight L2); AD is
    the one that keeps power when the two samples differ in the
    extremes, exactly where training-data value distributions usually
    do.

    Exactness: on the ×2 midrank lattice (2B = 2·below + c pooled,
    2M = 2·below_own + c_own per sample — the _pooled_score_groups
    cumulatives, no extra shuffle), each group's tail-weighted term
    l·(N·2M − nᵢ·2B)²/(nᵢ·(2B(2N−2B) − N·l)) is a PURE integer
    rational; each is emitted as integer-exact HALF_UP micro-units and
    SUMMED AS INTEGERS (never a float accumulation), with the
    numerator widened decimal(38,0)/HUGEINT (grows as N⁵ — the
    stats_mood_scale magnitude-bound discipline, exact to N ≈ 3×10⁷).
    The single-value degenerate pool yields NULL on both engines (the
    sp_units zero-denominator rule). A² is the unstandardized
    Scholz-Stephens statistic (the k-sample standardization needs the
    Σ1/i harmonic series — an N-row scan by construction — so the raw
    A² with counts is the scale-sane emission, documented).
    """
    g = _pooled_score_groups(spark, sf_dir).withColumn(
        "b2", F.expr("2 * below + c")
    )
    tot = F.broadcast(
        g.agg(
            F.sum("ca").alias("n_a"),
            F.sum("cb").alias("n_b"),
            F.sum("c").alias("nn"),
        )
    )
    den = "(cast(b2 as decimal(38,0)) * (2 * nn - b2) - cast(nn as decimal(38,0)) * c)"
    num_a = (
        "(cast(nn as decimal(38,0)) * (2 * below_a + ca)"
        " - cast(n_a as decimal(38,0)) * b2)"
    )
    num_b = (
        "(cast(nn as decimal(38,0)) * (2 * below_b + cb)"
        " - cast(n_b as decimal(38,0)) * b2)"
    )
    s = g.crossJoin(tot).selectExpr(
        "n_a",
        "n_b",
        "nn",
        f"cast({sp_units(f'c * {num_a} * {num_a}', f'cast(n_a as decimal(38,0)) * {den}')} as bigint) AS u_a",
        f"cast({sp_units(f'c * {num_b} * {num_b}', f'cast(n_b as decimal(38,0)) * {den}')} as bigint) AS u_b",
    )
    agg = s.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("nn").alias("nn"),
        F.sum("u_a").alias("su_a"),
        F.sum("u_b").alias("su_b"),
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "(cast(nn as double) - 1.0) / (cast(nn as double) * nn)"
        " * (cast(su_a as double) + su_b) / 1000000.0 AS a2",
    )


def stats_anderson_darling_2s_sql() -> str:
    den = "(b2::HUGEINT * (2 * nn - b2) - nn::HUGEINT * c)"
    num_a = "(nn::HUGEINT * (2 * below_a + ca) - n_a::HUGEINT * b2)"
    num_b = "(nn::HUGEINT * (2 * below_b + cb) - n_b::HUGEINT * b2)"
    return f"""
    WITH vc AS (
{_POOLED_SCORE_GROUPS_SQL}
    ), cum AS (
        SELECT ca, cb, ca + cb AS c,
               coalesce(sum(ca + cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below,
               coalesce(sum(ca) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below_a,
               coalesce(sum(cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below_b
        FROM vc
    ), m AS (
        SELECT ca, cb, c, below_a, below_b, 2 * below + c AS b2 FROM cum
    ), tot AS (
        SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
               sum(c)::BIGINT AS nn
        FROM m
    ), s AS (
        SELECT n_a, n_b, nn,
               ({dk_units(f'c * {num_a} * {num_a}', f'n_a::HUGEINT * {den}')})::BIGINT AS u_a,
               ({dk_units(f'c * {num_b} * {num_b}', f'n_b::HUGEINT * {den}')})::BIGINT AS u_b
        FROM m CROSS JOIN tot
    ), agg AS (
        SELECT max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
               max(nn)::BIGINT AS nn,
               sum(u_a)::BIGINT AS su_a, sum(u_b)::BIGINT AS su_b
        FROM s
    )
    SELECT n_a, n_b,
           (nn::DOUBLE - 1.0) / (nn::DOUBLE * nn)
               * (su_a::DOUBLE + su_b) / 1000000.0 AS a2
    FROM agg
    """


def q_sql_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-arithmetic surface certification: add_months month-end
    clamping (Jan 31 + 1 month = Feb 28 — the case naive day-addition
    gets wrong), last_day, date_trunc to quarter, ISO day-of-week and
    a 90-day shelf date — the date-function semantics two engines most
    often disagree on, certified value-for-value against DuckDB's
    INTERVAL arithmetic on every order date. Aggregated to the bounded
    (year, quarter) grain so the output is calendar-sized.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    d = o.selectExpr(
        "cast(o_orderdate as date) AS d",
    ).selectExpr(
        "year(d) AS yr",
        "quarter(d) AS qtr",
        "add_months(d, 1) AS plus_month",
        "last_day(d) AS eom",
        "date_add(d, 90) AS shelf",
        "dayofweek(d) AS dow",
        "(d = last_day(d)) AS is_eom",
        "(day(add_months(d, 1)) <> day(d)) AS clamped",
    )
    return (
        d.groupBy("yr", "qtr")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("plus_month").alias("max_plus_month"),
            F.max("eom").alias("max_eom"),
            F.max("shelf").alias("max_shelf"),
            F.sum(F.expr("cast(is_eom as bigint)")).alias("eom_orders"),
            F.sum(F.expr("cast(clamped as bigint)")).alias(
                "month_end_clamped"
            ),
            F.sum(F.expr("cast(dow = 1 as bigint)")).alias("sunday_orders"),
        )
        .selectExpr(
            "cast(yr as bigint) AS yr",
            "cast(qtr as bigint) AS qtr",
            "n_orders",
            "max_plus_month",
            "max_eom",
            "max_shelf",
            "eom_orders",
            "month_end_clamped",
            "sunday_orders",
        )
        .orderBy("yr", "qtr")
    )


def q_sql_date_arithmetic_sql() -> str:
    # DuckDB date + INTERVAL 1 MONTH clamps to month-end exactly like
    # Spark's add_months; dayofweek: Spark 1=Sunday, DuckDB dayofweek
    # 0=Sunday — certified via the Sunday count.
    return """
    WITH d AS (
        SELECT o_orderdate::DATE AS d FROM orders
        WHERE o_orderdate IS NOT NULL
    ), e AS (
        SELECT year(d) AS yr, quarter(d) AS qtr,
               (d + INTERVAL 1 MONTH)::DATE AS plus_month,
               last_day(d) AS eom,
               d + 90 AS shelf,
               dayofweek(d) AS dow,
               (d = last_day(d)) AS is_eom,
               (day((d + INTERVAL 1 MONTH)::DATE) <> day(d)) AS clamped
        FROM d
    )
    SELECT yr::BIGINT AS yr, qtr::BIGINT AS qtr,
           count(*)::BIGINT AS n_orders,
           max(plus_month) AS max_plus_month,
           max(eom) AS max_eom,
           max(shelf) AS max_shelf,
           sum(is_eom::INT)::BIGINT AS eom_orders,
           sum(clamped::INT)::BIGINT AS month_end_clamped,
           sum((dow = 0)::INT)::BIGINT AS sunday_orders
    FROM e
    GROUP BY yr, qtr ORDER BY yr, qtr
    """


def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over the months × priority block design, binarized:
    did priority j "over-deliver" in month i (cell revenue above the
    month's mean cell — the exact integer comparison 5·cents > total)?
    Q is the k-related-samples test FOR BINARY outcomes — the missing
    member beside stats_friedman (ranks), stats_quade (weighted ranks)
    and stats_kendall_w (effect size) on the same complete-month
    design; for k=2 it collapses to McNemar (stats_mcnemar).

    Everything is exact integers: the binarization is an integer
    comparison (never a float mean), column totals C_j, block totals
    R_i and ΣR², and Q = k(k−1)·Σ(k·C_j − T)²  /  (k·(k·T − ΣR²))
    (the k²-scaled form keeps the numerator integer; T = ΣC = ΣR).
    Q is emitted as an integer-exact HALF_UP rational — it reads
    against chi²(k−1) criticals. Cells ≤ months×5, every aggregate is
    on the bounded month or priority grain. NULL dates/priorities drop
    (both engines).
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy(
            F.expr("date_trunc('MONTH', cast(o_orderdate as date))").alias(
                "mth"
            ),
            F.expr("cast(substr(o_orderpriority, 1, 1) as int)").alias("g"),
        )
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        # cells feeds the complete-block filter AND the indicator pass;
        # x feeds both margin aggregates — unpinned, the orders scan ran
        # 5x. months x 5 grain: pin both; the fact is scanned ONCE.
        .transform(pin)
    )
    full = (
        cells.groupBy("mth")
        .agg(
            F.countDistinct("g").alias("kk"),
            F.sum("cents").alias("mtotal"),
        )
        .where(F.col("kk") == 5)
        .select("mth", "mtotal")
    )
    x = cells.join(full, "mth").selectExpr(
        "mth", "g", "cast(5 * cents > mtotal as bigint) AS x"
    ).transform(pin)
    cj = x.groupBy("g").agg(F.sum("x").alias("c_j"))
    ri = x.groupBy("mth").agg(F.sum("x").alias("r_i"))
    a1 = cj.agg(
        F.sum("c_j").alias("t"),
        F.sum(F.expr("c_j * c_j")).alias("sc2"),
    )
    a2 = ri.agg(F.sum(F.expr("r_i * r_i")).alias("sr2"))
    b = F.broadcast(full.agg(F.count(F.lit(1)).alias("b")))
    out = a1.crossJoin(F.broadcast(a2)).crossJoin(b)
    # Σ(k·C_j − T)² = k²·ΣC² − 2kT·T + k·T² = k²·ΣC² − k·T² (k terms)
    qp = "(5 * 4 * (25 * sc2 - 5 * cast(t as decimal(38,0)) * t))"
    qq = "(25 * (5 * cast(t as decimal(38,0)) - sr2))"
    return out.selectExpr(
        "b AS n_months",
        "t AS n_over",
        f"{sp_rat6(qp, qq)} AS q_stat",
    )


def stats_cochran_q_sql() -> str:
    qp = "(5 * 4 * (25 * sc2 - 5 * t::HUGEINT * t))"
    qq = "(25 * (5 * t::HUGEINT - sr2))"
    return f"""
    WITH cells AS (
        SELECT date_trunc('month', o_orderdate::DATE) AS mth,
               substr(o_orderpriority, 1, 1)::INT AS g,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders
        WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2
    ), full_m AS (
        SELECT mth, sum(cents)::BIGINT AS mtotal FROM cells
        GROUP BY 1 HAVING count(DISTINCT g) = 5
    ), x AS (
        SELECT cells.mth, g, (5 * cents > mtotal)::BIGINT AS x
        FROM cells JOIN full_m USING (mth)
    ), cj AS (
        SELECT g, sum(x)::BIGINT AS c_j FROM x GROUP BY g
    ), ri AS (
        SELECT mth, sum(x)::BIGINT AS r_i FROM x GROUP BY mth
    ), a1 AS (
        SELECT sum(c_j)::BIGINT AS t, sum(c_j * c_j)::BIGINT AS sc2 FROM cj
    ), a2 AS (
        SELECT sum(r_i * r_i)::BIGINT AS sr2 FROM ri
    ), bt AS (
        SELECT count(*)::BIGINT AS b FROM full_m
    )
    SELECT b AS n_months, t AS n_over,
           {dk_rat6(qp, qq)} AS q_stat
    FROM a1 CROSS JOIN a2 CROSS JOIN bt
    """


def q_sql_regexp_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp-function surface certification on the PORTABLE pattern
    subset: regexp_extract with a capture group, regexp_count,
    regexp_replace with a class, and split-based token counting — the
    four regex entry points every text pipeline leans on, certified
    value-for-value between Java regex (Spark) and RE2 (DuckDB) on
    patterns restricted to the repo's portability rules (explicit
    character classes, no backslash shorthand, no lookaround — the
    text_charset_profile discipline; patterns OUTSIDE this subset are
    exactly what this op exists to keep out of the codebase).
    Aggregated to the bounded source grain.
    """
    d = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        "source",
        F.expr("regexp_extract(text, '([a-z]+)', 1)").alias("first_word"),
        F.expr("regexp_count(text, '[0-9]')").alias("n_digits"),
        F.expr(
            "length(regexp_replace(text, '[aeiou]', ''))"
        ).alias("n_novowel"),
        F.expr("size(split(text, '[ ]+'))").alias("n_splits"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("first_word").alias("distinct_first_words"),
            F.sum("n_digits").alias("total_digits"),
            F.sum("n_novowel").alias("total_novowel_chars"),
            F.sum("n_splits").alias("total_splits"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "distinct_first_words",
            "cast(total_digits as bigint) AS total_digits",
            "total_novowel_chars",
            "cast(total_splits as bigint) AS total_splits",
        )
        .orderBy("source")
    )


def q_sql_regexp_surface_sql() -> str:
    # DuckDB split: string_split_regex; empty trailing fields match
    # Spark's split default (-1 limit keeps trailing empties) — both
    # keep them, certified by total_splits.
    return """
    WITH d AS (
        SELECT source,
               regexp_extract(text, '([a-z]+)', 1) AS first_word,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                   AS n_digits,
               length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_novowel,
               len(string_split_regex(text, '[ ]+')) AS n_splits
        FROM documents
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           count(DISTINCT first_word)::BIGINT AS distinct_first_words,
           sum(n_digits)::BIGINT AS total_digits,
           sum(n_novowel)::BIGINT AS total_novowel_chars,
           sum(n_splits)::BIGINT AS total_splits
    FROM d GROUP BY source ORDER BY source
    """


def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 ``WITH RECURSIVE`` surface (round 9): a recursion-
    generated month spine from the orders table's own min/max month,
    LEFT-joined to the monthly revenue rollup — the gap-filled calendar
    every reporting layer needs, expressed as the ANSI recursive CTE
    instead of a sequence()/explode generator (q_events_gapfill's
    sibling at month grain). The recursion is CALENDAR-bounded (months
    between min and max order date — ~84 at any corpus size, far under
    Spark's default 100-level recursion cap) and carries its own upper
    bound in each row, so no scalar subquery sits inside the recursive
    step (the one recursion shape both engines plan identically).
    Revenue is exact integer cents (repo round-boundary rule); months
    with no orders surface as explicit zero rows — the property the
    spine exists for. NULL o_orderdate rows feed neither bounds nor
    rollup (both engines).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_rcte_orders"
    )
    return spark.sql(
        """
        WITH RECURSIVE months(m, mx) AS (
            SELECT mn, mx FROM (
                SELECT date_trunc('month', min(o_orderdate)) AS mn,
                       date_trunc('month', max(o_orderdate)) AS mx
                FROM v_rcte_orders
            ) WHERE mn IS NOT NULL
            UNION ALL
            SELECT add_months(m, 1), mx FROM months WHERE m < mx
        ), rev AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   count(*) AS n_orders,
                   sum(cast(floor(o_totalprice * 100 + 0.5) as bigint))
                       AS cents
            FROM v_rcte_orders WHERE o_orderdate IS NOT NULL GROUP BY 1
        )
        SELECT cast(months.m as date) AS month_start,
               coalesce(n_orders, 0) AS n_orders,
               coalesce(cents, 0) AS cents
        FROM months LEFT JOIN rev ON months.m = rev.m
        ORDER BY month_start
        """
    )


def q_sql_recursive_cte_sql() -> str:
    return """
    WITH RECURSIVE months(m, mx) AS (
        SELECT mn, mx FROM (
            SELECT date_trunc('month', min(o_orderdate::DATE))::DATE AS mn,
                   date_trunc('month', max(o_orderdate::DATE))::DATE AS mx
            FROM orders
        ) WHERE mn IS NOT NULL
        UNION ALL
        SELECT (m + INTERVAL 1 MONTH)::DATE, mx FROM months WHERE m < mx
    ), rev AS (
        SELECT date_trunc('month', o_orderdate::DATE)::DATE AS m,
               count(*)::BIGINT AS n_orders,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT months.m AS month_start,
           coalesce(n_orders, 0)::BIGINT AS n_orders,
           coalesce(cents, 0)::BIGINT AS cents
    FROM months LEFT JOIN rev ON months.m = rev.m
    ORDER BY month_start
    """
