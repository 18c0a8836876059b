"""Change-data-capture compaction: latest-wins merge of a snapshot
plus a changelog — the MERGE INTO / upsert primitive, expressed on
plain parquet (no table-format dependency).

The reference's update pipeline (updated_document_actions.py) mutates
documents one S3 object at a time; at 100 TB the same semantics are a
periodic compaction: union the current snapshot with the accumulated
changelog, keep the HIGHEST-version row per key, drop keys whose latest
entry is a delete. One shuffle on the primary key (the semantics'
minimum), window `row_number` per key for latest-wins — exactly the
copy-on-write compaction Delta/Iceberg/Hudi run under MERGE, shown here
as the raw Spark plan.

The changelog is derived deterministically from the orders table (so
the DuckDB oracle can replay it): every key % UPDATE_MOD gets a
version-2 price revision, every key % DELETE_MOD a version-2 delete
marker (delete beats update where both apply, mirroring a later
tombstone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.exact import dk_rat6, sp_rat6
from navigator_data_ingest_spark.sources.tables import load_table, pin

UPDATE_MOD = 7
DELETE_MOD = 13
PRICE_BUMP = 1.1


def changelog(snapshot: DataFrame) -> DataFrame:
    """Deterministic (op, version) changelog derived from a snapshot."""
    updates = (
        snapshot.where(
            (F.col("o_orderkey") % UPDATE_MOD == 0)
            & (F.col("o_orderkey") % DELETE_MOD != 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") * PRICE_BUMP)
        .withColumn("op", F.lit("U"))
        .withColumn("version", F.lit(2))
    )
    deletes = (
        snapshot.where(F.col("o_orderkey") % DELETE_MOD == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("version", F.lit(2))
    )
    return updates.unionByName(deletes)


def merge_latest_wins(snapshot: DataFrame, log: DataFrame) -> DataFrame:
    """snapshot ∪ changelog -> latest version per key, deletes dropped.

    Same-version ties break toward the delete: 'D' < 'U' lexically, so
    ``ORDER BY version DESC, op ASC`` ranks a tombstone first — a later
    delete always wins over an equal-version update.
    """
    base = snapshot.withColumn("op", F.lit("U")).withColumn("version", F.lit(1))
    merged = base.unionByName(log)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.desc("version"), F.asc("op")
    )
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .drop("rn", "op")
    )


def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    snapshot = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    merged = merge_latest_wins(snapshot, changelog(snapshot))
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("price"),
        "o_orderpriority",
        F.col("version").cast("int").alias("version"),
    ).orderBy("o_orderkey")


def cdc_upsert_sql() -> str:
    return f"""
    WITH snap AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority, 'U' AS op, 1 AS version
        FROM orders
    ),
    log AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * {PRICE_BUMP} AS o_totalprice,
               o_orderpriority, 'U' AS op, 2 AS version
        FROM orders
        WHERE o_orderkey % {UPDATE_MOD} = 0 AND o_orderkey % {DELETE_MOD} <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority, 'D' AS op, 2 AS version
        FROM orders
        WHERE o_orderkey % {DELETE_MOD} = 0
    ),
    merged AS (
        SELECT *, row_number() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY version DESC, op ASC) AS rn
        FROM (SELECT * FROM snap UNION ALL SELECT * FROM log) u
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 6) AS price,
           o_orderpriority, version::int AS version
    FROM merged
    WHERE rn = 1 AND op <> 'D'
    ORDER BY o_orderkey
    """


# deterministic v2 mutation rule for the snapshot-diff operator
DIFF_REMOVE_MOD = 41   # doc_id % 41 == 0 -> removed in v2
DIFF_CHANGE_MOD = 37   # doc_id % 37 == 0 -> payload changed in v2
DIFF_ADD_MOD = 43      # doc_id % 43 == 0 -> a NEW (doc_id + 10^6) row in v2




SCD2_MOD = 5  # keys getting a version-3 status change


def scd2_changelog(snapshot: DataFrame) -> DataFrame:
    """Deterministic multi-version changelog for SCD2 history building:
    v2 price revisions (% UPDATE_MOD), v3 status changes (% SCD2_MOD),
    v4 deletes (% DELETE_MOD) — versions are distinct by construction
    so the history chain never ties."""
    v2 = (
        snapshot.where(F.col("o_orderkey") % UPDATE_MOD == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * PRICE_BUMP)
        .withColumn("op", F.lit("U"))
        .withColumn("version", F.lit(2))
    )
    v3 = (
        snapshot.where(F.col("o_orderkey") % SCD2_MOD == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("op", F.lit("U"))
        .withColumn("version", F.lit(3))
    )
    v4 = (
        snapshot.where(F.col("o_orderkey") % DELETE_MOD == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("version", F.lit(4))
    )
    return v2.unionByName(v3).unionByName(v4)


def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history build — the other half
    of CDC: ``cdc_upsert`` keeps only the latest state; SCD2 keeps EVERY
    state with a validity interval, which is what an auditable dimension
    (and any time-travel join) needs.

    One shuffle on the key; the validity chain is a ``lead(version)``
    window per key (per-key history is short — window partitions are
    bounded by version count, never data-sized). A delete row closes its
    predecessor's interval without emitting a row of its own, so
    deleted keys have history but no current row.
    """
    # the base row plus the three changelog branches each re-scanned
    # orders (the % filters are not parquet-pushable, so every branch
    # read the full columns). Pin the 4-column snapshot; the fact is
    # scanned ONCE and the branches read the pin.
    snapshot = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).transform(pin)
    base = snapshot.withColumn("op", F.lit("U")).withColumn("version", F.lit(1))
    hist = base.unionByName(scd2_changelog(snapshot))
    w = Window.partitionBy("o_orderkey").orderBy("version")
    return (
        hist.withColumn("effective_to", F.lead("version").over(w))
        .where(F.col("op") != "D")
        .select(
            "o_orderkey",
            F.col("version").alias("effective_from"),
            "effective_to",
            F.col("effective_to").isNull().alias("is_current"),
            "o_orderstatus",
            F.round("o_totalprice", 6).alias("price"),
        )
        .orderBy("o_orderkey", "effective_from")
    )


def _scd2_body_sql() -> str:
    """The SCD2 history statement WITHOUT a trailing ORDER BY, so both
    cdc_scd2_sql (which appends the presentation sort) and
    cdc_scd2_lookup_sql (which embeds it as a CTE) compose from one
    definition instead of string-patching each other."""
    return f"""
    WITH snap AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
    ), hist AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               'U' AS op, 1 AS version FROM snap
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice * {PRICE_BUMP},
               'U', 2 FROM snap WHERE o_orderkey % {UPDATE_MOD} = 0
        UNION ALL
        SELECT o_orderkey, 'X', o_totalprice,
               'U', 3 FROM snap WHERE o_orderkey % {SCD2_MOD} = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               'D', 4 FROM snap WHERE o_orderkey % {DELETE_MOD} = 0
    ), chained AS (
        SELECT *, lead(version) OVER (PARTITION BY o_orderkey
                                      ORDER BY version) AS effective_to
        FROM hist
    )
    SELECT o_orderkey, version AS effective_from, effective_to,
           effective_to IS NULL AS is_current,
           o_orderstatus, round(o_totalprice, 6) AS price
    FROM chained WHERE op <> 'D'
    """


def cdc_scd2_sql() -> str:
    return _scd2_body_sql() + "\n    ORDER BY o_orderkey, effective_from\n    "


# --------------------------------------------------------------------------
# SCD2 point-in-time lookup (the temporal-join consumer of the history)
# --------------------------------------------------------------------------

LOOKUP_VERSION_MOD = 3  # probe version per key = 1 + key % MOD


def cdc_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 history — the reason the
    history exists: "what did this dimension row look like AS OF
    version v?" (the temporal join every backfilled fact pipeline runs
    against its dimensions).

    The probe joins the history on the KEY (equijoin), then the
    validity filter ``effective_from <= v < coalesce(effective_to, ∞)``
    selects the covering interval — fan-out is bounded by
    versions-per-key (short by construction), never a range-join
    blowup. Probes landing after a delete (no covering interval)
    surface as NULL attributes via the left join: deletions are
    visible, not silently filled.
    """
    hist = cdc_scd2(spark, sf_dir)
    probes = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .withColumn(
            "probe_version",
            F.expr(f"cast(1 + o_orderkey % {LOOKUP_VERSION_MOD} as int)"),
        )
    )
    covering = hist.withColumnRenamed("o_orderkey", "h_key")
    joined = probes.join(
        covering,
        (probes["o_orderkey"] == covering["h_key"])
        & (F.col("effective_from") <= F.col("probe_version"))
        & (
            F.col("effective_to").isNull()
            | (F.col("probe_version") < F.col("effective_to"))
        ),
        "left",
    )
    return joined.select(
        "o_orderkey",
        "probe_version",
        F.col("o_orderstatus").alias("status_at"),
        F.col("price").alias("price_at"),
    ).orderBy("o_orderkey")


def cdc_scd2_lookup_sql() -> str:
    return f"""
    WITH hist AS ({_scd2_body_sql()}
    ), probes AS (
        SELECT o_orderkey,
               (1 + o_orderkey % {LOOKUP_VERSION_MOD})::int AS probe_version
        FROM orders
    )
    SELECT p.o_orderkey, p.probe_version,
           h.o_orderstatus AS status_at,
           h.price AS price_at
    FROM probes p
    LEFT JOIN hist h
      ON p.o_orderkey = h.o_orderkey
     AND h.effective_from <= p.probe_version
     AND (h.effective_to IS NULL OR p.probe_version < h.effective_to)
    ORDER BY p.o_orderkey
    """


BT_VALID_AS_OF = "1996-06-15"   # valid-time point
BT_TX_AS_OF = "1997-01-01"      # transaction-time point


def cdc_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL point query — "what did we BELIEVE on tx-date T the
    order's price was ON valid-date V?" — over a two-axis version
    table derived deterministically from orders: every order has a
    base version; %5 keys gain a transaction-time CORRECTION (price
    ×1.1 recorded 30 days later, superseding the base belief), %3 keys
    gain a valid-time SPLIT (price ×0.95 effective 60 days in). The
    point query intersects both half-open axes; output is the
    per-status count/sum of believed-effective prices.

    This is the two-axis generalization of cdc_scd2_lookup: SCD2
    tracks ONE time axis; auditing "what did the system know when"
    needs both. One map-side union (no joins), pure interval
    predicates that prune at scan time.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    far = "date'9999-12-31'"
    base = o.selectExpr(
        "o_orderkey", "o_orderstatus",
        "round(o_totalprice, 6) AS price",
        "o_orderdate AS valid_from",
        f"CASE WHEN o_orderkey % 3 = 0 THEN date_add(o_orderdate, 60) ELSE {far} END AS valid_to",
        "o_orderdate AS tx_from",
        f"CASE WHEN o_orderkey % 5 = 0 THEN date_add(o_orderdate, 30) ELSE {far} END AS tx_to",
    )
    correction = o.where("o_orderkey % 5 = 0").selectExpr(
        "o_orderkey", "o_orderstatus",
        "round(o_totalprice * 1.1, 6) AS price",
        "o_orderdate AS valid_from",
        f"CASE WHEN o_orderkey % 3 = 0 THEN date_add(o_orderdate, 60) ELSE {far} END AS valid_to",
        "date_add(o_orderdate, 30) AS tx_from",
        f"{far} AS tx_to",
    )
    split = o.where("o_orderkey % 3 = 0").selectExpr(
        "o_orderkey", "o_orderstatus",
        "round(o_totalprice * 0.95, 6) AS price",
        "date_add(o_orderdate, 60) AS valid_from",
        f"{far} AS valid_to",
        "o_orderdate AS tx_from",
        f"{far} AS tx_to",
    )
    versions = base.unionAll(correction).unionAll(split)
    v, t = f"date'{BT_VALID_AS_OF}'", f"date'{BT_TX_AS_OF}'"
    hit = versions.where(
        F.expr(
            f"valid_from <= {v} AND {v} < valid_to "
            f"AND tx_from <= {t} AND {t} < tx_to"
        )
    )
    return (
        hit.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("price"), 6).alias("sum_believed_price"),
        )
        .orderBy("o_orderstatus")
    )


def cdc_bitemporal_asof_sql() -> str:
    far = "DATE '9999-12-31'"
    v, t = f"DATE '{BT_VALID_AS_OF}'", f"DATE '{BT_TX_AS_OF}'"
    return f"""
    WITH o AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               o_orderdate::DATE AS o_orderdate
        FROM orders
    ), versions AS (
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 6) AS price,
               o_orderdate AS valid_from,
               CASE WHEN o_orderkey % 3 = 0 THEN o_orderdate + 60 ELSE {far} END AS valid_to,
               o_orderdate AS tx_from,
               CASE WHEN o_orderkey % 5 = 0 THEN o_orderdate + 30 ELSE {far} END AS tx_to
        FROM o
        UNION ALL
        SELECT o_orderkey, o_orderstatus, round(o_totalprice * 1.1, 6),
               o_orderdate,
               CASE WHEN o_orderkey % 3 = 0 THEN o_orderdate + 60 ELSE {far} END,
               o_orderdate + 30, {far}
        FROM o WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, round(o_totalprice * 0.95, 6),
               o_orderdate + 60, {far}, o_orderdate, {far}
        FROM o WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
           round(sum(price), 6) AS sum_believed_price
    FROM versions
    WHERE valid_from <= {v} AND {v} < valid_to
      AND tx_from <= {t} AND {t} < tx_to
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """


SNAPSHOT_CUT_A = "1995-01-01"
SNAPSHOT_CUT_B = "1997-01-01"


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: the orders feed AS OF two cutoff dates
    diffed by key into added / persisted rows, with persisted rows
    further split by whether the payload CHANGED — the
    two-snapshots-no-log fallback every CDC pipeline needs when the
    upstream can only dump full states (cdc_scd2_lookup consumes a
    proper change log; this MANUFACTURES one).

    Snapshots derive deterministically (order date < cut; the payload
    fingerprint is the portable md5 over the business columns), ONE
    key-co-partitioned full-outer join, a 3-row status grid with
    integer-exact shares. NULL dates never enter a snapshot (both
    engines).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            F.md5(
                F.concat_ws(
                    ":",
                    F.coalesce(F.col("o_orderstatus"), F.lit("<null>")),
                    F.expr(
                        "cast(cast(round(o_totalprice * 100) as bigint) as string)"
                    ),
                )
            ).alias("fp"),
        )
    )
    a = o.where(F.col("od") < F.lit(SNAPSHOT_CUT_A).cast("date")).select(
        F.col("o_orderkey").alias("k"), F.col("fp").alias("fp_a")
    )
    b = o.where(F.col("od") < F.lit(SNAPSHOT_CUT_B).cast("date")).select(
        F.col("o_orderkey").alias("k"), F.col("fp").alias("fp_b")
    )
    j = a.join(b, "k", "full_outer").select(
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") == F.col("fp_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status")
    )
    # grid feeds tot AND the output row — unpinned, the whole
    # two-snapshot outer join (2 orders scans + the md5 fingerprints)
    # executed twice, 4 scans total. The status grid is <= 4 rows, so
    # pin it; the join runs once and the two snapshot scans that
    # remain are the two-snapshots shape's floor.
    grid = (
        j.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .transform(pin)
    )
    tot = F.broadcast(grid.agg(F.sum("n_rows").alias("t")))
    return (
        grid.crossJoin(tot)
        .selectExpr(
            "status",
            "n_rows",
            f"{sp_rat6('n_rows', 't')} AS share",
        )
        .orderBy("status")
    )


def cdc_snapshot_diff_sql() -> str:
    return f"""
    WITH o AS (
        SELECT o_orderkey, o_orderdate::DATE AS od,
               md5(coalesce(o_orderstatus, '<null>') || ':'
                   || round(o_totalprice * 100)::BIGINT::VARCHAR) AS fp
        FROM orders WHERE o_orderdate IS NOT NULL
    ), a AS (
        SELECT o_orderkey AS k, fp AS fp_a FROM o
        WHERE od < DATE '{SNAPSHOT_CUT_A}'
    ), b AS (
        SELECT o_orderkey AS k, fp AS fp_b FROM o
        WHERE od < DATE '{SNAPSHOT_CUT_B}'
    ), j AS (
        SELECT CASE WHEN fp_a IS NULL THEN 'added'
                    WHEN fp_b IS NULL THEN 'removed'
                    WHEN fp_a = fp_b THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM a FULL OUTER JOIN b USING (k)
    ), grid AS (
        SELECT status, count(*)::BIGINT AS n_rows FROM j GROUP BY 1
    ), tot AS (
        SELECT sum(n_rows)::BIGINT AS t FROM grid
    )
    SELECT status, n_rows,
           {dk_rat6('n_rows', 't')} AS share
    FROM grid CROSS JOIN tot
    ORDER BY status
    """


# deterministic MERGE source rules (distinct moduli from the upsert op)
MERGE_UPDATE_MOD = 3     # matched keys % 3 == 0 -> price restated
MERGE_DELETE_MOD = 11    # matched keys % 11 == 0 -> delete wins
# not-matched source keys: key + max(o_orderkey), derived IN-PLAN (1-row
# broadcast, the seed-stripe discipline) — a fixed shift constant would
# collide with existing target keys once orderkeys outgrow it (TPC-H
# orderkey max ≈ 6M·SF), silently routing 'inserts' through the matched
# arm (r7 ADVICE).
MERGE_PRICE_SCALE = 0.9


def cdc_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE INTO statement's three-arm semantics (WHEN MATCHED AND
    <cond> THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED
    THEN INSERT) applied in ONE key-shuffled pass — the DataFrame
    ``mergeInto`` surface beside cdc_upsert's version-compaction view.
    Spark 4 ships the builder API (``df.mergeInto(t, cond)
    .whenMatched(c).delete() .whenMatched().update(...)
    .whenNotMatched().insertAll() .merge()``), but executing it needs a
    DSv2 catalog with row-level-operation support; the stock
    ``spark_catalog`` parquet tables raise
    UNSUPPORTED_FEATURE.TABLE_OPERATION (the builder chain and that
    documented limit are pinned in tests/test_merge_into_api.py). This
    operator is the engine-portable PLAN Spark itself expands MERGE
    into: a full-outer key join + per-arm CASE routing — one shuffle,
    no table-format dependency.

    The source batch derives deterministically from orders so the
    oracle replays it: matched %3==0 keys restate the price ×0.9,
    matched %11==0 keys delete (delete arm checked FIRST, as in MERGE),
    and a disjoint (key + max(o_orderkey)) slice arrives as inserts —
    the shift is plan-derived so inserted keys stay collision-free at
    ANY scale factor.
    """
    target = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    mx = target.agg(F.max("o_orderkey").alias("merge_shift"))
    # the matched and insert arms each re-scanned orders (4 scans total
    # with mx and the join's target side). ONE filtered pass emits both
    # arms per qualifying row via inline(filter(array(...))) — a key on
    # both the matched and the %17 ladder still yields exactly its two
    # union rows, and the full-outer join is order-insensitive, so the
    # source multiset is identical. Scans: join target + source
    # derivation + max = 3, the three-pass floor of this shape.
    source = (
        target.where(
            (F.col("o_orderkey") % MERGE_UPDATE_MOD == 0)
            | (F.col("o_orderkey") % MERGE_DELETE_MOD == 0)
            | (F.col("o_orderkey") % 17 == 0)
        )
        .crossJoin(F.broadcast(mx))
        .selectExpr(
            f"""inline(filter(array(
              CASE WHEN o_orderkey % {MERGE_UPDATE_MOD} = 0
                     OR o_orderkey % {MERGE_DELETE_MOD} = 0 THEN
                named_struct(
                  'o_orderkey', o_orderkey,
                  'new_price', o_totalprice * {MERGE_PRICE_SCALE},
                  'src_custkey', CAST(NULL AS BIGINT),
                  'src_status', CAST(NULL AS STRING),
                  'src_priority', CAST(NULL AS STRING)) END,
              CASE WHEN o_orderkey % 17 = 0 THEN
                named_struct(
                  'o_orderkey', o_orderkey + merge_shift,
                  'new_price', cast(o_totalprice as double),
                  'src_custkey', o_custkey,
                  'src_status', 'N',
                  'src_priority', '5-LOW') END
            ), x -> x IS NOT NULL))"""
        )
    )
    j = target.alias("t").join(
        source.alias("s"), F.expr("t.o_orderkey = s.o_orderkey"), "full_outer"
    )
    merged = j.selectExpr(
        "coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey",
        "t.o_orderkey IS NOT NULL AS matched",
        "s.o_orderkey IS NOT NULL AS in_source",
        "coalesce(t.o_custkey, s.src_custkey) AS o_custkey",
        "coalesce(t.o_orderstatus, s.src_status) AS o_orderstatus",
        "coalesce(t.o_orderpriority, s.src_priority) AS o_orderpriority",
        "t.o_totalprice AS old_price",
        "s.new_price AS new_price",
    )
    # MERGE arm routing, delete arm first (statement order semantics)
    return (
        merged.where(
            ~(
                F.col("matched")
                & F.col("in_source")
                & (F.col("o_orderkey") % MERGE_DELETE_MOD == 0)
            )
        )
        .selectExpr(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            "round(CASE WHEN matched AND in_source THEN new_price"
            "            WHEN matched THEN old_price"
            "            ELSE new_price END, 6) AS price",
            "CASE WHEN matched AND in_source THEN 'U'"
            "     WHEN matched THEN 'K' ELSE 'I' END AS merge_action",
        )
        .orderBy("o_orderkey")
    )


def cdc_merge_into_sql() -> str:
    return f"""
    WITH target AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM orders
    ), source AS (
        SELECT o_orderkey, o_totalprice * {MERGE_PRICE_SCALE} AS new_price,
               NULL::BIGINT AS src_custkey, NULL::VARCHAR AS src_status,
               NULL::VARCHAR AS src_priority
        FROM target
        WHERE o_orderkey % {MERGE_UPDATE_MOD} = 0
           OR o_orderkey % {MERGE_DELETE_MOD} = 0
        UNION ALL
        SELECT o_orderkey + (SELECT max(o_orderkey) FROM target),
               o_totalprice, o_custkey, 'N', '5-LOW'
        FROM target WHERE o_orderkey % 17 = 0
    ), j AS (
        SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               t.o_orderkey IS NOT NULL AS matched,
               s.o_orderkey IS NOT NULL AS in_source,
               coalesce(t.o_custkey, s.src_custkey) AS o_custkey,
               coalesce(t.o_orderstatus, s.src_status) AS o_orderstatus,
               coalesce(t.o_orderpriority, s.src_priority) AS o_orderpriority,
               t.o_totalprice AS old_price,
               s.new_price AS new_price
        FROM target t FULL OUTER JOIN source s
          ON t.o_orderkey = s.o_orderkey
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
           round(CASE WHEN matched AND in_source THEN new_price
                      WHEN matched THEN old_price
                      ELSE new_price END, 6) AS price,
           CASE WHEN matched AND in_source THEN 'U'
                WHEN matched THEN 'K' ELSE 'I' END AS merge_action
    FROM j
    WHERE NOT (matched AND in_source AND o_orderkey % {MERGE_DELETE_MOD} = 0)
    ORDER BY o_orderkey
    """
