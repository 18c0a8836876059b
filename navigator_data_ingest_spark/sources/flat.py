"""Flat-file connector round-trip: CSV with explicit schema.

The reference only ever reads JSON objects from S3; a 100 TB engine
also meets CSV landing zones. The round-trip query proves the
connector pair is LOSSLESS for the typed columns it carries: write
through the CSV sink, read back through the CSV source with an
EXPLICIT schema (schema inference is a full extra pass at scale — never
infer in production), hash-compare against the parquet-sourced oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from navigator_data_ingest_spark.sources.sinks import sink_path
from navigator_data_ingest_spark.sources.tables import load_table, path_stamp
from navigator_data_ingest_spark.streaming.streams import scoped_conf

ORDERS_CSV_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
        StructField("o_orderpriority", StringType()),
    ]
)


def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> CSV dataset -> explicit-schema read-back.

    Timestamps serialize as ISO-8601 (``timestampFormat`` pinned on both
    sides so the round trip is locale/version independent); doubles use
    Spark's shortest-round-trip representation, bit-exact on re-read.
    """
    out = sink_path("orders_csv", sf_dir)
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    (
        load_table(spark, sf_dir, "orders")
        .select(*[f.name for f in ORDERS_CSV_SCHEMA.fields])
        .write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", fmt)
        .csv(out)
    )
    return (
        spark.read.schema(ORDERS_CSV_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", fmt)
        .csv(out)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 6).alias("total_price"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


DOCUMENTS_JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> JSON-lines dataset -> explicit-schema read-back.

    JSONL is the lingua franca of LLM training corpora (one document
    object per line, splittable, append-friendly); the round trip
    proves the connector pair is lossless INCLUDING the text payload —
    ``text_md5`` in the output hash-compares every byte of every
    document against the parquet-sourced oracle, so JSON string
    escaping (quotes, unicode) is covered, not just the typed columns.
    As with CSV, the read side always carries an explicit schema:
    inference is a full extra pass over 100 TB.
    """
    out = sink_path("documents_jsonl", sf_dir)
    (
        load_table(spark, sf_dir, "documents")
        .select(*[f.name for f in DOCUMENTS_JSONL_SCHEMA.fields])
        .write.mode("overwrite")
        .json(out)
    )
    return (
        spark.read.schema(DOCUMENTS_JSONL_SCHEMA)
        .json(out)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.md5("text").alias("text_md5"),
        )
        .orderBy("doc_id")
    )


LINEITEM_ORC_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_returnflag", StringType()),
        # parquet writes these as isAdjustedToUTC=false -> Spark NTZ;
        # the ORC read schema must match or the scan refuses the cast
        StructField("l_shipdate", TimestampNTZType()),
    ]
)


def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> ORC dataset -> explicit-schema read-back.

    ORC is the third columnar interchange format a warehouse meets
    (Hive/Trino ecosystems); Spark ships the reader/writer natively.
    Types round-trip losslessly (int/long/double bit-exact, timestamps
    at micro precision), verified by hash-compare against the
    parquet-sourced oracle. Doubles pass through UNROUNDED — columnar
    formats store the IEEE bits, unlike the CSV text path.
    """
    out = sink_path("lineitem_orc", sf_dir)
    (
        load_table(spark, sf_dir, "lineitem")
        .select(*[f.name for f in LINEITEM_ORC_SCHEMA.fields])
        .write.mode("overwrite")
        .orc(out)
    )
    return (
        spark.read.schema(LINEITEM_ORC_SCHEMA)
        .orc(out)
        .orderBy("l_orderkey", "l_linenumber")
    )




def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store media ingestion via the ``binaryFile`` source — the
    entry point a real multimodal corpus has: one opaque object per
    asset, read DISTRIBUTED with content + metadata columns.

    Round trip: the multimodal table's payloads are exported one file
    per document (a side-effecting ``mapInPandas`` export stage — the
    shape of any media-object sink), then read back with
    ``spark.read.format("binaryFile")``; doc identity is parsed from
    the file name and the payload is certified by md5 + byte length
    against the origin table (the oracle recomputes both from the
    source text, since the stub media payload is its utf-8 encoding).

    Scale notes: binaryFile parallelizes by file and enforces
    ``maxPartitionBytes``; at 100 TB the same reader ingests an S3
    prefix listing. The md5/length derivations happen JVM-side on the
    binary column — Python never touches the payload on the read path.
    """
    import os
    import shutil

    import pandas as pd

    from navigator_data_ingest_spark.operators.multimodal import multimodal_table

    # cache key includes the source table's stamp — regenerated
    # testdata at the same path gets a FRESH export dir instead of being
    # served stale payloads that happen to match on file count
    src = os.path.join(sf_dir, "documents.parquet")
    out = sink_path("binfiles", f"{sf_dir}|{path_stamp(src)}")
    # only non-empty payloads export: Spark's binaryFile reader SKIPS
    # 0-byte files at split planning, so a NULL/empty media doc can
    # never round-trip — the operator's contract is "one object per
    # non-empty asset", pinned in the oracle
    media = (
        multimodal_table(spark, sf_dir)
        .select("doc_id", "media")
        .where(F.length("media") > 0)
    )
    expected = media.count()
    have = (
        len([f for f in os.listdir(out) if f.endswith(".bin")])
        if os.path.isdir(out)
        else -1
    )
    if have != expected:
        # clear any partial/shrunken export: orphan doc{id}.bin files
        # from a larger previous table would otherwise survive the
        # rewrite and permanently add extra rows to every read
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)

        def _export(batches):
            n = 0
            for pdf in batches:
                for did, payload in zip(pdf["doc_id"], pdf["media"]):
                    with open(os.path.join(out, f"doc{did}.bin"), "wb") as fh:
                        # NULL media == empty object (decode-stub rule):
                        # the asset exists, its payload is 0 bytes
                        fh.write(bytes(payload) if payload is not None else b"")
                    n += 1
            yield pd.DataFrame({"n": [n]})

        media.mapInPandas(_export, schema="n long").agg(F.sum("n")).collect()

    read = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
    )
    return (
        read.select(
            F.regexp_extract(F.col("path"), r"doc(\d+)\.bin", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("payload_md5"),
        )
        .orderBy("doc_id")
    )


def src_binary_files_sql() -> str:
    # only non-empty payloads round-trip (binaryFile skips 0-byte files)
    return """
    SELECT doc_id,
           octet_length(encode(text))::bigint AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
    ORDER BY doc_id
    """


QUARANTINE_MOD = 7     # doc_id % MOD == QUARANTINE_REM lines are corrupted
QUARANTINE_REM = 3

QUARANTINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
        StructField("_corrupt", StringType()),
    ]
)


def src_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on JSONL ingest — the robustness
    contract a crawled corpus needs: malformed lines must neither kill
    the job (FAILFAST) nor vanish silently (DROPMALFORMED); PERMISSIVE
    mode parses what it can and captures the raw line in the corrupt-
    record column, and the pipeline routes rows by that flag.

    The fixture corrupts a deterministic subset (doc_id % {mod} == {rem}
    lines get an invalid leading byte) at write time; the audited output
    is the routing report — row count and payload volume per outcome —
    which the oracle recomputes from the clean table and the same
    corruption rule. Reading is one pass; routing is a map-side flag.
    """
    out = sink_path("documents_quarantine", sf_dir)
    line = F.to_json(
        F.struct("doc_id", "text", "lang", "source", "n_chars")
    )
    corrupt = (
        F.col("doc_id") % QUARANTINE_MOD == QUARANTINE_REM
    )
    (
        load_table(spark, sf_dir, "documents")
        .select(
            F.when(corrupt, F.concat(F.lit("X"), line)).otherwise(line).alias(
                "value"
            )
        )
        .write.mode("overwrite")
        .text(out)
    )
    parsed = (
        spark.read.schema(QUARANTINE_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    # the routing predicate references BOTH the corrupt column and a
    # parsed data column: a corrupt-column-only projection is disallowed
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) once column pruning strips the
    # rest, and a routed record should carry a parsed id anyway
    return (
        parsed.select(
            F.when(F.col("_corrupt").isNull() & F.col("doc_id").isNotNull(),
                   F.lit("ok"))
            .otherwise(F.lit("quarantined"))
            .alias("outcome"),
            F.length("text").alias("n"),
        )
        .groupBy("outcome")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("sum_chars"),
        )
        .orderBy("outcome")
    )


src_corrupt_quarantine.__doc__ = src_corrupt_quarantine.__doc__.format(
    mod=QUARANTINE_MOD, rem=QUARANTINE_REM
)


def src_corrupt_quarantine_sql() -> str:
    return f"""
    WITH r AS (
        SELECT CASE WHEN doc_id % {QUARANTINE_MOD} = {QUARANTINE_REM}
                    THEN 'quarantined' ELSE 'ok' END AS outcome,
               length(text) AS n
        FROM documents
    )
    SELECT outcome, count(*)::bigint AS n_rows,
           (CASE WHEN outcome = 'quarantined' THEN NULL
                 ELSE sum(n) END)::bigint AS sum_chars
    FROM r GROUP BY outcome ORDER BY outcome
    """


# --------------------------------------------------------------------------
# compression-codec round trip
# --------------------------------------------------------------------------

CODECS = ("snappy", "gzip", "zstd")


def src_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec round trip: the same projection written
    under snappy / gzip / zstd, each read back and reduced to identical
    integer invariants — codec choice is the cheapest storage/scan-cost
    knob on a 100 TB table and must be provably value-neutral. (zstd is
    the modern default: gzip-class ratios at snappy-class decode; the
    invariant rows certify that switching is purely physical.)
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").alias(
            "price_cents"
        ),
    )
    parts = []
    for codec in CODECS:
        out = sink_path(f"codec_{codec}", sf_dir)
        li.write.mode("overwrite").option("compression", codec).parquet(out)
        back = spark.read.parquet(out)
        parts.append(
            back.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("price_cents").alias("cents_total"),
                F.expr("sum(l_orderkey * l_linenumber)").alias("key_weave"),
            )
            .select(F.lit(codec).alias("codec"), "n_rows", "cents_total", "key_weave")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("codec")


def src_codec_roundtrip_sql() -> str:
    one = """
        SELECT '{codec}' AS codec, count(*)::bigint AS n_rows,
               sum(floor(l_extendedprice * 100 + 0.5))::bigint AS cents_total,
               sum(l_orderkey * l_linenumber)::bigint AS key_weave
        FROM lineitem
    """
    return (
        " UNION ALL ".join(one.format(codec=c) for c in CODECS)
        + " ORDER BY codec"
    )


# --------------------------------------------------------------------------
# parquet aggregate pushdown (metadata-served count/min/max)
# --------------------------------------------------------------------------

def src_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/min/max served from parquet FOOTER STATISTICS instead of a
    row scan — ``spark.sql.parquet.aggregatePushdown`` rewrites the
    whole-table aggregate into a metadata read (the plan shows a
    ``PushedAggregation`` scan and no per-row work). At 100 TB the
    difference is reading a few thousand footers versus the table; the
    lakehouse pattern for freshness checks, id ranges and row-count
    reconciliation.

    The pushdown needs TWO session configs live at scan PLANNING time
    (``spark.sql.parquet.aggregatePushdown=true`` and parquet removed
    from ``spark.sql.sources.useV1SourceList`` — only the DSv2 reader
    implements it), and the v2 switch is session-global — flipping it
    under a shared session would silently change every OTHER parquet
    scan (and break bucketed reads, which are v1-only). So the registry
    entry certifies the aggregate's VALUES on the default reader, and
    ``tests/test_plan_shape.py::test_agg_pushdown_scan`` pins the
    ``PushedAggregation`` plan under the scoped configs via
    ``build_pushdown_plan`` — the deployment recipe is exactly those
    two settings on the session that owns the reconciliation job.
    """
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
        F.min("o_orderdate").alias("first_orderdate"),
        F.max("o_orderdate").alias("last_orderdate"),
    )


def build_pushdown_plan(spark: SparkSession, sf_dir: str) -> str:
    """Build the same aggregate with the DSv2 reader + aggregate
    pushdown enabled and return its formatted physical plan (configs
    restored afterwards); the caller asserts on ``PushedAggregation``."""
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    v1 = [s for s in (prev_v1 or "").split(",") if s and s != "parquet"]
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": ",".join(v1),
    }
    with scoped_conf(spark, confs):
        df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        plan = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        rows = df.collect()  # values must survive the metadata path
        if rows[0]["n_rows"] <= 0:
            raise RuntimeError("pushdown aggregate returned no rows")
        return plan


def src_agg_pushdown_sql() -> str:
    return """
    SELECT count(*)::bigint AS n_rows,
           min(o_orderkey)  AS min_orderkey,
           max(o_orderkey)  AS max_orderkey,
           min(o_orderdate) AS first_orderdate,
           max(o_orderdate) AS last_orderdate
    FROM orders
    """


def src_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` column certification: every file-based
    source exposes per-row provenance (file path/name/size/mtime,
    row_index) without any extra scan cost — the lineage column a
    100 TB pipeline threads through quarantine, replay, and
    incremental-compaction decisions instead of parsing paths.

    The audit aggregates prove the semantics exactly and are
    PERMUTATION-INVARIANT (certified under the shuffled-row fixture
    too): row_index covers exactly the set {0..n-1} per file
    (min/max/sum/countDistinct match the closed forms — no assumption
    that physical order tracks doc_id), and the file name/size columns
    match the scanned table.
    """
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id",
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.file_size").alias("fsize"),
        F.col("_metadata.row_index").alias("ri"),
    )
    # empty-corpus convention: the ok-counters and the row-index SUM
    # coalesce to the 0 the oracle's closed forms yield over zero rows;
    # min/max row-index stay NULL (undefined) and the oracle mirrors
    # that with CASE guards on count(*).
    return df.agg(
        F.countDistinct("fname").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum((F.col("fname") == "documents.parquet").cast("int")), F.lit(0)
        )
        .cast("bigint")
        .alias("n_name_ok"),
        F.coalesce(F.sum((F.col("fsize") > 0).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_size_ok"),
        F.min("ri").cast("bigint").alias("min_ri"),
        F.max("ri").cast("bigint").alias("max_ri"),
        F.coalesce(F.sum("ri"), F.lit(0)).cast("bigint").alias("sum_ri"),
        F.countDistinct("ri").cast("bigint").alias("n_ri_distinct"),
    )


def src_file_metadata_sql() -> str:
    # least(1, count(*)) and the CASE guards make the closed forms hold
    # on a ZERO-ROW table too (no file scanned -> 0 files, undefined
    # min/max row-index -> NULL), mirroring the Spark aggregates.
    return """
    SELECT least(1, count(*))::BIGINT AS n_files,
           count(*)::BIGINT AS n_rows,
           count(*)::BIGINT AS n_name_ok,
           count(*)::BIGINT AS n_size_ok,
           CASE WHEN count(*) > 0 THEN 0::BIGINT END AS min_ri,
           CASE WHEN count(*) > 0 THEN (count(*) - 1)::BIGINT END AS max_ri,
           (count(*) * (count(*) - 1) / 2)::BIGINT AS sum_ri,
           count(*)::BIGINT AS n_ri_distinct
    FROM documents
    """


def q_analyze_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE / catalog-statistics certification: the CBO
    surface a deployment feeds before big joins — compute table- and
    column-level stats on a managed copy of orders, read them back
    through DESCRIBE EXTENDED, and emit the EXACT stats (row count,
    min/max/null counts) for the oracle to recompute from the data.
    approx distinct_count is deliberately excluded (HLL estimates are
    engine-specific). The catalog round-trip is metadata-sized; stats
    strings are parsed driver-side and re-emitted as typed literals.
    Table name is pid-scoped (repo scratch rule).
    """
    import re as _re

    tbl = f"nav_colstats_{os.getpid()}"
    (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .write.mode("overwrite")
        .saveAsTable(tbl)
    )
    try:
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        spark.sql(
            f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS "
            "o_totalprice, o_orderdate"
        )
        price = {
            r[0]: r[1]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl} o_totalprice").collect()
        }
        date = {
            r[0]: r[1]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl} o_orderdate").collect()
        }
        stats_row = [
            r[1]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
            if r[0] == "Statistics"
        ][0]
        n_rows = int(_re.search(r"(\d+) rows", stats_row).group(1))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # catalog stats surface 'NULL' strings for min/max of an empty (or
    # all-NULL) column — emit real NULLs, matching the oracle's
    # min()/max() over the same rows
    def _fnum(v: str | None) -> float | None:
        return None if v in (None, "NULL") else float(v)

    def _fdate(v: str | None) -> str | None:
        return None if v in (None, "NULL") else v[:19]

    return spark.range(1).select(
        F.lit(n_rows).cast("bigint").alias("n_rows"),
        F.round(F.lit(_fnum(price["min"])).cast("double"), 6).alias("price_min"),
        F.round(F.lit(_fnum(price["max"])).cast("double"), 6).alias("price_max"),
        F.lit(int(price["num_nulls"])).cast("bigint").alias("price_nulls"),
        F.lit(_fdate(date["min"])).cast("string").alias("date_min"),
        F.lit(_fdate(date["max"])).cast("string").alias("date_max"),
        F.lit(int(date["num_nulls"])).cast("bigint").alias("date_nulls"),
    )


def q_analyze_column_stats_sql() -> str:
    return """
    SELECT count(*)::BIGINT AS n_rows,
           round(min(o_totalprice), 6) AS price_min,
           round(max(o_totalprice), 6) AS price_max,
           coalesce(sum((o_totalprice IS NULL)::INT), 0)::BIGINT AS price_nulls,
           cast(min(o_orderdate) as varchar) AS date_min,
           cast(max(o_orderdate) as varchar) AS date_max,
           coalesce(sum((o_orderdate IS NULL)::INT), 0)::BIGINT AS date_nulls
    FROM orders
    """


FOOTER_TABLES = ("orders", "lineitem", "documents")


def src_parquet_footer_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER census without scanning data: per row group the
    row count, column-chunk count and compressed byte size — the
    physical-layout audit behind every pruning/compaction decision (are
    row groups sized for min/max skipping? is a table fragmented into
    tiny groups?). At 100 TB this is the O(files) metadata pass a
    maintenance job runs nightly; pytest-certified against DuckDB's
    parquet_metadata() reading the SAME footers
    (tests/test_sources.py::test_parquet_footer_stats_pinned).

    The file list parallelizes across the cluster and each task opens
    ONLY footers (pyarrow metadata reads — no column data I/O);
    mapInPandas keeps it Arrow-batched. Output is the (file, row_group)
    grid — bounded by physical layout, not row count. The registered
    ``src_parquet_footer_stats`` reduces this grid to what the driver's
    view-only DuckDB oracle can recompute.
    """
    import pandas as pd

    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in FOOTER_TABLES]

    def footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                base = os.path.basename(p)
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    rows.append(
                        (
                            base,
                            i,
                            rg.num_columns,
                            rg.num_rows,
                            sum(
                                rg.column(c).total_compressed_size
                                for c in range(rg.num_columns)
                            ),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file_name",
                    "row_group_id",
                    "n_cols",
                    "rg_rows",
                    "compressed_bytes",
                ],
            )

    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths)
    )
    out = files.mapInPandas(
        footers,
        "file_name string, row_group_id int, n_cols int, rg_rows bigint,"
        " compressed_bytes bigint",
    )
    return out.select(
        "file_name",
        F.col("row_group_id").cast("bigint").alias("row_group_id"),
        F.col("n_cols").cast("bigint").alias("n_cols"),
        "rg_rows",
        "compressed_bytes",
    ).orderBy("file_name", "row_group_id")


def src_parquet_footer_grid_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB twin of the full grid via parquet_metadata() on the same
    footers — path-bound, so it is the PYTEST oracle (the driver's
    DuckDB sees only table views)."""
    selects = " UNION ALL ".join(
        f"""SELECT '{t}.parquet' AS file_name, row_group_id::BIGINT AS row_group_id,
               count(*)::BIGINT AS n_cols,
               max(row_group_num_rows)::BIGINT AS rg_rows,
               sum(total_compressed_size)::BIGINT AS compressed_bytes
        FROM parquet_metadata('{sf_dir}/{t}.parquet')
        GROUP BY row_group_id"""
        for t in FOOTER_TABLES
    )
    return f"SELECT * FROM ({selects}) ORDER BY file_name, row_group_id"


def src_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable surface of the footer census:
    a FILE-level footer pass (pyarrow metadata: num_rows, leaf column
    count — present even for a zero-row-group file) joined against the per-row-group grid
    (``src_parquet_footer_grid``), emitting what a VIEW-only DuckDB
    oracle can recompute — total rows (== count(*) on the view),
    leaf-column count (== view width on these flat tables) — plus
    layout invariants any healthy footer satisfies: the grid's
    row-group sums RECONCILE with the file-level count, column counts
    are uniform across row groups, row/byte sizes positive (all
    vacuously true for an empty file). A footer misread, dropped row
    group, or row-accounting bug flips a hashed value; the exact grid
    stays pytest-pinned against pyarrow AND parquet_metadata().
    """
    import pandas as pd

    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in FOOTER_TABLES]

    def file_facts(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                rows.append((os.path.basename(p), md.num_rows, md.num_columns))
            yield pd.DataFrame(
                rows, columns=["file_name", "total_rows", "n_cols"]
            )

    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths)
    )
    facts = files.mapInPandas(
        file_facts, "file_name string, total_rows bigint, n_cols bigint"
    )
    grid_agg = (
        src_parquet_footer_grid(spark, sf_dir)
        .groupBy("file_name")
        .agg(
            F.sum("rg_rows").alias("_grid_rows"),
            (F.min("n_cols") == F.max("n_cols")).alias("_cols_uniform"),
            F.every(F.col("rg_rows") > 0).alias("_rg_rows_positive"),
            F.every(F.col("compressed_bytes") > 0).alias("_bytes_positive"),
        )
    )
    return (
        facts.join(F.broadcast(grid_agg), "file_name", "left")
        .select(
            "file_name",
            "total_rows",
            "n_cols",
            (F.coalesce(F.col("_grid_rows"), F.lit(0)) == F.col("total_rows"))
            .alias("rows_reconcile"),
            F.coalesce("_cols_uniform", F.lit(True)).alias("cols_uniform"),
            F.coalesce("_rg_rows_positive", F.lit(True)).alias("rg_rows_positive"),
            F.coalesce("_bytes_positive", F.lit(True)).alias("bytes_positive"),
        )
        .orderBy("file_name")
    )


def src_parquet_footer_stats_sql() -> str:
    """View-only invariant oracle: the parquet footers' row accounting
    must reconcile with count(*) on each registered view, and the leaf
    column count with the view schema (flat tables: leaf == logical)."""
    selects = " UNION ALL ".join(
        f"""SELECT '{t}.parquet' AS file_name,
               count(*)::BIGINT AS total_rows,
               (SELECT count(*) FROM (DESCRIBE {t}))::BIGINT AS n_cols,
               true AS rows_reconcile,
               true AS cols_uniform,
               true AS rg_rows_positive,
               true AS bytes_positive
        FROM {t}"""
        for t in FOOTER_TABLES
    )
    return f"SELECT * FROM ({selects}) ORDER BY file_name"


SCHEMA_EVO_CUT_YEAR = 1996


def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read surface: two parquet generations of the
    orders feed — v1 without and v2 WITH a later-added column
    (priority_rank) — read back in ONE ``mergeSchema`` scan, certified
    by per-generation row counts and the exact NULL census of the
    late-added column (v1 rows surface it as NULL — the contract every
    long-lived 100 TB dataset depends on when columns are added
    mid-stream).

    The generations derive DETERMINISTICALLY from orders (order year
    before/after the cut), so the oracle recomputes the audit from the
    table without seeing the scratch files. Writes are pid-scoped
    scratch (repo rule).
    """
    from navigator_data_ingest_spark.sources.sinks import sink_path

    out = sink_path("schemaevo", sf_dir)
    o = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .where(F.col("o_orderdate").isNotNull())
        .select(
            "o_orderkey",
            "o_totalprice",
            "o_orderpriority",
            F.year("o_orderdate").alias("yr"),
        )
    )
    v1 = o.where(F.col("yr") < SCHEMA_EVO_CUT_YEAR).select(
        "o_orderkey", "o_totalprice"
    )
    # priority_rank is NULL-free in v2 (coalesce 0): the merged-read
    # audit identifies v1 rows by the column being NULL, so a NULL
    # INSIDE v2 (null-injected priority) must not masquerade as v1
    v2 = o.where(F.col("yr") >= SCHEMA_EVO_CUT_YEAR).select(
        "o_orderkey",
        "o_totalprice",
        F.expr(
            "coalesce(cast(substring(o_orderpriority, 1, 1) as int), 0)"
        ).alias("priority_rank"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "v1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "v2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "v1"), os.path.join(out, "v2")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("priority_rank").isNull().cast("bigint")).alias(
            "n_v1_rows_null_col"
        ),
        F.sum(F.col("priority_rank").isNotNull().cast("bigint")).alias(
            "n_v2_rows"
        ),
        F.sum(F.coalesce(F.col("priority_rank"), F.lit(0))).alias(
            "priority_rank_sum"
        ),
        F.sum(
            F.expr("cast(round(o_totalprice * 100) as bigint)")
        ).alias("total_cents"),
    )


def src_schema_evolution_sql() -> str:
    return f"""
    WITH o AS (
        SELECT o_orderkey, o_totalprice,
               coalesce(substring(o_orderpriority, 1, 1)::INT, 0) AS pr,
               year(o_orderdate) AS yr
        FROM orders WHERE o_orderdate IS NOT NULL
    )
    SELECT count(*)::BIGINT AS n_rows,
           sum((yr < {SCHEMA_EVO_CUT_YEAR})::INT)::BIGINT
               AS n_v1_rows_null_col,
           sum((yr >= {SCHEMA_EVO_CUT_YEAR})::INT)::BIGINT AS n_v2_rows,
           sum(CASE WHEN yr >= {SCHEMA_EVO_CUT_YEAR} THEN pr ELSE 0 END)::BIGINT
               AS priority_rank_sum,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents
    FROM o
    """


CENSUS_TABLES = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def q_catalog_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot catalog census across every keyed table: row count,
    distinct primary-key count and the key-uniqueness flag — the
    freshness/integrity dashboard a warehouse job publishes after each
    load (a duplicate key in any table is the first thing to page on).

    Each table contributes one bounded aggregate; the union is
    metadata-sized. A real deployment fans the per-table jobs out —
    here they compose into one plan so the whole census certifies in
    one compare. Scans prune to the key column only.
    """
    parts = []
    for t, k in sorted(CENSUS_TABLES.items()):
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(k).alias("n_keys"),
            ).select(
                "table_name",
                "n_rows",
                "n_keys",
                (F.col("n_rows") == F.col("n_keys")).alias("key_unique"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


def q_catalog_census_sql() -> str:
    selects = " UNION ALL ".join(
        f"""SELECT '{t}' AS table_name, count(*)::BIGINT AS n_rows,
               count(DISTINCT {k})::BIGINT AS n_keys,
               count(*) = count(DISTINCT {k}) AS key_unique
        FROM {t}"""
        for t, k in sorted(CENSUS_TABLES.items())
    )
    return f"SELECT * FROM ({selects}) ORDER BY table_name"


def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.write.text`` / ``spark.read.text`` round-trip — the
    line-oriented plain-text source every raw-corpus drop ships as
    (one document per line). Documents serialize as
    ``doc_id<TAB>text`` with newlines/tabs escaped to keep the record
    a single line (the format's contract), read back as raw ``value``
    lines, then certified content-wise: line count, distinct-key
    count, and a commutative portable-hash checksum over the exact
    line strings — the oracle recomputes all three from the source
    table, so truncation, mangled escaping or a dropped partition file
    all surface as a checksum mismatch.
    """
    from navigator_data_ingest_spark.functions import exprs as X

    out = sink_path("documents_txt", sf_dir)
    # \r is escaped too: spark.read.text's default lineSep splits on
    # \r and \r\n as well as \n, so an unescaped carriage return would
    # split one record into two on read-back.
    esc = (
        "concat(cast(doc_id as string), '\\t',"
        " replace(replace(replace(replace(coalesce(text, ''),"
        " '\\\\', '\\\\\\\\'), '\\t', '\\\\t'), '\\r', '\\\\r'),"
        " '\\n', '\\\\n'))"
    )
    (
        load_table(spark, sf_dir, "documents")
        .selectExpr(f"{esc} AS value")
        .write.mode("overwrite")
        .text(out)
    )
    lines = spark.read.text(out)
    h = X.sp_hash32("value", "txtline")
    # DECIMAL(38,0) accumulator (a BIGINT sum of 2^32-range hashes
    # overflows past ~2^31 rows — the checksum-manifest discipline),
    # emitted as STRING: neither engine's wide-integer surface maps to
    # the other's (Spark decimal(38,0) vs DuckDB HUGEINT), so both emit
    # identical decimal-string bytes.
    return lines.selectExpr(
        "count(*) AS n_lines",
        "count(DISTINCT split(value, '\\t', 2)[0]) AS n_doc_ids",
        f"cast(sum(cast({h} as decimal(38,0))) as string)"
        " AS line_checksum",
    )


def src_text_lines_sql() -> str:
    from navigator_data_ingest_spark.functions import exprs as X

    esc = (
        "doc_id::VARCHAR || chr(9) ||"
        " replace(replace(replace(replace(coalesce(text, ''),"
        " '\\', '\\\\'), chr(9), '\\t'), chr(13), '\\r'), chr(10), '\\n')"
    )
    h = X.dk_hash32("line", "txtline")
    return f"""
    WITH l AS (
        SELECT {esc} AS line, doc_id FROM documents
    )
    SELECT count(*)::BIGINT AS n_lines,
           count(DISTINCT doc_id)::BIGINT AS n_doc_ids,
           sum(({h})::HUGEINT)::VARCHAR AS line_checksum
    FROM l
    """


def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> XML dataset -> explicit-schema read-back, on
    Spark 4's BUILT-IN XML source (the spark-xml package folded into
    core in 4.0 — no external jar). XML is what regulatory/patent/
    legal corpora actually arrive as; the round trip proves the
    connector pair is lossless INCLUDING the text payload — XML entity
    escaping (&, <, >, quotes) is exactly what ``text_md5`` hash-covers
    beyond the typed columns. As with CSV/JSONL, the read side carries
    an explicit schema: inference is a full extra pass over 100 TB.
    """
    out = sink_path("documents_xml", sf_dir)
    (
        load_table(spark, sf_dir, "documents")
        .select(*[f.name for f in DOCUMENTS_JSONL_SCHEMA.fields])
        .write.mode("overwrite")
        .option("rootTag", "documents")
        .option("rowTag", "document")
        .xml(out)
    )
    return (
        spark.read.schema(DOCUMENTS_JSONL_SCHEMA)
        .option("rowTag", "document")
        .xml(out)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.md5("text").alias("text_md5"),
        )
        .orderBy("doc_id")
    )
