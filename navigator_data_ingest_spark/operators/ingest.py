"""Ingest-pipeline operators: the reference's semantics as DataFrame ops.

Reference: climatepolicyradar/navigator-data-ingest. Each operator cites
the file:line it re-expresses. The reference loops over documents on a
thread pool and mutates S3 objects one at a time; here every step is a
column expression / join over a documents table, so the identical logic
runs as one distributed plan over any corpus size — no driver-side
iteration, no per-document Python.

Because the correctness driver only provides the synthetic parquet
tables, the operators run over a deterministic "new_documents" /
"updates" derivation of the ``documents`` table. The derivation is
defined twice — once as Spark expressions, once as a DuckDB CTE — and
hash-compared, so the operator logic itself is what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.content import (
    CONTENT_TYPE_DOC,
    CONTENT_TYPE_DOCX,
    CONTENT_TYPE_HTML,
    CONTENT_TYPE_PDF,
    detect_content_type,
    upload_file_name,
)
from navigator_data_ingest_spark.functions.text import (
    optional_http_url,
    slugify_col,
    watermark_text_col,
)
from navigator_data_ingest_spark.sources.tables import load_table, scatter

# ---------------------------------------------------------------------------
# deterministic synthetic "new_documents" derivation (shared w/ oracle CTE)
# ---------------------------------------------------------------------------

GEOGRAPHIES = ["IDN", "USA", "GBR", "FRA", "DEU", "BRA", "IND", "CHN"]
CATEGORIES = ["executive", "legislative", "litigation"]
HEADERS = [
    "application/pdf",
    "text/html; charset=utf-8",
    "application/msword",
    "",
    "application/octet-stream",
]
# file heads, hex-encoded: pdf, docx(zip), doc(ole2), html, plain text
HEAD_HEXES = [
    "%PDF-1.7\n".encode().hex().upper(),
    bytes.fromhex("504B0304").hex().upper() + "14000600",
    "D0CF11E0A1B11AE1" + "00000000",
    "<!DOCTYPE html><html>".encode().hex().upper(),
    "Some plain text content".encode().hex().upper(),
]
# update types cycle (reference UpdateTypes)
UPDATE_TYPES = [
    "name",
    "description",
    "source_url",
    "metadata",
    "slug",
    "reprocess",
    "reparse",
]
# UpdateTypes -> action (updated_document_actions.py:453)
ACTION_OF_TYPE = {
    "source_url": "parse",
    "reprocess": "parse",
    "name": "update_dont_parse",
    "description": "update_dont_parse",
    "metadata": "update_dont_parse",
    "slug": "update_field_in_all_occurences",
    "reparse": "reparse",
}
# UpdateTypes -> json field (types.py:63 PipelineFieldMapping)
PIPELINE_FIELD = {
    "name": "document_name",
    "description": "document_description",
    "source_url": "document_source_url",
    "metadata": "document_metadata",
    "slug": "document_slug",
}
# category -> backend document type (types.py:40 CATEGORY_MAPPING)
CATEGORY_DOC_TYPE = {
    "executive": "Policy",
    "legislative": "Law",
    "litigation": "Litigation",
}
# content types the pipeline can turn into a PDF (api_client.py:74-97)
SUPPORTED_CONTENT_TYPES = (
    CONTENT_TYPE_PDF, CONTENT_TYPE_HTML, CONTENT_TYPE_DOCX, CONTENT_TYPE_DOC
)

ARCHIVE_TS = "2026-01-01-00-00-00"  # fixed for determinism (ref uses now())


def _spark_pick(options: list[str], idx: str) -> str:
    lits = ", ".join("'" + o.replace("'", "\\'") + "'" for o in options)
    return f"element_at(array({lits}), cast({idx} % {len(options)} as int) + 1)"


def synthetic_new_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BackendDocument-shaped rows from the documents table.

    Mirrors NEW_DOCS_CTE below field-for-field; the pair is what lets
    DuckDB replay the same inputs for the oracle comparison. Built as
    ONE selectExpr: the Column-API form was ~250 py4j round trips per
    instantiation (~1.7 s of driver time, re-paid by every composed
    query that starts from the synthetic input).
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents"))
    ds = "cast(doc_id as string)"
    return docs.selectExpr(
        "doc_id",
        "text",
        f"'TEST.executive.' || {ds} || '.' || {ds} AS import_id",
        "trim(substring(text, 1, 80)) AS name",
        "trim(substring(text, 81, 160)) AS description",
        f"'slug-' || {ds} AS slug",
        "make_timestamp(cast(1990 + doc_id % 35 as int),"
        " cast(doc_id % 12 as int) + 1, cast(doc_id % 28 as int) + 1,"
        " 0, 0, 0) AS publication_ts",
        f"{_spark_pick(GEOGRAPHIES, 'doc_id')} AS geography",
        f"{_spark_pick(CATEGORIES, 'doc_id')} AS category",
        # invalid (non-http) URLs on the %13 stripe exercise validation
        f"CASE WHEN doc_id % 13 = 0 AND doc_id % 6 <> 5"
        f" THEN 'ftp://example.com/doc' || {ds}"
        f" WHEN doc_id % 6 = 0 THEN 'https://example.com/docs/doc' || {ds} || '.pdf'"
        f" WHEN doc_id % 6 = 1 THEN 'https://example.com/pages/page' || {ds} || '.html'"
        f" WHEN doc_id % 6 = 2 THEN 'https://example.com/docs/doc' || {ds} || '.docx'"
        f" WHEN doc_id % 6 = 3 THEN 'https://example.com/docs/doc' || {ds} || '.doc'"
        f" WHEN doc_id % 6 = 4 THEN 'https://example.com/files/file' || {ds}"
        f" ELSE cast(NULL as string) END AS source_url",
        f"CASE WHEN doc_id % 4 = 0 THEN cast(NULL as string)"
        f" ELSE 'https://cdn.example.com/dl/doc' || {ds} || '.pdf' END"
        f" AS download_url",
        f"{_spark_pick(HEADERS, 'doc_id')} AS header",
        f"{_spark_pick(HEAD_HEXES, 'doc_id')} AS head_hex",
    )


def _sql_pick(options: list[str], idx: str) -> str:
    lits = ", ".join("'" + o.replace("'", "''") + "'" for o in options)
    return f"([{lits}])[1 + {idx} % {len(options)}]"


NEW_DOCS_CTE = f"""
new_docs AS (
    SELECT doc_id, text,
           'TEST.executive.' || doc_id || '.' || doc_id AS import_id,
           trim(substr(text, 1, 80))   AS name,
           trim(substr(text, 81, 160)) AS description,
           'slug-' || doc_id           AS slug,
           make_timestamp(1990 + doc_id % 35, 1 + doc_id % 12,
                          1 + doc_id % 28, 0, 0, 0) AS publication_ts,
           {_sql_pick(GEOGRAPHIES, 'doc_id')} AS geography,
           {_sql_pick(CATEGORIES, 'doc_id')} AS category,
           CASE WHEN doc_id % 13 = 0 AND doc_id % 6 <> 5
                THEN 'ftp://example.com/doc' || doc_id
                WHEN doc_id % 6 = 0 THEN 'https://example.com/docs/doc' || doc_id || '.pdf'
                WHEN doc_id % 6 = 1 THEN 'https://example.com/pages/page' || doc_id || '.html'
                WHEN doc_id % 6 = 2 THEN 'https://example.com/docs/doc' || doc_id || '.docx'
                WHEN doc_id % 6 = 3 THEN 'https://example.com/docs/doc' || doc_id || '.doc'
                WHEN doc_id % 6 = 4 THEN 'https://example.com/files/file' || doc_id
                ELSE NULL END AS source_url,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE 'https://cdn.example.com/dl/doc' || doc_id || '.pdf' END AS download_url,
           {_sql_pick(HEADERS, 'doc_id')} AS header,
           {_sql_pick(HEAD_HEXES, 'doc_id')} AS head_hex
    FROM documents
)
"""

# ---------------------------------------------------------------------------
# synthetic updates derivation
# ---------------------------------------------------------------------------


def synthetic_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (doc_id, document_id, updates) rows, one per document:
    ``updates`` holds 1-3 ``struct(type)`` Updates, the one at 1-based
    position ``seq`` of type ``UPDATE_TYPES[(doc_id + seq) % 7]``. A null
    doc_id has a null ``updates``. One selectExpr pass (see
    synthetic_new_documents on py4j depth).

    Not scattered: every consumer re-distributes almost immediately (a
    presentation orderBy or a per-document aggregation), so a repartition
    here would be an extra exchange in all of them."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ds = "cast(doc_id as string)"
    return docs.selectExpr(
        "doc_id",
        f"'TEST.executive.' || {ds} || '.' || {ds} AS document_id",
        "transform(sequence(1, cast(doc_id % 3 as int) + 1), seq ->"
        f" named_struct('type', {_spark_pick(UPDATE_TYPES, '(doc_id + seq)')}))"
        " AS updates",
    )


UPDATES_CTE = f"""
updates AS (
    SELECT doc_id,
           'TEST.executive.' || doc_id || '.' || doc_id AS document_id,
           unnest(generate_series(1, 1 + doc_id % 3)) AS seq
    FROM documents
), typed_updates AS (
    SELECT doc_id, document_id, seq::int AS seq,
           {_sql_pick(UPDATE_TYPES, '(doc_id + seq)')} AS update_type
    FROM updates
)
"""


def _case_sql(key: str, mapping: dict[str, str]) -> str:
    """SQL text ``CASE WHEN key = 'k' THEN 'v' ... END`` over ``mapping``,
    in its order; Spark SQL and DuckDB both read it."""
    return "CASE " + " ".join(
        f"WHEN {key} = '{k}' THEN '{v}'" for k, v in mapping.items()
    ) + " END"


ACTION_CASE_SQL = _case_sql("update_type", ACTION_OF_TYPE)


def _updated_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct document_ids of ``synthetic_updates`` that carry at
    least one update.

    synthetic_updates gives every non-null doc_id 1..3 updates and a null
    one none (a null sequence bound is a null array), so this is the
    documents table's distinct non-null doc_ids.
    """
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id").isNotNull())
        .distinct()
        .selectExpr(
            "'TEST.executive.' || cast(doc_id as string) || '.'"
            " || cast(doc_id as string) AS document_id"
        )
    )


# ---------------------------------------------------------------------------
# ingest rules, each defined once
#
# The rules main.run_batch shares with the registry keys are Spark SQL
# text in selectExpr / where: a Column expression costs a py4j round trip
# per node, and these rules are rebuilt for every batch.
# ---------------------------------------------------------------------------


def fetch_url_col() -> Column:
    """The URL a new document is fetched from (new_document_actions.py:35-48):
    download_url when non-empty, else source_url when non-empty, else null."""
    return F.coalesce(
        F.nullif(F.col("download_url"), F.lit("")),
        F.nullif(F.col("source_url"), F.lit("")),
    )


def upload_prefix_col() -> Column:
    """Upload prefix ``{geography}/{publication year}`` (new_document_actions.py:31)."""
    return F.concat(
        F.col("geography"), F.lit("/"), F.year("publication_ts").cast("string")
    )


def upload_name_col(md5_sum: Column) -> Column:
    """``{prefix}/{trimmed slug}_{md5}.pdf`` (api_client.py:120)."""
    return upload_file_name(
        upload_prefix_col(), slugify_col(F.col("name")), md5_sum, F.lit(".pdf")
    )


# SQL text: an invalid non-null source_url is a ValueError
# (new_document_actions.py:79), else null
URL_ERROR_SQL = f"CASE WHEN NOT {optional_http_url('source_url')} THEN 'ValueError' END"


def _new_doc_error() -> Column:
    """A new document's error: ValueError for an invalid source_url, else
    UnsupportedContentTypeError when a fetch would happen and the
    detected content type is not supported, else null."""
    ct = detect_content_type(F.col("head_hex"), F.col("source_url"), F.col("header"))
    return F.coalesce(
        F.expr(URL_ERROR_SQL),
        F.when(
            fetch_url_col().isNotNull() & ~ct.isin(*SUPPORTED_CONTENT_TYPES),
            F.lit("UnsupportedContentTypeError"),
        ),
    )


def parser_input_records(new_docs: DataFrame, document_type: str) -> DataFrame:
    """BackendDocument rows -> initial ParserInput records
    (new_document_actions.py:88-95); ``document_type`` is SQL text.

    Rows with an invalid non-null source_url error out in the reference;
    here they are excluded and surface as ValueError rows in the report.
    A null source_url is allowed and stays null.
    """
    return new_docs.where(optional_http_url("source_url")).selectExpr(
        "import_id AS document_id",
        "slug AS document_slug",
        "name AS document_name",
        "description AS document_description",
        "source_url AS document_source_url",
        f"{document_type} AS document_type",
        "geography AS document_geography",
        "CAST(NULL AS string) AS document_cdn_object",
        "CAST(NULL AS string) AS document_content_type",
        "CAST(NULL AS string) AS document_md5_sum",
    )


def results_report(new_errors: DataFrame, updated_ids: DataFrame) -> DataFrame:
    """IngestResult rollup (main.py:186-232): one row per (ingest type,
    error) with its document count. ``new_errors`` has one ``error`` row
    per new document; ``updated_ids`` one row per updated document."""
    new_side = new_errors.selectExpr("'new' AS ingest_type", "error")
    upd_side = updated_ids.selectExpr(
        "'updated' AS ingest_type", "CAST(NULL AS string) AS error"
    )
    return (
        new_side.unionAll(upd_side)
        .groupBy("ingest_type", "error")
        .agg(F.expr("count(1) AS n_docs"))
    )


# ---------------------------------------------------------------------------
# §2.1 operators
# ---------------------------------------------------------------------------


def ingest_validate_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL validation partition (new_document_actions.py:79).

    The reference raises per-document on invalid URLs; distributed, the
    same rule is a predicate column that routes rows to the parser-input
    or error side without breaking the batch.
    """
    nd = synthetic_new_documents(spark, sf_dir)
    return nd.selectExpr(
        "import_id", "source_url", f"{optional_http_url('source_url')} AS url_ok"
    ).orderBy("import_id")


def ingest_slugify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """slugify(document.name) (new_document_actions.py:30)."""
    nd = synthetic_new_documents(spark, sf_dir)
    return nd.select(
        "import_id", "name", slugify_col(F.col("name")).alias("doc_slug")
    ).orderBy("import_id")


def ingest_s3_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upload prefix {geography}/{publication year} (new_document_actions.py:31)."""
    nd = synthetic_new_documents(spark, sf_dir)
    return nd.select(
        "import_id",
        "geography",
        F.year("publication_ts").cast("int").alias("pub_year"),
        upload_prefix_col().alias("s3_prefix"),
    ).orderBy("import_id")


def ingest_content_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-stage content-type fallback (utils.py:64 determine_content_type)."""
    nd = synthetic_new_documents(spark, sf_dir)
    return nd.select(
        "import_id",
        "head_hex",
        "source_url",
        "header",
        detect_content_type(
            F.col("head_hex"), F.col("source_url"), F.col("header")
        ).alias("content_type"),
    ).orderBy("import_id")


def ingest_content_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion routing by content type (api_client.py:74-97).

    html -> capture_pdf_from_url (+watermark), doc/docx -> convert_to_pdf
    (+watermark), pdf -> passthrough, anything else -> unsupported
    (UnsupportedContentTypeError).
    """
    ct = F.col("content_type")
    base = ingest_content_type(spark, sf_dir)
    route = (
        F.when(ct == CONTENT_TYPE_HTML, F.lit("capture_pdf_from_url"))
        .when(ct.isin(CONTENT_TYPE_DOCX, CONTENT_TYPE_DOC), F.lit("convert_doc_to_pdf"))
        .when(ct == CONTENT_TYPE_PDF, F.lit("passthrough"))
        .otherwise(F.lit("unsupported"))
    )
    return base.select(
        "import_id",
        "content_type",
        route.alias("route"),
        route.isin("capture_pdf_from_url", "convert_doc_to_pdf").alias("watermarked"),
    ).orderBy("import_id")


def ingest_upload_skips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip/choose download source (new_document_actions.py:35-48).

    download_url wins when set; else source_url; both empty -> skip (null
    UploadResult in the reference).
    """
    nd = synthetic_new_documents(spark, sf_dir)
    chosen = fetch_url_col()
    return nd.select(
        "import_id",
        "source_url",
        "download_url",
        chosen.alias("fetch_url"),
        chosen.isNull().alias("skipped"),
    ).orderBy("import_id")


def ingest_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content md5 (api_client.py:100); here over the document text bytes."""
    nd = synthetic_new_documents(spark, sf_dir)
    return nd.select("import_id", F.md5(F.col("text")).alias("md5_sum")).orderBy(
        "import_id"
    )


def ingest_file_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed upload object name (api_client.py:120).

    {geo}/{year}/{slugified name <=200 UTF-8 bytes}_{md5}.pdf with the
    1024-byte S3 path budget.
    """
    nd = synthetic_new_documents(spark, sf_dir)
    return nd.select(
        "import_id", upload_name_col(F.md5(F.col("text"))).alias("upload_name")
    ).orderBy("import_id")


def ingest_watermark_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark page text (pdf_conversion.py:109 generate_watermark_text).

    The reference stamps datetime.now(); for determinism the operator
    takes the document's publication_ts as the stamp date.
    """
    nd = synthetic_new_documents(spark, sf_dir)
    chosen = fetch_url_col()
    return (
        nd.where(chosen.isNotNull())
        .select(
            "import_id",
            watermark_text_col(chosen, F.col("publication_ts")).alias("watermark"),
        )
        .orderBy("import_id")
    )


def ingest_parser_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ParserInput records of the synthetic new documents, the document
    type mapped from the category (types.py:40)."""
    return parser_input_records(
        synthetic_new_documents(spark, sf_dir),
        _case_sql("category", CATEGORY_DOC_TYPE),
    ).orderBy("document_id")


def explode_numbered(df: DataFrame, array: str, position: str) -> DataFrame:
    """One (document_id, ``position``, element fields...) row per element
    of each row's struct ``array`` (SQL text), ``position`` its 1-based
    place in the array: an Update's ``seq`` or a running action's
    ``exec_order``."""
    return df.selectExpr("document_id", f"posexplode({array}) AS (pos, e)").selectExpr(
        "document_id", f"pos + 1 AS {position}", "e.*"
    )


def map_update_actions(updated: DataFrame) -> DataFrame:
    """(document_id, updates) -> (document_id, actions): each Update's
    type and its action (updated_document_actions.py:453), in update
    order. An unmapped type has a null action."""
    return updated.selectExpr(
        "document_id",
        "transform(updates, u -> named_struct('update_type', u.type,"
        f" 'action', {_case_sql('u.type', ACTION_OF_TYPE)})) AS actions",
    )


def ingest_update_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update type -> action mapping (updated_document_actions.py:453)."""
    return explode_numbered(
        map_update_actions(synthetic_updates(spark, sf_dir)), "actions", "seq"
    ).orderBy("document_id", "seq")


def order_update_actions(acts: DataFrame) -> DataFrame:
    """Per-document action ordering (updated_document_actions.py:65):
    (document_id, actions) -> one (document_id, exec_order, update_type,
    action) row per action that runs.

    If any action is `parse`, only the FIRST parse runs, with exec_order
    1. Else, when at least one action is mapped, every action runs,
    stable-ordered with `update_dont_parse` last; an unmapped (null)
    action keeps its place among the others. A document whose actions
    are all unmapped, or that has none, runs nothing.

    Each row's own ``actions`` array is ordered with higher-order
    functions and ``explode_numbered`` numbers the result, so the rule is a
    narrow projection: no exchange, sort or window. A document that
    appears on two rows (two files of one glob) is ordered once per row.
    Row order is unspecified; the registry wrapper
    ``ingest_order_actions`` applies the presentation sort.
    """
    ordered = (
        "CASE WHEN exists(actions, a -> a.action = 'parse')"
        " THEN slice(filter(actions, a -> a.action = 'parse'), 1, 1)"
        " WHEN exists(actions, a -> a.action IS NOT NULL)"
        " THEN concat(filter(actions, a -> NOT (a.action <=> 'update_dont_parse')),"
        " filter(actions, a -> a.action = 'update_dont_parse')) END"
    )
    return explode_numbered(acts, ordered, "exec_order")


def ingest_order_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: ordering over the synthetic updates."""
    return order_update_actions(
        map_update_actions(synthetic_updates(spark, sf_dir))
    ).orderBy("document_id", "exec_order")


# archive-path expansion rules per action (updated_document_actions.py):
#   parse   (l.189): parser_input+embeddings_input+indexer_input × {json,npy}
#                    × {'', '_translated_en'}
#   reparse (l.240): embeddings_input+indexer_input × {json,npy} × both
#   update_dont_parse (l.136-185): indexer_input only, {json,npy}, no
#                    translated variant
PREFIXES = ["parser_input", "embeddings_input", "indexer_input"]
SUFFIXES = ["json", "npy"]
VARIANTS = ["", "_translated_en"]
# action -> the (prefix, suffix, variant) objects it archives
_ARCHIVE_TARGETS = {
    "parse": [(p, s, v) for p in PREFIXES for s in SUFFIXES for v in VARIANTS],
    "reparse": [
        (p, s, v) for p in PREFIXES if p != "parser_input" for s in SUFFIXES for v in VARIANTS
    ],
    "update_dont_parse": [("indexer_input", s, "") for s in SUFFIXES],
}
# _ARCHIVE_TARGETS as a Spark SQL map literal of struct arrays
_ARCHIVE_TARGETS_SQL = "map(" + ", ".join(
    f"'{action}', array("
    + ", ".join(
        f"named_struct('prefix', '{p}', 'suffix', '{s}', 'variant', '{v}')"
        for p, s, v in targets
    )
    + ")"
    for action, targets in _ARCHIVE_TARGETS.items()
) + ")"


def expand_archive_paths(ordered: DataFrame) -> DataFrame:
    """Archive/rename plans for ordered actions (updated_document_actions.py).

    The reference performs one S3 rename at a time; here the (action ×
    prefix × suffix × variant) expansion is a lateral explode producing a
    rename-plan table a distributed mover can execute in bulk. The plan
    is a superset of actual renames: the reference only renames objects
    that EXIST (e.g. parser_input never has an .npy) — existence is the
    mover's concern, not the planner's. An action with no targets
    (``update_field_in_all_occurences``, or null) looks up a null array
    and explodes to no rows. Row order is unspecified.
    """
    return ordered.selectExpr(
        "document_id", "action", f"explode({_ARCHIVE_TARGETS_SQL}[action]) AS t"
    ).selectExpr(
        "document_id",
        "action",
        "t.*",
        "concat(t.prefix, '/', document_id, t.variant, '.', t.suffix) AS src_path",
        f"concat('archive/', t.prefix, '/', document_id, '/{ARCHIVE_TS}.', t.suffix)"
        " AS dst_path",
    )


def ingest_archive_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: archive plans over the synthetic updates."""
    return expand_archive_paths(
        order_update_actions(map_update_actions(synthetic_updates(spark, sf_dir)))
    ).orderBy("document_id", "action", "prefix", "suffix", "variant")


def _field_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """update_file_field as a join (updated_document_actions.py:342).

    The reference reads each JSON object, compares the current value to
    the expected s3_value (logging mismatches), writes the new value. As
    a table op: cache-state ⋈ updates on (document_id, field), emitting
    the new value plus a mismatch flag. Only update types that carry a
    field mapping (name/description/metadata/slug via update_dont_parse /
    update_field_in_all_occurences paths) participate. Row order is
    unspecified.
    """
    upd = order_update_actions(
        map_update_actions(synthetic_updates(spark, sf_dir))
    ).where(
        F.col("action").isin("update_dont_parse", "update_field_in_all_occurences")
    )
    upd = upd.withColumn("pipeline_field", F.expr(_case_sql("update_type", PIPELINE_FIELD)))
    # update_dont_parse touches parser_input+embeddings_input;
    # update_field_in_all_occurences touches all three prefixes.
    upd = upd.withColumn(
        "prefix", F.explode(F.array(*[F.lit(p) for p in PREFIXES]))
    ).where(
        (F.col("action") == "update_field_in_all_occurences")
        | (F.col("prefix") != "indexer_input")
    )
    # synthetic current cache value: matches the expected s3 value except
    # for every 5th document (exercises the mismatch-logging branch)
    doc_num = F.split(F.col("document_id"), "\\.").getItem(2).cast("bigint")
    doc_num_s = doc_num.cast("string")
    current = F.concat(F.lit("cur-"), F.col("update_type"), F.lit("-"), doc_num_s)
    s3_value = F.when(doc_num % 5 == 0, F.concat(F.lit("stale-"), F.col("update_type"))).otherwise(current)
    new_value = F.concat(F.lit("new-"), F.col("update_type"), F.lit("-"), doc_num_s)
    return upd.select(
        "document_id", "prefix", "pipeline_field",
        current.alias("old_value"),
        new_value.alias("new_value"),
        (current != s3_value).alias("value_mismatch"),
    )


def ingest_field_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: the field updates in presentation order."""
    return _field_updates(spark, sf_dir).orderBy("document_id", "prefix", "pipeline_field")


def ingest_results_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IngestResult report aggregation (main.py:186-232).

    One row per (ingest type, error class) with counts — the batch
    summary written to reports/ingest/batch_1.json in the reference.
    New-document errors: invalid source_url -> ValueError; unsupported
    content type (when a fetch would happen) -> UnsupportedContentTypeError.
    """
    new_errors = synthetic_new_documents(spark, sf_dir).select(
        _new_doc_error().alias("error")
    )
    return results_report(new_errors, _updated_doc_ids(spark, sf_dir)).orderBy(
        "ingest_type", "error"
    )


def ingest_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full batch plan: one row per document with its ingest outcome.

    Composition of the §2.1 operators into the shape main.py produces
    per run: parser-input payload columns + upload result + archive
    workload counts. Driver checks rows-only (the composition is
    exercised piecewise by the per-operator oracles).
    """
    nd = synthetic_new_documents(spark, sf_dir)
    unfetched = fetch_url_col().isNull()
    new_side = nd.select(
        F.col("import_id").alias("document_id"),
        F.lit("new").alias("ingest_type"),
        _new_doc_error().alias("error"),
        F.when(unfetched, F.lit(None).cast("string"))
        .otherwise(upload_name_col(F.md5(F.col("text")))).alias("cdn_object"),
        F.when(unfetched, F.lit(None).cast("string"))
        .otherwise(F.md5(F.col("text"))).alias("md5_sum"),
        detect_content_type(
            F.col("head_hex"), F.col("source_url"), F.col("header")
        ).alias("content_type"),
        F.lit(0).cast("bigint").alias("n_renames"),
    )
    renames = (
        expand_archive_paths(
            order_update_actions(map_update_actions(synthetic_updates(spark, sf_dir)))
        )
        .groupBy("document_id")
        .agg(F.count(F.lit(1)).alias("n_renames"))
    )
    upd_side = (
        _updated_doc_ids(spark, sf_dir)
        .join(renames, "document_id", "left")
        .select(
            "document_id",
            F.lit("updated").alias("ingest_type"),
            F.lit(None).cast("string").alias("error"),
            F.lit(None).cast("string").alias("cdn_object"),
            F.lit(None).cast("string").alias("md5_sum"),
            F.lit(None).cast("string").alias("content_type"),
            F.coalesce(F.col("n_renames"), F.lit(0)).cast("bigint").alias("n_renames"),
        )
    )
    return new_side.unionAll(upd_side).orderBy("ingest_type", "document_id")


def ingest_cache_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the batch's field updates as a full cache-table rewrite.

    This is the scale inversion of updated_document_actions.py:342: the
    reference point-PUTs each changed JSON object; here the WHOLE cache
    (prefix x document x field) left-joins the change list and the
    coalesced projection IS the next table version — one shuffle-free
    broadcast join per batch instead of millions of S3 round trips,
    written atomically as a new snapshot.
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents").select("doc_id"))
    ds = F.col("doc_id").cast("string")
    field_entries = [
        F.struct(F.lit(t).alias("update_type"), F.lit(fname).alias("pipeline_field"))
        for t, fname in PIPELINE_FIELD.items()
    ]
    cache = (
        docs.select(
            F.col("doc_id"),
            F.concat(F.lit("TEST.executive."), ds, F.lit("."), ds).alias("document_id"),
        )
        .withColumn("prefix", F.explode(F.array(*[F.lit(p) for p in PREFIXES])))
        .withColumn("fe", F.explode(F.array(*field_entries)))
        .select(
            "prefix",
            "document_id",
            F.col("fe.pipeline_field").alias("pipeline_field"),
            F.concat(F.lit("cur-"), F.col("fe.update_type"), F.lit("-"), ds)
            .alias("value"),
        )
    )
    changes = _field_updates(spark, sf_dir).select(
        "document_id", "prefix", "pipeline_field", "new_value"
    )
    return (
        cache.join(
            F.broadcast(changes), ["document_id", "prefix", "pipeline_field"], "left"
        )
        .select(
            "prefix",
            "document_id",
            "pipeline_field",
            F.coalesce("new_value", "value").alias("value"),
            F.col("new_value").isNotNull().alias("was_updated"),
        )
        .orderBy("prefix", "document_id", "pipeline_field")
    )


def ingest_sniff_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance audit of the 3-stage content-type detector
    (utils.py:64): per document, WHICH stage decided (magic bytes >
    URL extension > header), and whether the later stages would have
    agreed — the disagreement matrix that tells an operator how much
    the header can be trusted when bytes are unavailable (the exact
    question a HEAD-request-only fast path asks).

    Map-side only over the shared new-docs generator; the oracle
    replays all three stage votes and the fallback order.
    """
    from navigator_data_ingest_spark.functions.content import (
        _extension_content_type,
        _header_content_type,
        _magic_content_type,
    )

    nd = synthetic_new_documents(spark, sf_dir)
    staged = nd.select(
        "import_id",
        _magic_content_type(F.col("head_hex")).alias("by_magic"),
        _extension_content_type(F.col("source_url")).alias("by_ext"),
        _header_content_type(F.col("header")).alias("by_header"),
    ).select(
        F.when(F.col("by_magic").isNotNull(), F.lit("magic"))
        .when(F.col("by_ext").isNotNull(), F.lit("extension"))
        .when(
            F.col("by_header").isNotNull() & (F.col("by_header") != ""),
            F.lit("header"),
        )
        .otherwise(F.lit("none"))
        .alias("decided_by"),
        F.coalesce(
            "by_magic",
            "by_ext",
            F.nullif(F.col("by_header"), F.lit("")),
        ).alias("decided_type"),
        "by_ext",
        "by_header",
    )
    return (
        staged.groupBy("decided_by", "decided_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("by_ext").isNotNull()
                 & (F.col("by_ext") == F.col("decided_type"))).cast("int")
            ).cast("bigint").alias("ext_agrees"),
            F.sum(
                (F.nullif(F.col("by_header"), F.lit("")).isNotNull()
                 & (F.col("by_header") == F.col("decided_type"))).cast("int")
            ).cast("bigint").alias("header_agrees"),
        )
        .orderBy("decided_by", "decided_type")
    )


def ingest_sniff_provenance_sql() -> str:
    magic = """
        CASE WHEN starts_with(head_hex, '25504446') THEN 'application/pdf'
             WHEN starts_with(head_hex, 'D0CF11E0A1B11AE1') THEN 'application/msword'
             WHEN starts_with(head_hex, '504B0304')
               THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
        END"""
    ext = """
        CASE WHEN source_url LIKE '%.pdf'  THEN 'application/pdf'
             WHEN source_url LIKE '%.html' THEN 'text/html'
             WHEN source_url LIKE '%.docx'
               THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
             WHEN source_url LIKE '%.doc'  THEN 'application/msword'
        END"""
    hdr = "trim(split_part(coalesce(header, ''), ';', 1))"
    return f"""
    WITH {NEW_DOCS_CTE.strip()},
    staged AS (
        SELECT import_id, ({magic}) AS by_magic, ({ext}) AS by_ext,
               ({hdr}) AS by_header
        FROM new_docs
    ), cls AS (
        SELECT CASE WHEN by_magic IS NOT NULL THEN 'magic'
                    WHEN by_ext IS NOT NULL THEN 'extension'
                    WHEN by_header IS NOT NULL AND by_header != '' THEN 'header'
                    ELSE 'none' END AS decided_by,
               coalesce(by_magic, by_ext, nullif(by_header, '')) AS decided_type,
               by_ext, by_header
        FROM staged
    )
    SELECT decided_by, decided_type, count(*)::BIGINT AS n_docs,
           sum((by_ext IS NOT NULL AND by_ext = decided_type)::INT)::BIGINT
               AS ext_agrees,
           sum((nullif(by_header, '') IS NOT NULL
                AND by_header = decided_type)::INT)::BIGINT AS header_agrees
    FROM cls GROUP BY decided_by, decided_type
    ORDER BY decided_by, decided_type
    """
