"""Registry: query name -> (Spark callable, DuckDB oracle SQL).

This is the single source of truth consumed by ``__spark_entry__.py``
(the driver contract), ``bench.py`` and the oracle-parity tests. Every
operator from SURVEY.md §2 registers here; SQL-expressible ones carry a
DuckDB oracle whose column names/types/rounding match the Spark output
exactly (the driver hash-compares values by sorted column name).

Emission order: the external driver hash-certifies only the first 50
names of ``queries()``, and each round's results are committed at the
repo root as ``CORRECTNESS_r<round>.json``. The order is derived from
those files, so the sample walks the whole registry across rounds. A
key's certified round is the newest round in which it had
``hash_match: true``. Keys are emitted in three classes, with ties kept
in registration order:

1. pending: the newest round that sampled the key failed it, or its
   code or oracle changed (``_CHANGED``) after its certified round;
2. never sampled;
3. certified, oldest certification first.

A change to a key's code or oracle adds ``key: <round>`` to
``_CHANGED``, where ``<round>`` is the next driver round.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from navigator_data_ingest_spark.operators import analytics, ingest

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query fn, oracle sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

_CORRECTNESS_DIR = Path(__file__).resolve().parent.parent

# key -> the driver round in which its code or oracle last changed
_CHANGED: dict[str, int] = {
    # round 12: duplicate-scan pins and single-scan regroups
    **dict.fromkeys((
        "cdc_merge_into", "cdc_scd2", "cdc_scd2_lookup", "cdc_snapshot_diff",
        "corpus_curriculum_order", "corpus_decontaminate_split",
        "corpus_funnel", "corpus_kn_smoothing", "corpus_knn_pseudo_label",
        "corpus_lm_holdout_ppl", "corpus_overlap", "corpus_token_budget",
        "corpus_upsample_apply", "dedup_bloom", "dedup_incremental",
        "dedup_minhash_lsh", "dedup_recall_report", "dedup_survivorship",
        "dedup_threshold_sweep", "dedup_url", "emb_confusion_metrics",
        "emb_distance_histogram", "emb_hubness", "emb_intrinsic_dim",
        "emb_ivf_cell_census", "emb_label_purity", "emb_lsh_tuning",
        "emb_matryoshka", "emb_pq", "emb_triplet_mining",
        "graph_bipartite_projection", "ingest_frontier_schedule",
        "ingest_results_report",
        "mm_aspect_buckets", "mm_audio_vad_segments", "mm_shard_manifest",
        "pack_boundary_stats", "pack_sequences", "q_basket_lift",
        "q_customer_churn", "q_customer_retention", "q_events_attribution",
        "q_events_concurrency", "q_events_concurrency_epoch",
        "q_events_concurrency_load", "q_events_concurrency_peak",
        "q_events_conversion_lag", "q_events_funnel", "q_events_funnel_steps",
        "q_events_gapfill", "q_events_mad", "q_events_markov_stationary",
        "q_events_rfm", "q_events_type_overlap", "q_events_type_pmi",
        "q_orders_abc_class", "q_orders_skyline", "q_sql_exists_in",
        "sample_temperature", "sim_search_bruteforce", "sim_search_ivf",
        "sim_search_lsh", "split_dedup_aware", "split_temporal",
        "src_stream_events", "stats_ansari_bradley",
        "stats_brunner_munzel", "stats_chi_square", "stats_cochran_q",
        "stats_cox_stuart", "stats_cramers_v", "stats_friedman", "stats_g_test",
        "stats_gini_exact", "stats_grubbs", "stats_hodges_lehmann",
        "stats_kendall_w",
        "stats_levene", "stats_lognormal_fit", "stats_mann_kendall",
        "stats_mood_scale", "stats_mutual_information", "stats_nelson_aalen",
        "stats_page_trend", "stats_pettitt_changepoint", "stats_price_index",
        "stats_quade", "stats_seasonal_mann_kendall", "stats_somers_d",
        "stats_survival_km", "stats_theil_sen", "stats_weighted_kappa",
        "stream_dedup_wm", "stream_ingest", "stream_unique_users_windowed",
        "text_bm25", "text_conditional_entropy", "text_heaps_law",
        "text_jsd_drift", "text_rake_keywords", "text_tfidf",
    ), 12),
    "dedup_semantic": 13,
    "ingest_download_fetch": 14,
    "ingest_fetch_retry": 14,
    "ingest_validate_url": 14,
    # per-document action ordering inside each document's update array
    **dict.fromkeys((
        "ingest_archive_paths", "ingest_cache_rewrite", "ingest_field_update",
        "ingest_order_actions", "ingest_pipeline_e2e", "ingest_update_actions",
        "src_pipeline_updates",
    ), 14),
    # rank and ECDF statistics moved onto functions.prefix.below_sums
    **dict.fromkeys((
        "stats_auc_classifier", "stats_cramer_von_mises", "stats_dunn_posthoc",
        "stats_gains_table", "stats_jonckheere_terpstra",
        "stats_kruskal_wallis", "stats_mann_whitney", "stats_mann_whitney_u",
        "stats_mann_whitney_z", "stats_wilcoxon_signed_rank",
        "stats_ww_runs_two_sample",
    ), 14),
}


@functools.cache
def _driver_rounds() -> dict[str, tuple[int, bool]]:
    """key -> (newest round that hash-certified it, 0 if none; whether
    the newest round that sampled it hash-matched)."""
    prefix = "CORRECTNESS_r"
    files = sorted(
        (int(p.stem[len(prefix):]), p) for p in _CORRECTNESS_DIR.glob(f"{prefix}*.json")
    )
    out: dict[str, tuple[int, bool]] = {}
    for rnd, path in files:
        for key, result in json.loads(path.read_text()).items():
            passed = result["hash_match"] is True
            out[key] = (rnd if passed else out.get(key, (0, False))[0], passed)
    return out


def _rank(name: str) -> tuple[int, int]:
    """(class, certified round): 0 pending, 1 never sampled, 2 certified."""
    rounds = _driver_rounds()
    if name not in rounds:
        return (1, 0)
    certified, passed = rounds[name]
    if not passed or certified < _CHANGED.get(name, 0):
        return (0, 0)
    return (2, certified)


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    _REGISTRY[name] = (fn, oracle)


def _emission_order() -> list[str]:
    return sorted(_REGISTRY, key=_rank)  # stable: ties keep registration order


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name][0] for name in _emission_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _emission_order()
        if _REGISTRY[name][1] is not None
    }


# --------------------------------------------------------------------------
# §2.3 analytics
# --------------------------------------------------------------------------

register(
    "q1_pricing_summary",
    analytics.q1_pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6)                                    AS sum_qty,
           round(sum(l_extendedprice), 6)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 6)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
           round(avg(l_quantity), 6)                                    AS avg_qty,
           round(avg(l_extendedprice), 6)                               AS avg_price,
           round(avg(l_discount), 6)                                    AS avg_disc,
           count(*)::bigint                                             AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

register(
    "q3_shipping_priority",
    analytics.q3_shipping_priority,
    """
    SELECT l_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)

register(
    "q5_local_volume",
    analytics.q5_local_volume,
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND c_nationkey = s_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)

register(
    "q_top_customers",
    analytics.q_top_customers,
    """
    WITH spend AS (
        SELECT o_custkey, sum(o_totalprice) AS spend_raw
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT n_name, c_custkey, c_name, spend_raw,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY spend_raw DESC, c_custkey) AS rank
        FROM spend
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
    )
    SELECT n_name, c_custkey, c_name,
           round(spend_raw, 6) AS total_spend, rank::int AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY n_name, rank
    """,
)

register(
    "q_orders_enriched",
    analytics.q_orders_enriched,
    """
    SELECT o_orderkey, o_custkey, n_name AS nation_name, c_mktsegment,
           year(o_orderdate)::int AS order_year,
           round(o_totalprice, 6) AS total_price,
           (o_orderpriority = '1-URGENT') AS is_urgent
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    """,
)

register(
    "q_events_windowed",
    analytics.q_events_windowed,
    """
    SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start,
           event_type,
           count(*)::bigint          AS n_events,
           round(sum(value), 6)      AS sum_value,
           count(DISTINCT user_id)::bigint AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)

register(
    "q_events_sessionize",
    analytics.q_events_sessionize,
    """
    WITH ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, value FROM events
    ), flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id::bigint AS session_id,
           count(*)::bigint AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           round(sum(value), 6) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)

register(
    "q_documents_stats",
    analytics.q_documents_stats,
    """
    SELECT lang, source,
           count(*)::bigint AS n_docs,
           sum(n_chars)::bigint AS total_chars,
           round(avg(n_chars), 6) AS avg_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)


# --------------------------------------------------------------------------
# §2.1 ingest-pipeline operators (reference parity)
# --------------------------------------------------------------------------

_ND = "WITH " + ingest.NEW_DOCS_CTE.strip()
_UP = "WITH " + ingest.UPDATES_CTE.strip()

# shared content-type detection SQL (mirrors functions/content.py);
# parameterized on the url column — the validate/route operators detect
# against source_url while the fetch stage sniffs against the resolved
# fetch_url (same 3-stage order either way)
def _ct_sql(url_col: str = "source_url") -> str:
    return f"""
    coalesce(
        CASE WHEN starts_with(head_hex, '25504446') THEN 'application/pdf'
             WHEN starts_with(head_hex, 'D0CF11E0A1B11AE1') THEN 'application/msword'
             WHEN starts_with(head_hex, '504B0304')
               THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
        END,
        CASE WHEN {url_col} LIKE '%.pdf'  THEN 'application/pdf'
             WHEN {url_col} LIKE '%.html' THEN 'text/html'
             WHEN {url_col} LIKE '%.docx'
               THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
             WHEN {url_col} LIKE '%.doc'  THEN 'application/msword'
        END,
        trim(split_part(coalesce(header, ''), ';', 1))
    )
"""


_CT_SQL = _ct_sql()

_URL_OK_SQL = r"""
    CASE WHEN source_url IS NULL THEN TRUE
         ELSE regexp_matches(source_url, '^https?://[^\s/$.?#][^\s]*$') END
"""

from navigator_data_ingest_spark.functions.text import slugify_sql

_SLUG_SQL = slugify_sql("name")

register(
    "ingest_validate_url",
    ingest.ingest_validate_url,
    _ND + f"""
    SELECT import_id, source_url, {_URL_OK_SQL} AS url_ok
    FROM new_docs ORDER BY import_id
    """,
)

register(
    "ingest_slugify",
    ingest.ingest_slugify,
    _ND + f"""
    SELECT import_id, name, {_SLUG_SQL} AS doc_slug
    FROM new_docs ORDER BY import_id
    """,
)

register(
    "ingest_s3_prefix",
    ingest.ingest_s3_prefix,
    _ND + """
    SELECT import_id, geography,
           year(publication_ts)::int AS pub_year,
           geography || '/' || year(publication_ts)::varchar AS s3_prefix
    FROM new_docs ORDER BY import_id
    """,
)

register(
    "ingest_content_type",
    ingest.ingest_content_type,
    _ND + f"""
    SELECT import_id, head_hex, source_url, header,
           {_CT_SQL} AS content_type
    FROM new_docs ORDER BY import_id
    """,
)

register(
    "ingest_content_route",
    ingest.ingest_content_route,
    _ND + f"""
    , ct AS (
        SELECT import_id, {_CT_SQL} AS content_type FROM new_docs
    )
    SELECT import_id, content_type,
           CASE WHEN content_type = 'text/html' THEN 'capture_pdf_from_url'
                WHEN content_type IN ('application/vnd.openxmlformats-officedocument.wordprocessingml.document',
                                      'application/msword') THEN 'convert_doc_to_pdf'
                WHEN content_type = 'application/pdf' THEN 'passthrough'
                ELSE 'unsupported' END AS route,
           CASE WHEN content_type = 'text/html' THEN TRUE
                WHEN content_type IN ('application/vnd.openxmlformats-officedocument.wordprocessingml.document',
                                      'application/msword') THEN TRUE
                ELSE FALSE END AS watermarked
    FROM ct ORDER BY import_id
    """,
)

register(
    "ingest_upload_skips",
    ingest.ingest_upload_skips,
    _ND + """
    SELECT import_id, source_url, download_url,
           coalesce(nullif(download_url, ''), nullif(source_url, '')) AS fetch_url,
           coalesce(nullif(download_url, ''), nullif(source_url, '')) IS NULL AS skipped
    FROM new_docs ORDER BY import_id
    """,
)

register(
    "ingest_md5",
    ingest.ingest_md5,
    _ND + """
    SELECT import_id, md5(text) AS md5_sum FROM new_docs ORDER BY import_id
    """,
)

register(
    "ingest_file_name",
    ingest.ingest_file_name,
    _ND + f"""
    , named AS (
        SELECT import_id,
               geography || '/' || year(publication_ts)::varchar AS prefix,
               {_SLUG_SQL} AS slug,
               md5(text) AS h
        FROM new_docs
    ), trimmed AS (
        SELECT import_id, prefix, h,
               substr(slug, 1,
                      list_filter(generate_series(least(length(slug), 200), 0, -5),
                                  k -> strlen(substr(slug, 1, k)) <= 200)[1]
               ) AS fs_trimmed
        FROM named
    )
    SELECT import_id,
           prefix || '/' ||
           substr(fs_trimmed, 1, 1024 - length(prefix) - length('.pdf') - length(h) - 2)
           || '_' || h || '.pdf' AS upload_name
    FROM trimmed ORDER BY import_id
    """,
)

register(
    "ingest_watermark_text",
    ingest.ingest_watermark_text,
    _ND + """
    SELECT import_id,
           'Original publicly accessible source: ' || coalesce(download_url, source_url)
           || '.

This PDF was created by Climate Policy Radar (climatepolicyradar.org) on '
           || strftime(publication_ts, '%d %B %Y')
           || '.

For non-commercial use only. Reach out to us at support@climatepolicyradar.org if you have any enquiries.'
           AS watermark
    FROM new_docs
    WHERE coalesce(download_url, source_url) IS NOT NULL
    ORDER BY import_id
    """,
)

_PARSER_INPUT_SQL = _ND + f"""
    SELECT import_id AS document_id,
           slug AS document_slug,
           name AS document_name,
           description AS document_description,
           source_url AS document_source_url,
           CASE category WHEN 'executive' THEN 'Policy'
                         WHEN 'legislative' THEN 'Law'
                         WHEN 'litigation' THEN 'Litigation' END AS document_type,
           geography AS document_geography,
           NULL::varchar AS document_cdn_object,
           NULL::varchar AS document_content_type,
           NULL::varchar AS document_md5_sum
    FROM new_docs
    WHERE source_url IS NULL OR {_URL_OK_SQL}
    ORDER BY document_id
    """

register("ingest_parser_input", ingest.ingest_parser_input, _PARSER_INPUT_SQL)

register(
    "ingest_update_actions",
    ingest.ingest_update_actions,
    _UP + f"""
    SELECT document_id, seq, update_type, {ingest.ACTION_CASE_SQL} AS action
    FROM typed_updates ORDER BY document_id, seq
    """,
)

_ORDERED_ACTIONS_CTES = _UP + f"""
    , acts AS (
        SELECT document_id, seq, update_type,
               {ingest.ACTION_CASE_SQL} AS action
        FROM typed_updates
    ), ann AS (
        SELECT *,
               max(CASE WHEN action = 'parse' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY document_id) AS has_parse,
               min(CASE WHEN action = 'parse' THEN seq END)
                   OVER (PARTITION BY document_id) AS first_parse_seq,
               row_number() OVER (
                   PARTITION BY document_id
                   ORDER BY CASE WHEN action = 'update_dont_parse' THEN 1 ELSE 0 END, seq
               ) AS rn
        FROM acts
    ), ordered AS (
        SELECT document_id,
               (CASE WHEN has_parse = 1 THEN 1 ELSE rn END)::int AS exec_order,
               update_type, action
        FROM ann
        WHERE (has_parse = 1 AND seq = first_parse_seq) OR has_parse = 0
    )
"""

register(
    "ingest_order_actions",
    ingest.ingest_order_actions,
    _ORDERED_ACTIONS_CTES + """
    SELECT document_id, exec_order, update_type, action
    FROM ordered ORDER BY document_id, exec_order
    """,
)

register(
    "ingest_archive_paths",
    ingest.ingest_archive_paths,
    _ORDERED_ACTIONS_CTES + f"""
    , grid AS (
        SELECT prefix, suffix, variant
        FROM (VALUES ('parser_input'), ('embeddings_input'), ('indexer_input')) p(prefix)
        CROSS JOIN (VALUES ('json'), ('npy')) s(suffix)
        CROSS JOIN (VALUES (''), ('_translated_en')) v(variant)
    )
    SELECT document_id, action, prefix, suffix, variant,
           prefix || '/' || document_id || variant || '.' || suffix AS src_path,
           'archive/' || prefix || '/' || document_id || '/{ingest.ARCHIVE_TS}.' || suffix AS dst_path
    FROM ordered
    JOIN grid ON (action = 'parse')
             OR (action = 'reparse' AND prefix <> 'parser_input')
             OR (action = 'update_dont_parse' AND prefix = 'indexer_input' AND variant = '')
    WHERE action IN ('parse', 'reparse', 'update_dont_parse')
    ORDER BY document_id, action, prefix, suffix, variant
    """,
)

register(
    "ingest_field_update",
    ingest.ingest_field_update,
    _ORDERED_ACTIONS_CTES + """
    , fu AS (
        SELECT document_id, update_type, action,
               CASE update_type WHEN 'name' THEN 'document_name'
                                WHEN 'description' THEN 'document_description'
                                WHEN 'source_url' THEN 'document_source_url'
                                WHEN 'metadata' THEN 'document_metadata'
                                WHEN 'slug' THEN 'document_slug' END AS pipeline_field,
               string_split(document_id, '.')[3]::bigint AS doc_num
        FROM ordered
        WHERE action IN ('update_dont_parse', 'update_field_in_all_occurences')
    ), grid AS (
        SELECT prefix
        FROM (VALUES ('parser_input'), ('embeddings_input'), ('indexer_input')) p(prefix)
    )
    SELECT document_id, prefix, pipeline_field,
           'cur-' || update_type || '-' || doc_num AS old_value,
           'new-' || update_type || '-' || doc_num AS new_value,
           ('cur-' || update_type || '-' || doc_num) <>
               (CASE WHEN doc_num % 5 = 0 THEN 'stale-' || update_type
                     ELSE 'cur-' || update_type || '-' || doc_num END) AS value_mismatch
    FROM fu
    JOIN grid ON (action = 'update_field_in_all_occurences')
             OR (prefix <> 'indexer_input')
    ORDER BY document_id, prefix, pipeline_field
    """,
)

_REPORT_SQL = _ND + f"""
    , computed AS (
        SELECT import_id,
               coalesce(nullif(download_url, ''), nullif(source_url, '')) AS fetch_url,
               {_CT_SQL} AS content_type,
               {_URL_OK_SQL} AS url_ok
        FROM new_docs
    ), new_results AS (
        SELECT 'new' AS ingest_type,
               CASE WHEN NOT url_ok THEN 'ValueError'
                    WHEN fetch_url IS NOT NULL
                         AND content_type NOT IN (
                             'application/pdf', 'text/html',
                             'application/vnd.openxmlformats-officedocument.wordprocessingml.document',
                             'application/msword')
                    THEN 'UnsupportedContentTypeError'
                    ELSE NULL END AS error
        FROM computed
    ), upd_results AS (
        SELECT DISTINCT 'updated' AS ingest_type, NULL::varchar AS error,
               'TEST.executive.' || doc_id || '.' || doc_id AS document_id
        FROM documents
    ), unioned AS (
        SELECT ingest_type, error FROM new_results
        UNION ALL
        SELECT ingest_type, error FROM upd_results
    )
    SELECT ingest_type, error, count(*)::bigint AS n_docs
    FROM unioned GROUP BY ingest_type, error
    ORDER BY ingest_type, error
    """

register("ingest_results_report", ingest.ingest_results_report, _REPORT_SQL)

# full-batch composition: the oracle recomputes the whole per-document
# outcome table (parser-side enrichment + archive workload counts)
_E2E_SQL = _ORDERED_ACTIONS_CTES + f""",
    {ingest.NEW_DOCS_CTE.strip()},
    named AS (
        SELECT import_id, text,
               geography || '/' || year(publication_ts)::varchar AS prefix,
               {_SLUG_SQL} AS slug,
               md5(text) AS h,
               coalesce(download_url, source_url) AS fetch_url,
               {_CT_SQL} AS content_type,
               {_URL_OK_SQL} AS url_ok
        FROM new_docs
    ), name_trimmed AS (
        SELECT *,
               substr(slug, 1,
                      list_filter(generate_series(least(length(slug), 200), 0, -5),
                                  k -> strlen(substr(slug, 1, k)) <= 200)[1]
               ) AS fs_trimmed
        FROM named
    ), new_side AS (
        SELECT import_id AS document_id, 'new' AS ingest_type,
               CASE WHEN NOT url_ok THEN 'ValueError'
                    WHEN fetch_url IS NOT NULL AND content_type NOT IN (
                        'application/pdf', 'text/html',
                        'application/vnd.openxmlformats-officedocument.wordprocessingml.document',
                        'application/msword')
                    THEN 'UnsupportedContentTypeError' END AS error,
               CASE WHEN fetch_url IS NULL THEN NULL
                    ELSE prefix || '/' ||
                         substr(fs_trimmed, 1,
                                1024 - length(prefix) - length('.pdf') - length(h) - 2)
                         || '_' || h || '.pdf' END AS cdn_object,
               CASE WHEN fetch_url IS NULL THEN NULL ELSE h END AS md5_sum,
               content_type,
               0::bigint AS n_renames
        FROM name_trimmed
    ), grid AS (
        SELECT prefix, suffix, variant
        FROM (VALUES ('parser_input'), ('embeddings_input'), ('indexer_input')) p(prefix)
        CROSS JOIN (VALUES ('json'), ('npy')) s(suffix)
        CROSS JOIN (VALUES (''), ('_translated_en')) v(variant)
    ), renames AS (
        SELECT document_id, count(*)::bigint AS n_renames
        FROM ordered
        JOIN grid ON (action = 'parse')
                 OR (action = 'reparse' AND prefix <> 'parser_input')
                 OR (action = 'update_dont_parse' AND prefix = 'indexer_input' AND variant = '')
        WHERE action IN ('parse', 'reparse', 'update_dont_parse')
        GROUP BY document_id
    ), upd_side AS (
        SELECT DISTINCT t.document_id, 'updated' AS ingest_type,
               NULL::varchar AS error, NULL::varchar AS cdn_object,
               NULL::varchar AS md5_sum, NULL::varchar AS content_type,
               coalesce(r.n_renames, 0)::bigint AS n_renames
        FROM typed_updates t
        LEFT JOIN renames r ON t.document_id = r.document_id
    )
    SELECT * FROM new_side
    UNION ALL
    SELECT * FROM upd_side
    ORDER BY ingest_type, document_id
    """

register("ingest_pipeline_e2e", ingest.ingest_pipeline_e2e, _E2E_SQL)

# distributed fetch/convert stage: side-effecting by nature (stubbed
# deterministic fake in-container) -> rows-only check; determinism and
# routing are pytest-asserted instead.
from navigator_data_ingest_spark.operators import fetch as fetch_op

def _fetch_manifest_sql() -> str:
    """Full-row DuckDB oracle for ingest_download_fetch.

    Everything the stub fetch/convert emits is a pure function of
    (fetch_url, head_hex, header, name, geography, publication_ts): the
    failure model and payload filler derive from md5(fetch_url), the
    filler is ASCII hex chars (so VARCHAR-only DuckDB md5 can hash the
    reconstructed payload), and the converted-PDF bytes are the
    deterministic minipdf serialization — reconstructed here as one
    string-concat program (objects -> byte offsets -> xref -> trailer),
    byte-identical to functions/minipdf.py's writer. The md5/length of
    that string IS the md5/n_bytes of the operator's converted content.
    """
    from navigator_data_ingest_spark.functions import minipdf

    lit = lambda s: "'" + s.replace("'", "''") + "'"  # noqa: E731
    nl = "\n"
    mx = fetch_op.MAX_ATTEMPTS

    # -- fixed PDF segments (objects 1-4 and 6 don't depend on the row)
    segs = {
        1: "<< /Type /Catalog /Pages 2 0 R >>",
        2: "<< /Type /Pages /Kids [4 0 R 6 0 R] /Count 2 >>",
        3: "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {minipdf.PAGE_W} "
            f"{minipdf.PAGE_H}] /Resources << /Font << /F1 3 0 R >> >> "
            "/Contents 5 0 R >>"
        ),
        6: (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {minipdf.PAGE_W} "
            f"{minipdf.PAGE_H}] /Resources << /Font << /F1 3 0 R >> >> "
            "/Contents 7 0 R >>"
        ),
    }
    seg_sql = {
        n: lit(f"{n} 0 obj{nl}{body}{nl}endobj{nl}") for n, body in segs.items()
    }
    pdf_header = lit("%PDF-1.7" + nl)
    td_y = minipdf.PAGE_H - minipdf.MARGIN - minipdf.FONT_SIZE
    stream_prefix = (
        f"BT /F1 {minipdf.FONT_SIZE} Tf {minipdf.LEADING} TL "
        f"{minipdf.MARGIN} {td_y} Td"
    )

    # -- watermark text constants (paragraph 2 line 1 and paragraph 3
    # wrap to FIXED lines; paragraph 1 depends on the url length and
    # paragraph 2's second line on the formatted date)
    p2l1 = minipdf._esc(
        "This PDF was created by Climate Policy Radar "
        "(climatepolicyradar.org) on"
    )
    p3_lines = minipdf.wrap_text(
        "For non-commercial use only. Reach out to us at "
        "support@climatepolicyradar.org if you have any enquiries."
    )
    p3_tj = " T* ".join(f"({minipdf._esc(l)}) Tj" for l in p3_lines)
    # greedy wrap puts para 1 on one line iff
    # len('Original publicly accessible source: ') + len(url) + 1 <= 73
    p1_budget = minipdf.WRAP_COLS - len("Original publicly accessible source: ") - 1

    # -- decoded ascii heads (binary doc/docx heads are always converted,
    # so their raw payload never needs reconstructing)
    head_decode = " ".join(
        f"WHEN {lit(h)} THEN {lit(bytes.fromhex(h).decode('ascii'))}"
        for h in ingest.HEAD_HEXES
        if all(0x20 <= b < 0x7F or b in (0x09, 0x0A, 0x0D) for b in bytes.fromhex(h))
    )

    supported = (
        "('application/pdf', 'text/html', "
        "'application/vnd.openxmlformats-officedocument.wordprocessingml.document', "
        "'application/msword')"
    )
    converted = (
        "('text/html', "
        "'application/vnd.openxmlformats-officedocument.wordprocessingml.document', "
        "'application/msword')"
    )

    return _ND + f""",
    work AS (
        SELECT import_id, name, geography, publication_ts, header, head_hex,
               coalesce(nullif(download_url, ''), nullif(source_url, '')) AS fetch_url
        FROM new_docs
        WHERE coalesce(nullif(download_url, ''), nullif(source_url, '')) IS NOT NULL
    ), seeds AS (
        SELECT *, md5(fetch_url) AS hx,
               regexp_extract(fetch_url, '^[a-z]+://([^/]+)', 1) AS domain,
               ('0x' || substr(md5(fetch_url), 1, 8))::bigint  AS s04,
               ('0x' || substr(md5(fetch_url), 9, 8))::bigint  AS s48,
               ('0x' || substr(md5(fetch_url), 9, 2))::bigint  AS s4,
               ('0x' || substr(md5(fetch_url), 11, 2))::bigint AS s5,
               ('0x' || substr(md5(fetch_url), 13, 2))::bigint AS s6,
               ('0x' || substr(md5(fetch_url), 19, 2))::bigint AS s9,
               ('0x' || substr(md5(fetch_url), 21, 2))::bigint AS s10,
               ('0x' || substr(md5(fetch_url), 23, 2))::bigint AS s11,
               ('0x' || substr(md5(fetch_url), 25, 2))::bigint AS s12
        FROM work
    ), plan AS (
        SELECT *,
               CASE WHEN s04 % 29 = 0 THEN 'permanent'
                    WHEN s48 % 13 = 0 THEN 'transient' ELSE 'ok' END AS kind,
               CASE WHEN s04 % 29 <> 0 AND s48 % 13 = 0
                    THEN 1 + s9 % 5 ELSE 0 END AS n_fail,
               CASE s12 % 3 WHEN 0 THEN 'http_503'
                            WHEN 1 THEN 'connect_timeout'
                            ELSE 'read_timeout' END AS tkind,
               CASE WHEN s10 % 11 = 0 THEN 1 + s11 % 3 ELSE 0 END AS hseed
        FROM seeds
    ), outcome AS (
        SELECT *,
               CASE WHEN kind = 'permanent' THEN 404
                    WHEN kind = 'transient' AND n_fail >= {mx}
                      THEN CASE WHEN tkind = 'http_503' THEN 503 ELSE 0 END
                    ELSE 200 END AS status,
               CASE WHEN kind = 'transient' THEN least(n_fail + 1, {mx})
                    ELSE 1 END AS attempts,
               CASE WHEN kind = 'permanent' THEN 'http_404'
                    WHEN kind = 'transient' AND n_fail >= {mx} THEN tkind
                    END AS error_kind,
               CASE WHEN kind = 'permanent' OR
                         (kind = 'transient' AND n_fail >= {mx})
                    THEN 0 ELSE hseed END AS redirects,
               CASE WHEN kind = 'permanent' THEN 10 + s5 % 90
                    WHEN kind = 'transient' AND n_fail >= {mx} THEN
                        CASE tkind WHEN 'http_503' THEN 5 + s5 % 45
                                   WHEN 'connect_timeout' THEN 3 + s5 % 20
                                   ELSE 30 + s5 % 200 END
                    ELSE 20 + s5 % 480 + 15 * hseed END AS elapsed_ms
        FROM plan
    ), payload AS (
        SELECT *,
               substr(repeat(hx, (64 + s4 % 192)::int), 1,
                      (1024 + s6 % 4096)::int) AS filler,
               CASE head_hex {head_decode} END AS head_str,
               {_ct_sql("fetch_url")} AS ct
        FROM outcome
    ), ident AS (
        SELECT *,
               md5(lower(head_hex) || lower(hex(filler))) AS src_hex_md5,
               length(head_hex) // 2 + length(filler) AS src_len,
               strftime(publication_ts, '%d %B %Y') AS wm_date
        FROM payload
    ), streams AS (
        SELECT *,
               {lit(stream_prefix + " (CONVERTED-FROM: ")} || ct ||
               {lit(") Tj T* (SOURCE-HEX-MD5: ")} || src_hex_md5 ||
               {lit(") Tj T* (SOURCE-BYTES-LEN: ")} || src_len::varchar ||
               {lit(") Tj ET")} AS stream1,
               {lit(stream_prefix + " ")} ||
               CASE WHEN length(fetch_url) <= {p1_budget}
                    THEN '(Original publicly accessible source: ' ||
                         fetch_url || '.) Tj'
                    ELSE '(Original publicly accessible source:) Tj T* (' ||
                         fetch_url || '.) Tj' END ||
               ' T* () Tj T* ({p2l1}) Tj T* (' || wm_date ||
               '.) Tj T* () Tj T* ' || {lit(p3_tj)} || ' ET' AS stream2
        FROM ident
    ), pdfdoc AS (
        SELECT *,
               {pdf_header} || {seg_sql[1]} || {seg_sql[2]} || {seg_sql[3]} ||
               {seg_sql[4]} ||
               '5 0 obj{nl}<< /Length ' || length(stream1)::varchar ||
               ' >>{nl}stream{nl}' || stream1 || '{nl}endstream{nl}endobj{nl}' ||
               {seg_sql[6]} ||
               '7 0 obj{nl}<< /Length ' || length(stream2)::varchar ||
               ' >>{nl}stream{nl}' || stream2 || '{nl}endstream{nl}endobj{nl}'
                   AS body_str
        FROM streams
    ), assembled AS (
        SELECT *,
               body_str || 'xref{nl}0 8{nl}0000000000 65535 f {nl}' ||
               lpad(length({pdf_header})::varchar, 10, '0') || ' 00000 n {nl}' ||
               lpad((length({pdf_header}) + length({seg_sql[1]}))::varchar, 10, '0') || ' 00000 n {nl}' ||
               lpad((length({pdf_header}) + length({seg_sql[1]}) + length({seg_sql[2]}))::varchar, 10, '0') || ' 00000 n {nl}' ||
               lpad((length({pdf_header}) + length({seg_sql[1]}) + length({seg_sql[2]}) + length({seg_sql[3]}))::varchar, 10, '0') || ' 00000 n {nl}' ||
               lpad((length({pdf_header}) + length({seg_sql[1]}) + length({seg_sql[2]}) + length({seg_sql[3]}) + length({seg_sql[4]}))::varchar, 10, '0') || ' 00000 n {nl}' ||
               lpad((length({pdf_header}) + length({seg_sql[1]}) + length({seg_sql[2]}) + length({seg_sql[3]}) + length({seg_sql[4]}) +
                     length('5 0 obj{nl}<< /Length ' || length(stream1)::varchar || ' >>{nl}stream{nl}' || stream1 || '{nl}endstream{nl}endobj{nl}'))::varchar, 10, '0') || ' 00000 n {nl}' ||
               lpad((length(body_str) - length('7 0 obj{nl}<< /Length ' || length(stream2)::varchar || ' >>{nl}stream{nl}' || stream2 || '{nl}endstream{nl}endobj{nl}'))::varchar, 10, '0') || ' 00000 n {nl}' ||
               'trailer{nl}<< /Size 8 /Root 1 0 R >>{nl}startxref{nl}' ||
               length(body_str)::varchar || '{nl}%%EOF{nl}' AS pdf_str
        FROM pdfdoc
    ), manifest AS (
        SELECT *,
               ct IN {supported} AS is_supported,
               ct IN {converted} AS is_converted,
               CASE WHEN status <> 200 THEN NULL
                    WHEN ct = 'text/html' THEN 'application/pdf'
                    ELSE ct END AS content_type_out,
               CASE WHEN status <> 200 THEN 0::bigint
                    WHEN ct IN {converted} THEN length(pdf_str)::bigint
                    ELSE (length(head_hex) // 2 + length(filler))::bigint
                    END AS n_bytes,
               CASE WHEN status <> 200 THEN NULL
                    WHEN ct IN {converted} THEN md5(pdf_str)
                    ELSE md5(head_str || filler) END AS md5_sum,
               CASE WHEN status <> 200 THEN 'DownloadError'
                    WHEN ct NOT IN {supported}
                      THEN 'UnsupportedContentTypeError' END AS error
        FROM assembled
    ), named AS (
        SELECT *,
               geography || '/' || year(publication_ts)::varchar AS prefix,
               {_SLUG_SQL} AS slug
        FROM manifest
    ), trimmed AS (
        SELECT *,
               substr(slug, 1,
                      list_filter(generate_series(least(length(slug), 200), 0, -5),
                                  k -> strlen(substr(slug, 1, k)) <= 200)[1]
               ) AS fs_trimmed
        FROM named
    )
    SELECT import_id, domain, status::int AS status, attempts::int AS attempts,
           ({fetch_op.BACKOFF_BASE_MS} * ((1::bigint << (attempts - 1)) - 1))::int
               AS backoff_ms,
           elapsed_ms::int AS elapsed_ms, redirects::int AS redirects,
           error_kind, content_type_out AS content_type, n_bytes, md5_sum,
           CASE WHEN error IS NULL THEN
               prefix || '/' ||
               substr(fs_trimmed, 1,
                      1024 - length(prefix) - length('.pdf') - length(md5_sum) - 2)
               || '_' || md5_sum || '.pdf' END AS cdn_object,
           error
    FROM trimmed ORDER BY import_id
    """


register(
    "ingest_download_fetch",
    fetch_op.ingest_download_fetch,
    _fetch_manifest_sql(),
)

register(
    "ingest_fetch_retry",
    fetch_op.ingest_fetch_retry,
    # the retry loop's accounting IS oracle-able: the stub failure model
    # is a pure function of md5(fetch_url), so DuckDB independently
    # derives status / attempts / exponential-backoff total / dead-letter
    # per row. backoff for a attempts = BASE * (2^(a-1) - 1).
    _ND + f"""
    , work AS (
        SELECT import_id,
               coalesce(nullif(download_url, ''), nullif(source_url, '')) AS fetch_url
        FROM new_docs
    ), seeds AS (
        SELECT import_id,
               ('0x' || substr(md5(fetch_url), 1, 8))::bigint  AS s04,
               ('0x' || substr(md5(fetch_url), 9, 8))::bigint  AS s48,
               ('0x' || substr(md5(fetch_url), 19, 2))::bigint AS s9,
               ('0x' || substr(md5(fetch_url), 25, 2))::bigint AS s12
        FROM work WHERE fetch_url IS NOT NULL
    ), plan AS (
        SELECT import_id,
               CASE WHEN s04 % 29 = 0 THEN 'permanent'
                    WHEN s48 % 13 = 0 THEN 'transient'
                    ELSE 'ok' END AS kind,
               CASE WHEN s04 % 29 <> 0 AND s48 % 13 = 0
                    THEN 1 + s9 % 5 ELSE 0 END AS n_fail,
               s12 % 3 AS tk
        FROM seeds
    ), outcome AS (
        SELECT import_id,
               CASE WHEN kind = 'permanent' THEN 404
                    WHEN kind = 'transient' AND n_fail >= {fetch_op.MAX_ATTEMPTS}
                      THEN CASE WHEN tk = 0 THEN {fetch_op.RETRYABLE_STATUS}
                                ELSE {fetch_op.STATUS_NO_RESPONSE} END
                    ELSE 200 END AS status,
               CASE WHEN kind = 'transient'
                    THEN least(n_fail + 1, {fetch_op.MAX_ATTEMPTS})
                    ELSE 1 END AS attempts
        FROM plan
    )
    SELECT import_id, status::int AS status, attempts::int AS attempts,
           ({fetch_op.BACKOFF_BASE_MS} * ((1::bigint << (attempts - 1)) - 1))::int AS backoff_ms,
           status <> 200 AS dead_letter
    FROM outcome ORDER BY import_id
    """,
)


# --------------------------------------------------------------------------
# §2.2 sources / sinks (round-trip queries: write through the sink, read
# back through the source, compare against the producing operator's oracle
# — value-equality proves the sink+source pair is lossless)
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.sources import json_cache, pipeline_updates, sinks

register(
    "src_pipeline_updates",
    pipeline_updates.src_pipeline_updates,
    _UP + """
    SELECT document_id, seq, update_type,
           'cur-' || update_type || '-' || doc_id AS s3_value,
           'new-' || update_type || '-' || doc_id AS db_value
    FROM typed_updates ORDER BY document_id, seq
    """,
)

register("src_json_cache", json_cache.src_json_cache, _PARSER_INPUT_SQL)
register("sink_parser_input", sinks.sink_parser_input, _PARSER_INPUT_SQL)
register("sink_report", sinks.sink_report, _REPORT_SQL)


# --------------------------------------------------------------------------
# §2.4 LLM-data-pipeline operators
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.functions import exprs as X
from navigator_data_ingest_spark.functions.exact import dk_rat6 as _dk_rat6
from navigator_data_ingest_spark.operators import dedup, similarity, textstats

register(
    "dedup_exact",
    dedup.dedup_exact,
    """
    SELECT doc_id, md5(text) AS content_hash,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
    FROM documents ORDER BY doc_id
    """,
)

_DK_TOKS = X.dk_tokens("text")
_DK_SH3 = X.dk_shingles("t", 3)
_MH_COLS = ",\n           ".join(
    "list_aggregate(list_transform(sh_h, h -> ({a} * h + {b}) % {p}), 'min') AS mh{i}".format(
        a=dedup.minhash_coeffs(i)[0], b=dedup.minhash_coeffs(i)[1],
        p=dedup.MINHASH_P, i=i,
    )
    for i in range(dedup.N_MINHASH)
)
_BAND_HASH_CASES = " ".join(
    "WHEN {b} THEN md5({concat})".format(
        b=b,
        concat=" || ',' || ".join(
            f"mh{b * dedup.ROWS_PER_BAND + r}::varchar"
            for r in range(dedup.ROWS_PER_BAND)
        ),
    )
    for b in range(dedup.N_BANDS)
)

_MINHASH_CTES = f"""toks AS (
        SELECT doc_id, {_DK_TOKS} AS t FROM documents
    ), base AS (
        SELECT doc_id, list_distinct({_DK_SH3}) AS sh FROM toks
    ), hashed AS (
        SELECT doc_id, list_transform(sh, s -> {X.dk_hash32("s", 0)}) AS sh_h
        FROM base WHERE len(sh) > 0
    ), sig AS (
        SELECT doc_id,
           {_MH_COLS}
        FROM hashed
    ), bands AS (
        SELECT doc_id, band_id,
               CASE band_id {_BAND_HASH_CASES} END AS band_hash
        FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(band_id)
    )"""

register(
    "dedup_minhash_lsh",
    dedup.dedup_minhash_lsh,
    f"""
    WITH {_MINHASH_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::bigint AS n_shared_bands
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY doc_a, doc_b
    """,
)

register(
    "dedup_clusters",
    dedup.dedup_clusters,
    # Spark runs iterative min-label propagation; the oracle computes the
    # same components independently via a recursive transitive closure.
    f"""
    WITH RECURSIVE {_MINHASH_CTES}, lsh_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
        UNION ALL
        SELECT doc_b, doc_a FROM lsh_pairs
    ), reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ), lab AS (
        SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id
    ), sz AS (
        SELECT canonical_id, count(*)::bigint AS cluster_size FROM lab GROUP BY 1
    )
    SELECT doc_id, canonical_id, cluster_size,
           doc_id <> canonical_id AS is_duplicate
    FROM lab JOIN sz USING (canonical_id)
    ORDER BY doc_id
    """,
)

register(
    "dedup_simhash",
    dedup.dedup_simhash,
    f"""
    WITH base AS (
        SELECT doc_id,
               list_transform(list_distinct({_DK_TOKS}),
                              tok -> md5('{dedup.SIMHASH_SEED}:' || tok)) AS hm
        FROM documents
    ), hashed AS (
        SELECT doc_id,
               list_transform(hm, m -> ('0x' || substr(m, 1, 8))::ubigint::bigint) AS hh,
               list_transform(hm, m -> ('0x' || substr(m, 9, 8))::ubigint::bigint) AS hl
        FROM base WHERE len(hm) > 0
    ), sig AS (
        SELECT doc_id,
               list_sum(list_transform(generate_series(0, 31), j ->
                   CASE WHEN list_sum(list_transform(hh,
                            h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                        THEN (1::bigint << j) ELSE 0 END))::bigint AS sim_hi,
               list_sum(list_transform(generate_series(0, 31), j ->
                   CASE WHEN list_sum(list_transform(hl,
                            h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                        THEN (1::bigint << j) ELSE 0 END))::bigint AS sim_lo
        FROM hashed
    ), bands AS (
        SELECT doc_id, sim_hi, sim_lo, band_id,
               (CASE WHEN band_id < 2 THEN sim_lo ELSE sim_hi END
                >> (16 * (band_id % 2))) & 65535 AS band_val
        FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) b(band_id)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               (bit_count(xor(a.sim_hi, b.sim_hi))
                + bit_count(xor(a.sim_lo, b.sim_lo)))::int AS hamming
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= {dedup.SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
)

register(
    "dedup_ngram_jaccard",
    dedup.dedup_ngram_jaccard,
    # exact Jaccard verified on the LSH candidate pairs (funnel stage 2),
    # mirroring the Spark plan: candidates from the band join, shingle
    # sets joined back by doc_id
    f"""
    WITH {_MINHASH_CTES},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), scored AS (
        SELECT doc_a, doc_b,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::double /
               (len(sa.sh) + len(sb.sh)
                - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))::double AS jac
        FROM cand
        JOIN base sa ON doc_a = sa.doc_id
        JOIN base sb ON doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard
    FROM scored WHERE jac >= {dedup.JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)

_DK_DOT_AB = X.dk_fold_dot("a.embedding", "b.embedding", dedup.EMB_DIM)
_DK_DOT_AA = X.dk_fold_dot("a.embedding", "a.embedding", dedup.EMB_DIM)
_DK_DOT_BB = X.dk_fold_dot("b.embedding", "b.embedding", dedup.EMB_DIM)

# dedup_embedding_cosine registers below, after the hyperplane-bucket
# SQL (_DK_BUCKET) it now shares with sim_search_lsh is defined.

_DK_DOT_QE = X.dk_fold_dot("q.qvec", "e.embedding", similarity.EMB_DIM)
_DK_DOT_QQ = X.dk_fold_dot("q.qvec", "q.qvec", similarity.EMB_DIM)
_DK_DOT_EE = X.dk_fold_dot("e.embedding", "e.embedding", similarity.EMB_DIM)

register(
    "sim_search_bruteforce",
    similarity.sim_search_bruteforce,
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {similarity.query_stripe_sql()}
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {_DK_DOT_QE} / (sqrt({_DK_DOT_QQ}) * sqrt({_DK_DOT_EE})) AS c
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id, c,
               row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(c, 6) AS cos_sim, rank::int AS rank
    FROM ranked WHERE rank <= {similarity.TOP_K}
    ORDER BY query_id, rank
    """,
)


def _dk_plane_component(p: str, i: str) -> str:
    key = f"'p' || {p}::varchar || 'd' || ({i} - 1)::varchar"
    return f"(({X.dk_hash32(key, similarity.PLANE_SEED)} % 2001) - 1000) / 1000.0"


_DK_BUCKET = (
    f"list_sum(list_transform(generate_series(0, {similarity.N_PLANES - 1}), p -> "
    f"CASE WHEN list_reduce(list_transform(generate_series(1, {similarity.EMB_DIM}), "
    f"i -> embedding[i]::double * ({_dk_plane_component('p', 'i')})), (x, y) -> x + y) > 0 "
    f"THEN (1::bigint << p) ELSE 0::bigint END))::bigint"
)

register(
    "sim_search_lsh",
    similarity.sim_search_lsh,
    f"""
    WITH eb AS (
        SELECT vec_id, embedding, {_DK_BUCKET} AS bucket FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
        FROM eb WHERE {similarity.query_stripe_sql()}
    ), scored AS (
        SELECT q.query_id, e.vec_id, e.bucket,
               {_DK_DOT_QE} / (sqrt({_DK_DOT_QQ}) * sqrt({_DK_DOT_EE})) AS c
        FROM eb e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id, bucket, c,
               row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, bucket, round(c, 6) AS cos_sim, rank::int AS rank
    FROM ranked WHERE rank <= {similarity.TOP_K}
    ORDER BY query_id, rank
    """,
)

register(
    "dedup_embedding_cosine",
    dedup.dedup_embedding_cosine,
    # candidates from hyperplane sign buckets (the sim_search_lsh
    # bucketing), cosine verified on bucket-local pairs only
    f"""
    WITH eb AS (
        SELECT vec_id, embedding, {_DK_BUCKET} AS bucket FROM embeddings
    ), scored AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
               {_DK_DOT_AB} / (sqrt({_DK_DOT_AA}) * sqrt({_DK_DOT_BB})) AS cos
        FROM eb a
        JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, bucket, round(cos, 6) AS cos_sim
    FROM scored WHERE cos >= {dedup.COSINE_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
)


def _dk_stop_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang]) + "]"


_DK_STOP_COUNTS = ",\n               ".join(
    f"len(list_filter(t, tok -> list_contains({_dk_stop_list(lang)}, tok))) AS c_{lang}"
    for lang in textstats.LANG_ORDER
)
_GREATEST = "greatest(" + ", ".join(f"c_{l}" for l in textstats.LANG_ORDER) + ")"
_PICK_CASES = " ".join(
    f"WHEN c_{l} = {_GREATEST} THEN '{l}'" for l in textstats.LANG_ORDER
)

# reusable langid oracle body: text_langid registers it directly, and the
# round-7 classifier-report ops (text_f1_langid, stats_gwet_ac1) wrap it
_LANGID_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, lang, {_DK_TOKS} AS t FROM documents
    ), counted AS (
        SELECT doc_id, lang, len(t) AS n,
               {_DK_STOP_COUNTS}
        FROM base
    )
    SELECT doc_id, lang AS declared_lang,
           {", ".join(f"c_{l}::bigint AS c_{l}" for l in textstats.LANG_ORDER)},
           CASE WHEN {_GREATEST} > 0 AND {_GREATEST} * 50 >= n
                THEN CASE {_PICK_CASES} END
                ELSE 'und' END AS detected_lang
    FROM counted ORDER BY doc_id
    """

register("text_langid", textstats.text_langid, _LANGID_ORACLE)

_DK_ALPHA = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
_DK_C_EN = f"len(list_filter(t, tok -> list_contains({_dk_stop_list('en')}, tok)))"

register(
    "text_quality",
    textstats.text_quality,
    f"""
    WITH base AS (
        SELECT doc_id, text, {_DK_TOKS} AS t FROM documents
    )
    SELECT doc_id,
           length(text)::bigint AS n_chars_actual,
           len(t)::bigint AS n_tokens,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::bigint AS n_punct,
           {_dk_rat6(f'({_DK_ALPHA})::BIGINT', 'length(text)::BIGINT')} AS alpha_ratio,
           {_dk_rat6(f'({_DK_C_EN})::BIGINT', 'len(t)::BIGINT')} AS stopword_ratio,
           {_dk_rat6('length(text)::BIGINT', 'len(t)::BIGINT')} AS avg_token_len,
           (len(t) >= 10 AND {_DK_ALPHA} * 10 >= length(text) * 6) AS keep
    FROM base ORDER BY doc_id
    """,
)

register(
    "text_tokens",
    textstats.text_tokens,
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\\S+'))::bigint AS n_ws_tokens,
           len(regexp_extract_all(text, '{textstats.BPE_PATTERN_DUCK}'))::bigint AS n_bpe_tokens,
           len(list_distinct({_DK_TOKS}))::bigint AS n_distinct_tokens,
           {_dk_rat6('length(text)::BIGINT',
                     f"len(regexp_extract_all(text, '{textstats.BPE_PATTERN_DUCK}'))::BIGINT")} AS chars_per_token
    FROM documents ORDER BY doc_id
    """,
)

_DK_SH4 = X.dk_shingles("t", textstats.FINGERPRINT_K)

register(
    "text_fingerprint",
    textstats.text_fingerprint,
    f"""
    WITH toks AS (
        SELECT doc_id, {_DK_TOKS} AS t FROM documents
    ), sh AS (
        SELECT doc_id, list_distinct({_DK_SH4}) AS shd FROM toks
    ), fp AS (
        SELECT doc_id, shd,
               list_distinct(list_filter(
                   list_transform(shd, s -> {X.dk_hash32('s', textstats.FINGERPRINT_SEED)}),
                   h -> h % {textstats.FINGERPRINT_MOD} = 0)) AS sel
        FROM sh
    )
    SELECT doc_id,
           len(shd)::bigint AS n_shingles,
           len(sel)::bigint AS fp_size,
           list_aggregate(sel, 'min') AS fp_min,
           list_aggregate(sel, 'max') AS fp_max
    FROM fp ORDER BY doc_id
    """,
)


# --------------------------------------------------------------------------
# §2.4 multimodal plumbing — the decode stub is deterministic, so the
# whole stage (metadata struct, batch decode, integer-exact resize,
# digest-derived features) gets a full SQL oracle despite being a
# mapInPandas operator.
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.operators import multimodal

register(
    "mm_decode_stub",
    # the flat projection: the driver's canonicalizer hashes rows via a
    # pandas sort over all columns, which cannot hash an array<float>
    # cell — the feature vector rides as its fixed-6-dp csv twin
    multimodal.mm_decode_flat,
    f"""
    WITH base AS (
        -- NULL rule: a NULL text is an EMPTY payload (the decode stub's
        -- `payload if payload else b""`), so n_bytes=0 and the feature
        -- digest is md5('') — never NULL
        SELECT doc_id,
               (['image', 'audio', 'video'])[1 + doc_id % 3] AS modality,
               octet_length(encode(coalesce(text, ''))) AS n_bytes,
               (128 + doc_id % 1920)::int AS w,
               (128 + (doc_id * 7) % 1080)::int AS h,
               md5(coalesce(text, '')) AS d
        FROM documents
    ), fmt AS (
        SELECT *,
               CASE modality
                    WHEN 'image' THEN (['png', 'jpeg', 'webp'])[1 + doc_id % 3]
                    WHEN 'audio' THEN (['wav', 'flac'])[1 + doc_id % 2]
                    WHEN 'video' THEN (['mp4', 'webm'])[1 + doc_id % 2]
               END AS format,
               greatest(w, h) AS m
        FROM base
    )
    SELECT doc_id, modality, format, n_bytes::bigint AS n_bytes,
           greatest(1, (w * {2 * multimodal.TARGET_SIZE} + m) // (2 * m))::int AS out_width,
           greatest(1, (h * {2 * multimodal.TARGET_SIZE} + m) // (2 * m))::int AS out_height,
           array_to_string(list_transform(generate_series(0, {multimodal.FEAT_DIM - 1}), i ->
               printf('%.6f', round(('0x' || substr(d, 4 * i + 1, 4))::int / 65535.0, 6))), ',') AS feature_csv
    FROM fmt ORDER BY doc_id
    """,
)


# --------------------------------------------------------------------------
# §2.2 / §2.4 streaming — availableNow drains into a memory sink, so even
# the streaming plans get full SQL oracles (single-file input => one
# micro-batch => update mode emits each window exactly once).
# --------------------------------------------------------------------------

from navigator_data_ingest_spark import streaming as streaming_ops
from navigator_data_ingest_spark.streaming import streams as streaming_streams

register(
    "src_stream_events",
    streaming_ops.src_stream_events,
    """
    SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value
    FROM events ORDER BY event_id
    """,
)

register(
    "stream_ingest",
    streaming_ops.stream_ingest,
    """
    SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS window_start,
           event_type,
           count(*)::bigint AS n_events,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)


register(
    "text_vocabulary",
    textstats.text_vocabulary,
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({X.dk_tokens('text')}) AS token FROM documents
    )
    SELECT token, count(*)::bigint AS tf, count(DISTINCT doc_id)::bigint AS df
    FROM tok GROUP BY token
    ORDER BY tf DESC, token LIMIT {textstats.VOCAB_TOP_N}
    """,
)


_DK_CCOS = (
    f"{X.dk_fold_dot('e.embedding', 'c.cvec', similarity.EMB_DIM)} / "
    f"(sqrt({X.dk_fold_dot('e.embedding', 'e.embedding', similarity.EMB_DIM)}) * "
    f"sqrt({X.dk_fold_dot('c.cvec', 'c.cvec', similarity.EMB_DIM)}))"
)

register(
    "sim_search_ivf",
    similarity.sim_search_ivf,
    f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings
        WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // {similarity.K_CENTROIDS}) = 1
    ), scored AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               {_DK_CCOS} AS ccos,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DK_CCOS} DESC, c.centroid_id) AS crn
        FROM embeddings e CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, embedding, centroid_id AS cell FROM scored WHERE crn = 1
    ), probe AS (
        SELECT vec_id AS query_id, embedding AS qvec, centroid_id AS cell
        FROM scored
        WHERE {similarity.query_stripe_sql()} AND crn <= {similarity.NPROBE}
    ), cand AS (
        SELECT p.query_id, a.vec_id, a.cell,
               {X.dk_fold_dot('p.qvec', 'a.embedding', similarity.EMB_DIM)} /
               (sqrt({X.dk_fold_dot('p.qvec', 'p.qvec', similarity.EMB_DIM)}) *
                sqrt({X.dk_fold_dot('a.embedding', 'a.embedding', similarity.EMB_DIM)})) AS c
        FROM probe p
        JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ), ranked AS (
        SELECT query_id, vec_id, cell, c,
               row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
        FROM cand
    )
    SELECT query_id, vec_id, cell, round(c, 6) AS cos_sim, rank::int AS rank
    FROM ranked WHERE rank <= {similarity.TOP_K}
    ORDER BY query_id, rank
    """,
)


register(
    "stream_sessionize",
    streaming_ops.stream_sessionize,
    # batch replay of the gap-session semantics; session_window's end is
    # last-event + gap, and Spark MERGES an event landing EXACTLY at the
    # session end (verified: two events gap-apart form ONE session), so
    # the batch rule breaks only on diff > gap (boundary-probe find:
    # minute-floored timestamps tie the boundary constantly).
    """
    WITH ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, value FROM events
    ), flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*)::bigint AS n_events,
           round(sum(value), 6) AS sum_value
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)


register(
    "stream_firstseen",
    streaming_ops.stream_firstseen,
    """
    WITH ranked AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id, ts AS first_ts, event_id AS first_event_id,
           value AS first_value
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)


register(
    "q_events_asof",
    analytics.q_events_asof,
    """
    WITH l AS (
        SELECT event_id, user_id, ts::TIMESTAMP AS ts
        FROM events WHERE event_type = 'purchase'
    ), r AS (
        -- one canonical click per (user, ts): max event_id wins, so
        -- equal-timestamp clicks can't make the ASOF nondeterministic
        SELECT user_id, ts::TIMESTAMP AS ts,
               (max({'i': event_id, 'v': value})).v AS value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, l.ts,
           r.ts AS asof_click_ts,
           round(r.value, 6) AS asof_click_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
    ORDER BY l.event_id
    """,
)


_BANDS_VALUES = ", ".join(
    f"('{b}', {lo}, {hi})" for b, lo, hi in analytics.VALUE_BANDS
)

register(
    "q_events_range_join",
    analytics.q_events_range_join,
    f"""
    WITH bands(band, lo, hi) AS (VALUES {_BANDS_VALUES})
    SELECT band,
           count(*)::bigint AS n_events,
           round(sum(value), 6) AS sum_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band ORDER BY band
    """,
)


register(
    "text_tfidf",
    textstats.text_tfidf,
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({X.dk_tokens('text')}) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*)::bigint AS tf
        FROM tok GROUP BY doc_id, token
    ), df_tbl AS (
        SELECT token, count(*)::bigint AS df FROM tf GROUP BY token
    ), n AS (
        SELECT count(*)::double AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, df_tbl.df,
               tf.tf::double * ln(n.n_docs / df_tbl.df::double) AS tfidf
        FROM tf JOIN df_tbl USING (token) CROSS JOIN n
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, token) AS rank
        FROM scored
    )
    SELECT doc_id, token, tf, df, round(tfidf, 6) AS tfidf, rank::int AS rank
    FROM ranked WHERE rank <= {textstats.TFIDF_TOP_K}
    ORDER BY doc_id, rank
    """,
)

register(
    "emb_quantize",
    similarity.emb_quantize,
    f"""
    WITH base AS (
        SELECT vec_id, label, embedding,
               list_reduce(list_transform(embedding, x -> abs(x::double)),
                           (m, x) -> greatest(m, x)) AS absmax
        FROM embeddings
    ), scaled AS (
        SELECT vec_id, label, embedding,
               absmax / {similarity.QUANT_BITS}.0 AS scale
        FROM base WHERE absmax > 0
    ), coded AS (
        SELECT vec_id, label, embedding, scale,
               list_transform(embedding,
                              x -> floor(x::double / scale + 0.5)::bigint) AS codes
        FROM scaled
    )
    SELECT vec_id, label,
           round(scale, 6) AS scale,
           list_sum(codes)::bigint AS code_sum,
           list_reduce(list_transform(codes, q -> abs(q)),
                       (a, q) -> greatest(a, q))::bigint AS max_code,
           round(list_reduce(
               list_transform(generate_series(1, {similarity.EMB_DIM}),
                              i -> abs(embedding[i]::double - codes[i] * scale)),
               (m, d) -> greatest(m, d)), 6) AS max_abs_err
    FROM coded ORDER BY vec_id
    """,
)


_FIELDS_VALUES = ", ".join(
    f"('{t}', '{f}')" for t, f in ingest.PIPELINE_FIELD.items()
)

register(
    "ingest_cache_rewrite",
    ingest.ingest_cache_rewrite,
    _ORDERED_ACTIONS_CTES + f"""
    , fu AS (
        SELECT document_id, update_type, action,
               CASE update_type WHEN 'name' THEN 'document_name'
                                WHEN 'description' THEN 'document_description'
                                WHEN 'source_url' THEN 'document_source_url'
                                WHEN 'metadata' THEN 'document_metadata'
                                WHEN 'slug' THEN 'document_slug' END AS pipeline_field,
               string_split(document_id, '.')[3]::bigint AS doc_num
        FROM ordered
        WHERE action IN ('update_dont_parse', 'update_field_in_all_occurences')
    ), pgrid AS (
        SELECT prefix
        FROM (VALUES ('parser_input'), ('embeddings_input'), ('indexer_input')) p(prefix)
    ), changes AS (
        SELECT document_id, prefix, pipeline_field,
               'new-' || update_type || '-' || doc_num AS new_value
        FROM fu
        JOIN pgrid ON (action = 'update_field_in_all_occurences')
                  OR (prefix <> 'indexer_input')
    ), fgrid AS (
        SELECT update_type, pipeline_field
        FROM (VALUES {_FIELDS_VALUES}) f(update_type, pipeline_field)
    ), cache AS (
        SELECT prefix,
               'TEST.executive.' || doc_id || '.' || doc_id AS document_id,
               pipeline_field,
               'cur-' || update_type || '-' || doc_id AS value
        FROM documents CROSS JOIN pgrid CROSS JOIN fgrid
    )
    SELECT c.prefix, c.document_id, c.pipeline_field,
           coalesce(ch.new_value, c.value) AS value,
           ch.new_value IS NOT NULL AS was_updated
    FROM cache c
    LEFT JOIN changes ch ON c.document_id = ch.document_id
                        AND c.prefix = ch.prefix
                        AND c.pipeline_field = ch.pipeline_field
    ORDER BY c.prefix, c.document_id, c.pipeline_field
    """,
)


# VERDICT r8 #2 conversion: the numpy path's float cosines carry
# summation-order ulps a SQL fold can't replay, so the DRIVER surface is
# the integer identity projection (query_id, vec_id, rank) — exactly the
# fold oracle minus its float column (measured identical at
# sf0.001/sf0.01, including round(cos,6)). pytest pins the float values
# via sim_search_bruteforce_np_scored vs the fold twin.
register(
    "sim_search_bruteforce_np",
    similarity.sim_search_bruteforce_np,
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {similarity.query_stripe_sql()}
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {_DK_DOT_QE} / (sqrt({_DK_DOT_QQ}) * sqrt({_DK_DOT_EE})) AS c
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY round(c, 6) DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, rank::int AS rank
    FROM ranked WHERE rank <= {similarity.TOP_K}
    ORDER BY query_id, rank
    """,
)


register(
    "text_pii_scrub",
    textstats.text_pii_scrub,
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{textstats.PII_EMAIL}'))::bigint AS n_emails,
           len(regexp_extract_all(text, '{textstats.PII_DIGITS}'))::bigint AS n_phoneish,
           len(regexp_extract_all(text, '{textstats.PII_IPV4}'))::bigint AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{textstats.PII_EMAIL}', '<EMAIL>', 'g'),
               '{textstats.PII_IPV4}', '<IP>', 'g'),
               '{textstats.PII_DIGITS}', '<NUMBER>', 'g')) AS scrubbed_md5
    FROM documents ORDER BY doc_id
    """,
)

register(
    "dedup_url",
    dedup.dedup_url,
    _ND + r"""
    , fl AS (
        SELECT doc_id, coalesce(download_url, source_url) AS fetch_url
        FROM new_docs
        WHERE coalesce(download_url, source_url) IS NOT NULL
    ), c AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(lower(fetch_url),
                   '^[a-z]+://(www\.)?', ''), '[?#].*$', ''), '/$', '') AS canonical_url
        FROM fl
    )
    SELECT doc_id, canonical_url,
           min(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
           doc_id <> min(doc_id) OVER (PARTITION BY canonical_url) AS is_duplicate
    FROM c ORDER BY doc_id
    """,
)


register(
    "stats_length_regression",
    textstats.stats_length_regression,
    f"""
    WITH xy AS (
        SELECT lang,
               len({X.dk_tokens('text')})::double AS x,
               length(text)::double AS y
        FROM documents
    )
    SELECT lang, regr_count(y, x)::bigint AS n,
           round(regr_slope(y, x), 6) AS slope,
           round(regr_intercept(y, x), 6) AS intercept,
           round(regr_r2(y, x), 6) AS r2
    FROM xy GROUP BY lang ORDER BY lang
    """,
)


register(
    "stream_enrich_join",
    streaming_ops.stream_enrich_join,
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts::TIMESTAMP AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS click_ts,
               value AS click_value
        FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id, p.purchase_ts,
           c.click_id, c.click_ts, round(c.click_value, 6) AS click_value
    FROM p JOIN c ON p.user_id = c.user_id
                 AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
                 AND c.click_ts <= p.purchase_ts
    ORDER BY purchase_id, click_id
    """,
)


register(
    "q_orders_rollup",
    analytics.q_orders_rollup,
    """
    SELECT year(o_orderdate)::int AS order_year,
           o_orderpriority AS priority,
           count(*)::bigint AS n_orders,
           round(sum(o_totalprice), 6) AS total_price
    FROM orders
    GROUP BY ROLLUP (order_year, priority)
    ORDER BY order_year NULLS FIRST, priority NULLS FIRST
    """,
)

register(
    "q_orders_pivot",
    analytics.q_orders_pivot,
    """
    SELECT year(o_orderdate)::int AS order_year,
           count(*) FILTER (o_orderpriority = '1-URGENT')::bigint        AS p1,
           count(*) FILTER (o_orderpriority = '2-HIGH')::bigint          AS p2,
           count(*) FILTER (o_orderpriority = '3-MEDIUM')::bigint        AS p3,
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED')::bigint AS p4,
           count(*) FILTER (o_orderpriority = '5-LOW')::bigint           AS p5
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)

register(
    "q_events_percentiles",
    analytics.q_events_percentiles,
    f"""
    SELECT event_type,
           {", ".join(f"round(quantile_cont(value, {p}), 6) AS p{int(p * 100)}" for p in analytics.PCTS)}
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)


register(
    "q_customers_no_orders",
    analytics.q_customers_no_orders,
    """
    SELECT n_name,
           count(*)::bigint AS n_customers,
           round(sum(c_acctbal), 6) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY n_name ORDER BY n_name
    """,
)

register(
    "q_orders_above_avg",
    analytics.q_orders_above_avg,
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS total_price
    FROM orders o
    WHERE o_totalprice > 1.8 * (
        SELECT avg(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o_orderkey
    """,
)


register(
    "q_events_moving_avg",
    analytics.q_events_moving_avg,
    """
    SELECT event_id, user_id, ts::TIMESTAMP AS ts,
           round(avg(value) OVER w, 6) AS avg_value_4,
           count(*) OVER w AS n_in_frame
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)

register(
    "q6_revenue_delta",
    analytics.q6_revenue_delta,
    """
    SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
           count(*)::bigint AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)

register(
    "q4_order_priority",
    analytics.q4_order_priority,
    """
    SELECT o_orderpriority, count(*)::bigint AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

register(
    "q12_priority_lines",
    analytics.q12_priority_lines,
    """
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::bigint AS high_line_count,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END)::bigint AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)

register(
    "q14_promo_revenue",
    analytics.q14_promo_revenue,
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6)
               AS promo_revenue_pct,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)

register(
    "q18_large_orders",
    analytics.q18_large_orders,
    """
    WITH big AS (
        SELECT l_orderkey, round(sum(l_quantity), 6) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 150
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 6) AS total_price, sum_qty
    FROM big
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_price DESC, o_orderkey
    LIMIT 100
    """,
)

register(
    "q19_bracket_revenue",
    analytics.q19_bracket_revenue,
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
           count(*)::bigint AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)

register(
    "q10_returned_items",
    analytics.q10_returned_items,
    """
    WITH rev AS (
        SELECT o_custkey,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, round(c_acctbal, 6) AS acctbal,
           n_name AS nation, revenue
    FROM rev
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)

register(
    "q13_order_distribution",
    analytics.q13_order_distribution,
    """
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey)::bigint AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    )
    SELECT c_count, count(*)::bigint AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

register(
    "q17_small_qty_revenue",
    analytics.q17_small_qty_revenue,
    """
    WITH joined AS (
        SELECT l_quantity, l_extendedprice,
               avg(l_quantity) OVER (PARTITION BY p_partkey) AS avg_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#23' AND p_size < 10
    )
    SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly
    FROM joined
    WHERE l_quantity < 0.5 * avg_qty
    """,
)

register(
    "q22_idle_customers",
    analytics.q22_idle_customers,
    """
    SELECT c_mktsegment,
           count(*)::bigint AS numcust,
           round(sum(c_acctbal), 6) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

register(
    "q21_blamed_supplier",
    analytics.q21_blamed_supplier,
    """
    WITH li_f AS (
        SELECT l_orderkey, l_suppkey, l_returnflag
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    ),
    order_stats AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l_returnflag = 'R'
                                   THEN l_suppkey END) AS n_supp_r
        FROM li_f GROUP BY l_orderkey
    ),
    blamed AS (
        SELECT DISTINCT f.l_orderkey, f.l_suppkey
        FROM li_f f
        JOIN order_stats s ON f.l_orderkey = s.l_orderkey
        WHERE f.l_returnflag = 'R' AND s.n_supp > 1 AND s.n_supp_r = 1
    )
    SELECT s_name, count(*)::bigint AS numwait
    FROM blamed JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)

register(
    "q16_supplier_variety",
    analytics.q16_supplier_variety,
    """
    WITH bridge AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey)::bigint AS supplier_cnt
    FROM bridge
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

register(
    "q2_min_cost_supplier",
    analytics.q2_min_cost_supplier,
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               round(avg(l_extendedprice / l_quantity), 6) AS cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
        SELECT c.l_partkey, c.l_suppkey, c.cost, p.p_name,
               row_number() OVER (PARTITION BY c.l_partkey
                                  ORDER BY c.cost, c.l_suppkey) AS rk
        FROM cost c
        JOIN part p ON c.l_partkey = p.p_partkey
        WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
    )
    SELECT l_partkey AS p_partkey, p_name, s_name,
           round(s_acctbal, 6) AS acctbal, cost AS min_cost
    FROM ranked JOIN supplier ON l_suppkey = s_suppkey
    WHERE rk = 1
    ORDER BY acctbal DESC, s_name, p_partkey
    LIMIT 100
    """,
)

register(
    "q7_nation_volume",
    analytics.q7_nation_volume,
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate)::int AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    GROUP BY supp_nation, cust_nation, ship_year
    ORDER BY supp_nation, cust_nation, ship_year
    """,
)

register(
    "q8_market_share",
    analytics.q8_market_share,
    """
    SELECT year(o_orderdate)::int AS o_year,
           round(sum(CASE WHEN n1.n_name = 'NATION_5'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS total_volume
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY o_year
    ORDER BY o_year
    """,
)

register(
    "q_customer_retention",
    analytics.q_customer_retention,
    """
    WITH y96 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
    ),
    y97 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    ),
    flagged AS (
        SELECT o_custkey, 'repeat' AS kind FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
        UNION ALL
        SELECT o_custkey, 'churned' AS kind FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
    )
    SELECT c_mktsegment, kind, count(*)::bigint AS n_custs
    FROM flagged JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, kind
    ORDER BY c_mktsegment, kind
    """,
)

register(
    "q_cube_pricing",
    analytics.q_cube_pricing,
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus)::int AS gid,
           round(sum(l_quantity), 6) AS sum_qty,
           -- exact integer cents (order-proof; see q_cube_pricing)
           round(sum(round(l_extendedprice * 100)::BIGINT) / 100.0, 6)
               AS sum_price,
           count(*)::bigint AS n_lines
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
)

register(
    "q_ntile_spend",
    analytics.q_ntile_spend,
    """
    WITH spend AS (
        SELECT o_custkey, round(sum(o_totalprice), 6) AS spend
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(spend, 0.25) AS c25,
               quantile_cont(spend, 0.5)  AS c50,
               quantile_cont(spend, 0.75) AS c75
        FROM spend
    ),
    tiled AS (
        SELECT spend,
               (CASE WHEN spend >= c75 THEN 1
                     WHEN spend >= c50 THEN 2
                     WHEN spend >= c25 THEN 3
                     ELSE 4 END)::int AS quartile
        FROM spend CROSS JOIN cuts
    )
    SELECT quartile, count(*)::bigint AS n_custs,
           round(min(spend), 6) AS min_spend,
           round(max(spend), 6) AS max_spend,
           round(avg(spend), 6) AS avg_spend
    FROM tiled GROUP BY quartile ORDER BY quartile
    """,
)

register(
    "q_unpivot_measures",
    analytics.q_unpivot_measures,
    """
    WITH wide AS (
        SELECT l_returnflag,
               round(sum(l_quantity), 6) AS m_qty,
               round(sum(l_extendedprice), 6) AS m_price,
               round(sum(l_discount), 6) AS m_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS measure, m_qty AS val FROM wide
    UNION ALL
    SELECT l_returnflag, 'price', m_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'disc', m_disc FROM wide
    ORDER BY l_returnflag, measure
    """,
)

register(
    "q_hash_sample",
    analytics.q_hash_sample,
    """
    SELECT o_orderpriority, count(*)::bigint AS n_sampled,
           round(avg(o_totalprice), 6) AS avg_price
    FROM orders
    WHERE cast(('0x' || substring(md5(o_orderkey::varchar), 1, 8)) AS BIGINT) % 100 < 5
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

register(
    "emb_centroids",
    similarity.emb_centroids,
    """
    WITH exploded AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v
        FROM embeddings
    )
    SELECT label, pos::int AS pos, round(avg(v), 6) AS c
    FROM exploded
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)

register(
    "stream_dedup_wm",
    streaming_ops.stream_dedup_wm,
    """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
)

register(
    "stream_session_append",
    streaming_ops.stream_session_append,
    # same gap-session replay as stream_sessionize, filtered to sessions
    # the final watermark (max ts - 1 hour) has closed: append mode
    # emits exactly those, once each
    """
    WITH ev AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, value FROM events
    ), flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), agg AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*)::bigint AS n_events,
               round(sum(value), 6) AS sum_value
        FROM sessions
        GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM agg
    WHERE session_end <= (SELECT max(ts)::TIMESTAMP - INTERVAL 1 HOUR
                          FROM events)
    ORDER BY user_id, session_start
    """,
)

register(
    "q_approx_distinct",
    analytics.q_approx_distinct,
    # the sketch value is engine-specific; the CONTRACT (exact counts +
    # the sketch landing inside its error bound) is what the oracle pins
    """
    SELECT event_type,
           count(DISTINCT user_id)::bigint AS exact_users,
           true AS within_tol
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)

register(
    "q_approx_quantiles",
    analytics.q_approx_quantiles,
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6)  AS p50_exact,
           round(quantile_cont(value, 0.95), 6) AS p95_exact,
           true AS within_tol
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)

register(
    "mm_frame_sample",
    multimodal.mm_frame_sample,
    # replays multimodal_table's deterministic video selection
    # (doc_id%3=2), duration ((doc_id%600)/10), the min(4, dur//15+1)
    # frame count, and the md5(payload||':'||i) frame feature
    """
    WITH vids AS (
        SELECT doc_id, text,
               (doc_id % 600) / 10.0 AS dur,
               least(4, floor(((doc_id % 600) / 10.0) / 15.0)::int + 1) AS n
        FROM documents
        WHERE doc_id % 3 = 2
    )
    SELECT doc_id, i::int AS frame_idx,
           round(dur * i / n, 6) AS frame_ts,
           -- NULL text == empty payload (decode-stub rule), never NULL
           round(cast(('0x' || substring(md5(coalesce(text, '') || ':' || i::varchar), 1, 4))
                      AS BIGINT) / 65535.0, 6) AS f0
    FROM vids, range(0, 4) t(i)
    WHERE i < n
    ORDER BY doc_id, frame_idx
    """,
)

register(
    "q_events_json",
    analytics.q_events_json,
    """
    SELECT event_type,
           count(*)::bigint AS n_events,
           round(avg((props->>'$.k')::int), 6) AS avg_k,
           max((props->>'$.k')::int) AS max_k,
           count(CASE WHEN (props->>'$.k') IS NULL THEN 1 END)::bigint AS null_ks
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)

register(
    "q_events_gapfill",
    analytics.q_events_gapfill,
    """
    WITH ev AS (
        SELECT ts::TIMESTAMP::DATE AS day, event_type FROM events
    ),
    daily AS (
        SELECT day, event_type, count(*)::bigint AS n_raw
        FROM ev GROUP BY day, event_type
    ),
    spine AS (
        SELECT unnest(generate_series((SELECT min(day) FROM ev),
                                      (SELECT max(day) FROM ev),
                                      INTERVAL 1 DAY))::DATE AS day
    ),
    grid AS (
        SELECT s.day, t.event_type
        FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
    )
    SELECT g.day, g.event_type,
           coalesce(d.n_raw, 0)::bigint AS n_events
    FROM grid g
    LEFT JOIN daily d ON g.day = d.day AND g.event_type = d.event_type
    ORDER BY g.day, g.event_type
    """,
)

register(
    "q_events_ffill",
    analytics.q_events_ffill,
    """
    SELECT event_id, user_id,
           round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING), 6) AS last_purchase_value
    FROM events
    ORDER BY event_id
    """,
)

register(
    "q_spend_distribution",
    analytics.q_spend_distribution,
    """
    WITH spend AS (
        SELECT o_custkey, round(sum(o_totalprice), 6) AS spend
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT n_name, o_custkey, spend,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               first_value(o_custkey) OVER w AS top_custkey
        FROM spend
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WINDOW w AS (PARTITION BY n_name ORDER BY spend DESC, o_custkey)
    )
    SELECT * FROM ranked
    WHERE pct_rank <= 0.1
    ORDER BY n_name, spend DESC, o_custkey
    """,
)

from navigator_data_ingest_spark.sources import flat as flat_src

register(
    "src_csv_roundtrip",
    flat_src.src_csv_roundtrip,
    # value-equality with the parquet-sourced original proves the CSV
    # sink/source pair is lossless for the typed columns carried
    """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 6) AS total_price,
           o_orderdate, o_orderpriority
    FROM orders
    ORDER BY o_orderkey
    """,
)

register(
    "dedup_levenshtein",
    dedup.dedup_levenshtein,
    f"""
    WITH {_MINHASH_CTES},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pfx AS (
        SELECT doc_id, substring(text, 1, 200) AS prefix FROM documents
    )
    SELECT doc_a, doc_b,
           levenshtein(pa.prefix, pb.prefix)::int AS edit_distance,
           round(1.0 - levenshtein(pa.prefix, pb.prefix)
                 / greatest(length(pa.prefix), length(pb.prefix)), 6)
               AS prefix_similarity
    FROM cand
    JOIN pfx pa ON doc_a = pa.doc_id
    JOIN pfx pb ON doc_b = pb.doc_id
    ORDER BY doc_a, doc_b
    """,
)

register(
    "text_readability",
    textstats.text_readability,
    """
    WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
    counts AS (
        SELECT doc_id,
               greatest(len(regexp_extract_all(t, '[a-z0-9]+')), 1)  AS n_words,
               greatest(len(regexp_extract_all(t, '[.!?]+')), 1)     AS n_syl_sentences,
               greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1)  AS n_syllables
        FROM t
    )
    SELECT doc_id,
           n_words::int AS n_words,
           n_syl_sentences::int AS n_sentences,
           n_syllables::int AS n_syllables,
           round(206.835 - 1.015 * (n_words / n_syl_sentences)
                 - 84.6 * (n_syllables / n_words), 6) AS flesch
    FROM counts
    ORDER BY doc_id
    """,
)

register(
    "q_sql_api",
    analytics.q_sql_api,
    # the SAME statement text runs on both engines (common SQL core)
    """
    SELECT n_name AS nation,
           count(*)::bigint AS n_customers,
           round(sum(c_acctbal), 6) AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY n_name
    ORDER BY n_name
    """,
)

# --------------------------------------------------------------------------
# §2.4 corpus-preparation (round 2): passage dedup, contamination,
# repetition, packing, stratified sampling, blocklist
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.operators import corpus

register("dedup_passage", corpus.dedup_passage, corpus.dedup_passage_sql())
register(
    "text_contamination",
    corpus.text_contamination,
    corpus.text_contamination_sql(),
)
register("text_repetition", corpus.text_repetition, corpus.text_repetition_sql())
register("pack_sequences", corpus.pack_sequences, corpus.pack_sequences_sql())
register(
    "sample_stratified",
    corpus.sample_stratified,
    corpus.sample_stratified_sql(),
)
register(
    "filter_blocklist",
    corpus.filter_blocklist,
    corpus.filter_blocklist_sql(),
)
register(
    "text_gopher_rules",
    corpus.text_gopher_rules,
    corpus.text_gopher_rules_sql(),
)
register(
    "sample_temperature",
    corpus.sample_temperature,
    corpus.sample_temperature_sql(),
)

# --------------------------------------------------------------------------
# §2.2 sources/sinks (round 2): JSONL round-trip, bucketed co-located join
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.sources import bucketed, flat

register(
    "src_jsonl_roundtrip",
    flat.src_jsonl_roundtrip,
    """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents ORDER BY doc_id
    """,
)
register(
    "sink_bucketed_join",
    bucketed.sink_bucketed_join,
    bucketed.sink_bucketed_join_sql(),
)

# --------------------------------------------------------------------------
# round 2 continued: partition pruning, ORC, salted skew join
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.sources import partitioned

register(
    "sink_partitioned_prune",
    partitioned.sink_partitioned_prune,
    partitioned.sink_partitioned_prune_sql(),
)
register(
    "src_orc_roundtrip",
    flat.src_orc_roundtrip,
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_returnflag, l_shipdate
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
register(
    "q_skew_join_salted",
    analytics.q_skew_join_salted,
    """
    WITH m AS (
        SELECT event_type, avg(value) AS type_mean
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*)::bigint AS n_events,
           round(avg(abs(e.value - m.type_mean)), 6) AS mad
    FROM events e JOIN m USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
register(
    "emb_pq",
    similarity.emb_pq,
    similarity.emb_pq_sql(),
)
register(
    "mm_phash_neardup",
    multimodal.mm_phash_neardup,
    multimodal.mm_phash_neardup_sql(),
)
register(
    "emb_kmeans",
    similarity.emb_kmeans,
    """
    WITH emb AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c
        FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 4)
    ),
    s1 AS (
        SELECT emb.vec_id, emb.e, c0.cid,
               list_sum(list_transform(list_zip(emb.e, c0.c),
                        p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
        FROM emb CROSS JOIN c0
    ),
    a1 AS (
        SELECT vec_id, e, cid, dist2
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist2, cid) AS rn FROM s1) t
        WHERE rn = 1
    ),
    c1 AS (
        SELECT cid, list(av ORDER BY pos) AS c
        FROM (
            SELECT cid, pos, avg(v) AS av
            FROM (SELECT cid, generate_subscripts(e, 1) AS pos,
                         unnest(e) AS v FROM a1) d
            GROUP BY cid, pos
        ) g
        GROUP BY cid
    ),
    s2 AS (
        SELECT emb.vec_id, emb.e, c1.cid,
               list_sum(list_transform(list_zip(emb.e, c1.c),
                        p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
        FROM emb CROSS JOIN c1
    ),
    a2 AS (
        SELECT vec_id, e, cid, dist2
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist2, cid) AS rn FROM s2) t
        WHERE rn = 1
    ),
    c2 AS (
        SELECT cid, list(av ORDER BY pos) AS c
        FROM (
            SELECT cid, pos, avg(v) AS av
            FROM (SELECT cid, generate_subscripts(e, 1) AS pos,
                         unnest(e) AS v FROM a2) d
            GROUP BY cid, pos
        ) g
        GROUP BY cid
    )
    SELECT a2.cid::int AS cluster_id,
           count(*)::bigint AS n_members,
           round(avg(a2.dist2), 6) AS inertia,
           round(any_value(cs.s), 6) AS centroid_sum
    FROM a2 JOIN (SELECT cid, list_sum(c) AS s FROM c2) cs USING (cid)
    GROUP BY a2.cid
    ORDER BY cluster_id
    """,
)
register(
    "corpus_overlap",
    corpus.corpus_overlap,
    corpus.corpus_overlap_sql(),
)

from navigator_data_ingest_spark.sources import compact as _compact

register(
    "sink_compact",
    _compact.sink_compact,
    _compact.sink_compact_sql(),
)
register(
    "corpus_funnel",
    corpus.corpus_funnel,
    corpus.corpus_funnel_sql(),
)

from navigator_data_ingest_spark.operators import cdc

register(
    "cdc_upsert",
    cdc.cdc_upsert,
    cdc.cdc_upsert_sql(),
)
register(
    "src_schema_evolution",
    flat.src_schema_evolution,
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS price,
           NULL::int AS priority_rank, 1 AS v
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS price,
           substring(o_orderpriority, 1, 1)::int AS priority_rank, 2 AS v
    FROM orders WHERE o_orderkey % 2 = 1
    ORDER BY o_orderkey
    """,
)

from navigator_data_ingest_spark.operators import graph

register(
    "graph_pagerank",
    graph.graph_pagerank,
    graph.graph_pagerank_sql(),
)
register(
    "stream_windowed_topk",
    streaming_ops.stream_windowed_topk,
    """
    WITH agg AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               event_type,
               count(*)::bigint AS n_events,
               round(sum(value), 6) AS sum_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, sum_value, rank FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type ASC NULLS LAST)::int AS rank
        FROM agg
    ) r
    WHERE rank <= 3
    ORDER BY window_start, rank
    """,
)

register(
    "q_events_sliding",
    analytics.q_events_sliding,
    f"""
    WITH slots AS (
        SELECT date_trunc('hour', ts) - (g.k * INTERVAL 1 HOUR) AS window_start,
               event_type, value
        FROM events, generate_series(0, {analytics.SLIDE_LEN_H - 1}) g(k)
    )
    SELECT window_start, event_type,
           count(*)::bigint AS n_events,
           round(sum(value), 6) AS sum_value
    FROM slots
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)

register(
    "sim_search_pq_adc",
    similarity.sim_search_pq_adc,
    similarity.sim_search_pq_adc_sql(),
)

register(
    "q_events_histogram",
    analytics.q_events_histogram,
    f"""
    WITH b AS (
        SELECT event_type,
               least({analytics.HIST_BUCKETS - 1},
                     greatest(0, floor(value / {analytics.HIST_WIDTH})))::int AS bucket,
               value
        FROM events
    )
    SELECT event_type, bucket, count(*)::bigint AS n_events,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM b GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)

from navigator_data_ingest_spark.sources import flat as _flat

register(
    "src_binary_files",
    _flat.src_binary_files,
    _flat.src_binary_files_sql(),
)

register(
    "stream_foreachbatch_upsert",
    streaming_ops.stream_foreachbatch_upsert,
    streaming_streams.stream_foreachbatch_upsert_sql(),
)

register(
    "q_events_range_frame",
    analytics.q_events_range_frame,
    """
    SELECT event_id, user_id, floor(epoch(ts))::bigint AS epoch_s,
           count(*) OVER w AS n_trailing_1h,
           round(sum(value) OVER w, 6) AS sum_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::bigint
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)

register(
    "stats_profile_table",
    analytics.stats_profile_table,
    "WITH w AS (SELECT sum(((o_orderkey) IS NULL)::int)::bigint AS o_orderkey__nulls, count(DISTINCT o_orderkey)::bigint AS o_orderkey__nd, min(o_orderkey::varchar) AS o_orderkey__min, max(o_orderkey::varchar) AS o_orderkey__max, sum(((o_custkey) IS NULL)::int)::bigint AS o_custkey__nulls, count(DISTINCT o_custkey)::bigint AS o_custkey__nd, min(o_custkey::varchar) AS o_custkey__min, max(o_custkey::varchar) AS o_custkey__max, sum(((o_orderstatus) IS NULL)::int)::bigint AS o_orderstatus__nulls, count(DISTINCT o_orderstatus)::bigint AS o_orderstatus__nd, min(o_orderstatus::varchar) AS o_orderstatus__min, max(o_orderstatus::varchar) AS o_orderstatus__max, sum(((o_totalprice) IS NULL)::int)::bigint AS o_totalprice__nulls, count(DISTINCT o_totalprice)::bigint AS o_totalprice__nd, min(o_totalprice::varchar) AS o_totalprice__min, max(o_totalprice::varchar) AS o_totalprice__max FROM orders) SELECT 'o_orderkey' AS column_name, o_orderkey__nulls AS n_nulls, o_orderkey__nd AS n_distinct, true AS sketch_within_tol, o_orderkey__min AS min_s, o_orderkey__max AS max_s FROM w UNION ALL SELECT 'o_custkey' AS column_name, o_custkey__nulls AS n_nulls, o_custkey__nd AS n_distinct, true AS sketch_within_tol, o_custkey__min AS min_s, o_custkey__max AS max_s FROM w UNION ALL SELECT 'o_orderstatus' AS column_name, o_orderstatus__nulls AS n_nulls, o_orderstatus__nd AS n_distinct, true AS sketch_within_tol, o_orderstatus__min AS min_s, o_orderstatus__max AS max_s FROM w UNION ALL SELECT 'o_totalprice' AS column_name, o_totalprice__nulls AS n_nulls, o_totalprice__nd AS n_distinct, true AS sketch_within_tol, o_totalprice__min AS min_s, o_totalprice__max AS max_s FROM w ORDER BY column_name",
)

register(
    "stats_cogroup_monthly",
    analytics.stats_cogroup_monthly,
    """
    WITH o AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               count(*)::bigint AS n_orders,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint AS order_cents
        FROM orders GROUP BY 1
    ), l AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS month,
               count(*)::bigint AS n_lines,
               sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)::bigint)::bigint AS line_cents
        FROM lineitem GROUP BY 1
    )
    SELECT coalesce(o.month, l.month) AS month,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(order_cents, 0) AS order_cents,
           coalesce(n_lines, 0) AS n_lines,
           coalesce(line_cents, 0) AS line_cents
    FROM o FULL OUTER JOIN l ON o.month = l.month
    ORDER BY month
    """,
)

register(
    "text_rarity",
    textstats.text_rarity,
    """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents
    ), dft AS (
        SELECT tok, (CASE WHEN df >= 50 THEN 0 WHEN df >= 10 THEN 1 WHEN df >= 3 THEN 2 ELSE 3 END)::bigint AS cls
        FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok)
    )
    SELECT t.doc_id, count(*)::bigint AS n_tokens,
           sum(d.cls)::bigint AS rarity_sum,
           (sum(d.cls) * 1000 // count(*))::bigint AS rarity_permille
    FROM toks t JOIN dft d ON t.tok = d.tok
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)

from navigator_data_ingest_spark.operators import layout as layout_ops

register(
    "q9_profit_shape",
    analytics.q9_profit_shape,
    """
    SELECT n_name AS nation, year(o_orderdate)::bigint AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - p_retailprice * 0.5 * l_quantity), 6) AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%1%'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)

register(
    "q15_top_supplier",
    analytics.q15_top_supplier,
    """
    WITH revenue AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1995-04-01'
        GROUP BY l_suppkey
    )
    SELECT l_suppkey AS s_suppkey, s_name, total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)

register(
    "split_train_holdout",
    corpus.split_train_holdout,
    corpus.split_train_holdout_sql(),
)

register(
    "stream_outer_join_expiry",
    streaming_streams.stream_outer_join_expiry,
    streaming_streams.stream_outer_join_expiry_sql(),
)

register(
    "stream_static_enrich",
    streaming_streams.stream_static_enrich,
    streaming_streams.stream_static_enrich_sql(),
)

register(
    "dedup_incremental",
    dedup.dedup_incremental,
    dedup.dedup_incremental_sql(),
)

register(
    "src_corrupt_quarantine",
    flat_src.src_corrupt_quarantine,
    flat_src.src_corrupt_quarantine_sql(),
)

register(
    "text_normalize",
    corpus.text_normalize,
    corpus.text_normalize_sql(),
)

register(
    "q_events_funnel",
    analytics.q_events_funnel,
    """
    WITH v AS (
        SELECT user_id, min(ts) AS view_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS click_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.view_ts
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        GROUP BY e.user_id
    )
    SELECT v.user_id, view_ts, click_ts, purchase_ts,
           (1 + (click_ts IS NOT NULL)::int
              + (purchase_ts IS NOT NULL)::int) AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    ORDER BY v.user_id
    """,
)

register(
    "q_events_zscore",
    analytics.q_events_zscore,
    f"""
    WITH ev AS (
        SELECT event_id, event_type,
               floor(value * 100 + 0.5)::bigint AS cents
        FROM events
    ), st AS (
        SELECT event_type, count(*)::hugeint AS n,
               sum(cents)::hugeint AS s,
               sum(cents::hugeint * cents::hugeint) AS q
        FROM ev GROUP BY event_type
    )
    SELECT event_id, ev.event_type, cents
    FROM ev JOIN st ON ev.event_type = st.event_type
    WHERE (n * cents - s) * (n * cents - s)
          > {analytics.ZSCORE_SIGMAS * analytics.ZSCORE_SIGMAS} * (n * q - s * s)
    ORDER BY event_id
    """,
)

register(
    "q_orders_yoy_growth",
    analytics.q_orders_yoy_growth,
    """
    WITH yearly AS (
        SELECT o_orderpriority, year(o_orderdate)::int AS yr,
               sum(floor(o_totalprice * 100 + 0.5)::bigint) AS rev_cents
        FROM orders GROUP BY 1, 2
    ), lagged AS (
        SELECT *, lag(rev_cents) OVER (PARTITION BY o_orderpriority
                                       ORDER BY yr) AS prev_cents
        FROM yearly
    )
    SELECT o_orderpriority, yr, rev_cents::bigint AS rev_cents,
           prev_cents::bigint AS prev_cents,
           ((rev_cents - prev_cents) * 1000 // nullif(prev_cents, 0))::bigint
               AS yoy_permille
    FROM lagged ORDER BY o_orderpriority, yr
    """,
)

register(
    "cdc_scd2",
    cdc.cdc_scd2,
    cdc.cdc_scd2_sql(),
)

register(
    "sample_cap_per_source",
    corpus.sample_cap_per_source,
    corpus.sample_cap_per_source_sql(),
)

register(
    "stats_ks_drift",
    analytics.stats_ks_drift,
    f"""
    WITH ev AS (
        SELECT event_type, value, epoch_us(ts) AS us FROM events
    ), mid AS (
        SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev
    ), g AS (
        SELECT event_type,
               least({analytics.HIST_BUCKETS - 1},
                     greatest(0, floor(value / {analytics.HIST_WIDTH})))::int
                   AS bucket,
               sum((us < mid_us)::bigint) AS n_ref,
               sum((us >= mid_us)::bigint) AS n_cur
        FROM ev, mid
        GROUP BY 1, 2
    ), cdf AS (
        SELECT event_type,
               sum(n_ref) OVER (PARTITION BY event_type ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cum_ref,
               sum(n_cur) OVER (PARTITION BY event_type ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cum_cur,
               sum(n_ref) OVER (PARTITION BY event_type) AS tot_ref,
               sum(n_cur) OVER (PARTITION BY event_type) AS tot_cur
        FROM g
    )
    SELECT event_type,
           max(abs(cum_ref * 1000 // nullif(tot_ref, 0)
                   - cum_cur * 1000 // nullif(tot_cur, 0)))::bigint AS ks_permille,
           max(tot_ref)::bigint AS n_ref,
           max(tot_cur)::bigint AS n_cur
    FROM cdf GROUP BY event_type ORDER BY event_type
    """,
)

register(
    "q11_important_stock",
    analytics.q11_important_stock,
    f"""
    WITH stock AS (
        SELECT l_partkey, sum(p_retailprice * 0.5 * l_quantity) AS raw_value
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = '{analytics.Q11_NATION}'
        GROUP BY l_partkey
    )
    SELECT l_partkey, round(raw_value, 6) AS value
    FROM stock
    WHERE raw_value > {analytics.Q11_FRACTION} * (SELECT sum(raw_value) FROM stock)
    ORDER BY value DESC, l_partkey
    """,
)

register(
    "q20_promotion_supply",
    analytics.q20_promotion_supply,
    f"""
    WITH pairs AS (
        SELECT l_suppkey, l_partkey
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%{analytics.Q20_PART_TOKEN}%'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(CASE WHEN year(l_shipdate) = {analytics.Q20_YEAR}
                        THEN l_quantity ELSE 0 END)
               > {analytics.Q20_CONCENTRATION} * sum(l_quantity)
    )
    SELECT l_suppkey AS s_suppkey, s_name, count(*) AS n_promo_parts
    FROM pairs JOIN supplier ON l_suppkey = supplier.s_suppkey
    GROUP BY l_suppkey, s_name
    ORDER BY s_suppkey
    """,
)

register(
    "layout_zorder",
    layout_ops.layout_zorder,
    layout_ops.layout_zorder_sql(),
)

register(
    "stream_incremental_files",
    streaming_streams.stream_incremental_files,
    streaming_streams.stream_incremental_files_sql(),
)

register(
    "dedup_resolution",
    dedup.dedup_resolution,
    f"""
    WITH RECURSIVE {_MINHASH_CTES}, lsh_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
        UNION ALL
        SELECT doc_b, doc_a FROM lsh_pairs
    ), reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ), lab AS (
        SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id
    )
    SELECT d.lang, count(*)::bigint AS n_docs,
           count(DISTINCT lab.canonical_id)::bigint AS n_clusters,
           sum((lab.doc_id = lab.canonical_id)::int)::bigint AS n_kept,
           sum(CASE WHEN lab.doc_id <> lab.canonical_id THEN d.n_chars ELSE 0 END)::bigint AS chars_dropped
    FROM lab JOIN documents d ON lab.doc_id = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
)

register(
    "corpus_mix_report",
    corpus.corpus_mix_report,
    corpus.corpus_mix_report_sql(),
)

from navigator_data_ingest_spark.sources import partitioned as _part

register(
    "sink_partition_overwrite",
    _part.sink_partition_overwrite,
    _part.sink_partition_overwrite_sql(),
)

register(
    "mm_audio_chunk",
    multimodal.mm_audio_chunk,
    multimodal.mm_audio_chunk_sql(),
)

register(
    "text_cooccurrence",
    textstats.text_cooccurrence,
    """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ), pairs AS (
        SELECT unnest(CASE WHEN len(t) >= 2 THEN flatten(list_transform(generate_series(1, len(t)),
                   i -> list_transform(t[i+1 : i+3],
                        u -> least(t[i], u) || ' ' || greatest(t[i], u))))
               ELSE [] END) AS pair
        FROM toks
    )
    SELECT pair, count(*)::bigint AS n_cooc
    FROM pairs GROUP BY pair
    ORDER BY n_cooc DESC, pair
    LIMIT 100
    """,
)

register(
    "graph_degree_distribution",
    graph.graph_degree_distribution,
    """
    WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    d AS (SELECT l_partkey, count(DISTINCT l_suppkey)::bigint AS degree FROM e GROUP BY 1)
    SELECT degree, count(*)::bigint AS n_parts FROM d GROUP BY degree ORDER BY degree
    """,
)

register(
    "q_events_ohlc",
    analytics.q_events_ohlc,
    """
    WITH bars AS (
        SELECT date_trunc('hour', ts) AS bar_start, event_type,
               min({'t': ts, 'e': event_id, 'v': value}) AS o,
               max({'t': ts, 'e': event_id, 'v': value}) AS c,
               round(min(value), 6) AS low,
               round(max(value), 6) AS high,
               count(*)::bigint AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT bar_start, event_type,
           round(o.v, 6) AS open, high, low, round(c.v, 6) AS close, n_events
    FROM bars ORDER BY bar_start, event_type
    """,
)

register(
    "q_orders_running_share",
    analytics.q_orders_running_share,
    """
    WITH m AS (
        SELECT year(o_orderdate)::int AS yr, month(o_orderdate)::int AS mo,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint AS rev_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, rev_cents,
           sum(rev_cents) OVER (PARTITION BY yr ORDER BY mo
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS cum_cents,
           ((sum(rev_cents) OVER (PARTITION BY yr ORDER BY mo
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000)
            // sum(rev_cents) OVER (PARTITION BY yr))::bigint AS cum_permille
    FROM m ORDER BY yr, mo
    """,
)

register(
    "dedup_fingerprint",
    dedup.dedup_fingerprint,
    """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ), sel AS (
        SELECT doc_id, unnest(list_distinct(list_filter(list_transform(
                   list_distinct(CASE WHEN len(t) >= 4 THEN list_transform(generate_series(1, len(t) - 3), i -> t[i + 0] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]) ELSE [] END), s -> ('0x' || substr(md5('5:' || s), 1, 8))::ubigint::bigint),
                   h -> h % 4 = 0))) AS fp
        FROM toks
    ), rare AS (
        SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 20
    ), pruned AS (
        SELECT s.doc_id, s.fp FROM sel s JOIN rare r ON s.fp = r.fp
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::bigint AS n_shared
    FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY doc_a, doc_b
    """,
)

register(
    "cdc_snapshot_diff",
    cdc.cdc_snapshot_diff,
    """
    WITH base AS (
        SELECT doc_id, md5(text) AS payload_md5 FROM documents
    ), v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 37 = 0 THEN md5(payload_md5 || ':v2')
                    ELSE payload_md5 END AS payload_md5
        FROM base WHERE doc_id % 41 <> 0
        UNION ALL
        SELECT doc_id + 1000000, md5(payload_md5 || ':new')
        FROM base WHERE doc_id % 43 = 0
    ), j AS (
        SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.payload_md5 <> v2.payload_md5 THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM base v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status, count(*)::bigint AS n_rows FROM j
    GROUP BY status ORDER BY status
    """,
)

register(
    "sim_search_recall_report",
    similarity.sim_search_recall_report,
    f"""
    WITH eb AS (
        SELECT vec_id, embedding, {_DK_BUCKET} AS bucket FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
        FROM eb WHERE {similarity.query_stripe_sql()}
    ), bf AS (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   {_DK_DOT_QE} / (sqrt({_DK_DOT_QQ}) * sqrt({_DK_DOT_EE})) DESC,
                   e.vec_id) AS rank
        FROM eb e, q WHERE e.vec_id <> q.query_id
    ), bf_top AS (
        SELECT query_id, vec_id FROM bf WHERE rank <= {similarity.TOP_K}
    ), cands AS (
        SELECT q.query_id, count(*)::bigint AS n_candidates
        FROM eb e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
        GROUP BY q.query_id
    ), lsh_scored AS (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   {_DK_DOT_QE} / (sqrt({_DK_DOT_QQ}) * sqrt({_DK_DOT_EE})) DESC,
                   e.vec_id) AS rank
        FROM eb e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
    ), lsh_top AS (
        SELECT query_id, vec_id FROM lsh_scored WHERE rank <= {similarity.TOP_K}
    ), ov AS (
        SELECT b.query_id, count(l.vec_id)::bigint AS n_overlap
        FROM bf_top b LEFT JOIN lsh_top l
          ON b.query_id = l.query_id AND b.vec_id = l.vec_id
        GROUP BY b.query_id
    )
    SELECT o.query_id, coalesce(c.n_candidates, 0) AS n_candidates,
           o.n_overlap,
           (o.n_overlap * 1000 // {similarity.TOP_K})::bigint AS recall_permille
    FROM ov o LEFT JOIN cands c ON o.query_id = c.query_id
    ORDER BY o.query_id
    """,
)


# --------------------------------------------------------------------------
# §2.3 round 3: cohort retention, basket pairs, sliding distinct users,
# one-pass correlation matrix
# --------------------------------------------------------------------------

register(
    "q_events_cohort_retention",
    analytics.q_events_cohort_retention,
    """
    WITH wk AS (
        SELECT user_id, date_trunc('week', ts)::date AS wk FROM events
    ), coh AS (
        SELECT user_id, wk,
               min(wk) OVER (PARTITION BY user_id) AS cohort_week
        FROM wk
    ), act AS (
        SELECT DISTINCT cohort_week,
               (date_diff('day', cohort_week, wk) // 7)::int AS week_offset,
               user_id
        FROM coh
    ), agg AS (
        SELECT cohort_week, week_offset, count(*)::bigint AS n_active
        FROM act GROUP BY 1, 2
    ), sized AS (
        SELECT cohort_week, week_offset, n_active,
               max(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week) AS cohort_size
        FROM agg
    )
    SELECT cohort_week, week_offset, n_active, cohort_size,
           (n_active * 1000 // cohort_size)::bigint AS retention_permille
    FROM sized
    ORDER BY cohort_week, week_offset
    """,
)

register(
    "q_basket_pairs",
    analytics.q_basket_pairs,
    f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           count(*)::bigint AS n_orders
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    ORDER BY n_orders DESC, brand_a, brand_b
    LIMIT {analytics.BASKET_TOP_N}
    """,
)

register(
    "q_events_distinct_sliding",
    analytics.q_events_distinct_sliding,
    f"""
    WITH slots AS (
        SELECT date_trunc('hour', ts) - (g.k * INTERVAL 1 HOUR) AS window_start,
               user_id
        FROM events, generate_series(0, {analytics.SLIDE_LEN_H - 1}) g(k)
    )
    SELECT window_start,
           count(*)::bigint AS n_events,
           count(DISTINCT user_id)::bigint AS n_users
    FROM slots
    GROUP BY window_start
    ORDER BY window_start
    """,
)


def _corr_matrix_sql() -> str:
    def ci(v: str) -> str:
        return f"(round({v} * 100))::hugeint"

    pairs = [
        (a, b)
        for i, a in enumerate(analytics.CORR_VARS)
        for b in analytics.CORR_VARS[i:]
    ]
    sums = ", ".join(
        f"sum({ci(v)}) AS s_{v}" for v in analytics.CORR_VARS
    )
    cross = ", ".join(
        f"sum({ci(a)} * {ci(b)}) AS s_{a}_{b}" for a, b in pairs
    )
    branches = []
    for a, b in pairs:
        if a == b:
            continue
        num = f"(n * s_{a}_{b} - s_{a} * s_{b})"
        dx = f"(n * s_{a}_{a} - s_{a} * s_{a})"
        dy = f"(n * s_{b}_{b} - s_{b} * s_{b})"
        branches.append(
            f"SELECT '{a}' AS var_x, '{b}' AS var_y, n::bigint AS n_rows, "
            f"round({num}::double / nullif(sqrt({dx}::double)"
            f" * sqrt({dy}::double), 0.0), 6)"
            f" AS corr FROM m"
        )
    union = " UNION ALL ".join(branches)
    return (
        f"WITH m AS (SELECT count(*)::hugeint AS n, {sums}, {cross} FROM lineitem) "
        f"SELECT var_x, var_y, n_rows, corr FROM ({union}) ORDER BY var_x, var_y"
    )


register(
    "stats_correlation_matrix",
    analytics.stats_correlation_matrix,
    _corr_matrix_sql(),
)


# --------------------------------------------------------------------------
# §2.4 round 3: token-budget selection, hashed linear classifier
# --------------------------------------------------------------------------

register(
    "corpus_token_budget",
    corpus.corpus_token_budget,
    corpus.corpus_token_budget_sql(),
)

register(
    "text_hash_classifier",
    corpus.text_hash_classifier,
    corpus.text_hash_classifier_sql(),
)


# --------------------------------------------------------------------------
# §2.4 round 3: bloom prefilter, semantic dedup
# --------------------------------------------------------------------------

register(
    "dedup_bloom",
    dedup.dedup_bloom,
    dedup.dedup_bloom_sql(),
)

register(
    "dedup_semantic",
    similarity.dedup_semantic,
    similarity.dedup_semantic_sql(),
)


# --------------------------------------------------------------------------
# §2.4 / §2.2 round 3: boilerplate filter, Python DataSource
# --------------------------------------------------------------------------

register(
    "text_boilerplate",
    corpus.text_boilerplate,
    corpus.text_boilerplate_sql(),
)

from navigator_data_ingest_spark.sources import pysource as _pysource

register(
    "src_python_datasource",
    _pysource.src_python_datasource,
    _pysource.src_python_datasource_sql(),
)


register(
    "stream_tws_totals",
    streaming_streams.stream_tws_totals,
    """
    SELECT user_id,
           count(*)::bigint AS n_events,
           -- coalesce(0): the streaming counter starts at 0 and NULL
           -- values add nothing, so an all-NULL key reads 0, not NULL
           coalesce(sum(floor(value * 100 + 0.5)), 0)::bigint AS cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)


register(
    "graph_triangle_count",
    graph.graph_triangle_count,
    graph.graph_triangle_count_sql(),
)

_AB_POOL = "((conv_a + conv_b) / nullif(n_a + n_b, 0)::double)"

register(
    "stats_ab_test",
    analytics.stats_ab_test,
    f"""
    WITH u0 AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
               count(*) AS n
        FROM events GROUP BY user_id
    ), u AS (
        SELECT user_id,
               CASE WHEN np * 5 > n THEN 1 ELSE 0 END AS converted
        FROM u0
    ), g AS (
        SELECT user_id % 2 AS grp, converted FROM u
    ), a AS (
        SELECT sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::bigint AS n_a,
               sum(CASE WHEN grp = 0 THEN converted ELSE 0 END)::bigint AS conv_a,
               sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::bigint AS n_b,
               sum(CASE WHEN grp = 1 THEN converted ELSE 0 END)::bigint AS conv_b
        FROM g
    )
    SELECT n_a, conv_a, n_b, conv_b,
           (conv_a * 1000 // nullif(n_a, 0))::bigint AS conv_a_permille,
           (conv_b * 1000 // nullif(n_b, 0))::bigint AS conv_b_permille,
           CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
                     AND conv_a + conv_b < n_a + n_b THEN
               round((conv_a / nullif(n_a, 0)::double
                      - conv_b / nullif(n_b, 0)::double)
                     / sqrt({_AB_POOL} * (1.0 - {_AB_POOL})
                            * (1.0 / nullif(n_a, 0) + 1.0 / nullif(n_b, 0))),
                     6) END AS z_score
    FROM a
    """,
)


# --------------------------------------------------------------------------
# round 3, second wave: matryoshka audit, atomic publish, upsample plan
# --------------------------------------------------------------------------

register(
    "emb_matryoshka",
    similarity.emb_matryoshka,
    similarity.emb_matryoshka_sql(),
)

from navigator_data_ingest_spark.sources import publish as _publish

register(
    "sink_atomic_publish",
    _publish.sink_atomic_publish,
    _publish.sink_atomic_publish_sql(),
)

register(
    "corpus_upsample_plan",
    corpus.corpus_upsample_plan,
    corpus.corpus_upsample_plan_sql(),
)


register(
    "stats_entropy_per_source",
    textstats.stats_entropy_per_source,
    textstats.stats_entropy_per_source_sql(),
)

register(
    "corpus_bigram_lm",
    corpus.corpus_bigram_lm,
    corpus.corpus_bigram_lm_sql(),
)

register(
    "stream_multiplex_router",
    streaming_streams.stream_multiplex_router,
    streaming_streams.stream_multiplex_router_sql(),
)


register(
    "graph_jaccard_neighbors",
    graph.graph_jaccard_neighbors,
    graph.graph_jaccard_neighbors_sql(),
)


def _rfm_sql() -> str:
    cuts = ", ".join(
        f"quantile_cont({m}, {q}) AS {m}_{int(q * 100)}"
        for m in ("recency_days", "frequency", "cents")
        for q in (0.25, 0.5, 0.75)
    )

    def score(m: str, best_low: bool) -> str:
        if best_low:
            return (
                f"CASE WHEN {m} <= {m}_25 THEN 1 WHEN {m} <= {m}_50 THEN 2 "
                f"WHEN {m} <= {m}_75 THEN 3 ELSE 4 END"
            )
        return (
            f"CASE WHEN {m} >= {m}_75 THEN 1 WHEN {m} >= {m}_50 THEN 2 "
            f"WHEN {m} >= {m}_25 THEN 3 ELSE 4 END"
        )

    return f"""
    WITH per_user AS (
        SELECT user_id, max(ts::date) AS last_day,
               count(*)::bigint AS frequency,
               sum(floor(value * 100 + 0.5))::bigint AS cents
        FROM events GROUP BY user_id
    ), anchored AS (
        SELECT user_id,
               date_diff('day', last_day,
                         (SELECT max(last_day) FROM per_user))::bigint
                   AS recency_days,
               frequency, cents
        FROM per_user
    ), cuts AS (
        SELECT {cuts} FROM anchored
    ), scored AS (
        SELECT user_id, recency_days, frequency, cents,
               ({score('recency_days', True)})::int AS r_score,
               ({score('frequency', False)})::int AS f_score,
               ({score('cents', False)})::int AS m_score
        FROM anchored, cuts
    )
    SELECT r_score, f_score, m_score,
           count(*)::bigint AS n_users,
           sum(recency_days)::bigint AS sum_recency,
           sum(frequency)::bigint AS sum_frequency,
           sum(cents)::bigint AS sum_cents
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """


register("q_events_rfm", analytics.q_events_rfm, _rfm_sql())

register(
    "q_observe_metrics",
    analytics.q_observe_metrics,
    """
    SELECT count(*)::bigint AS n_rows,
           sum(floor(o_totalprice * 100 + 0.5))::bigint AS cents,
           min(floor(o_totalprice * 100 + 0.5))::bigint AS min_cents,
           max(floor(o_totalprice * 100 + 0.5))::bigint AS max_cents
    FROM orders
    """,
)


register(
    "sink_vacuum_orphans",
    _publish.sink_vacuum_orphans,
    _publish.sink_vacuum_orphans_sql(),
)


from navigator_data_ingest_spark.sources import dpp as _dpp

register(
    "q_dpp_join",
    _dpp.q_dpp_join,
    _dpp.q_dpp_join_sql(),
)


register(
    "q_variant_json",
    analytics.q_variant_json,
    """
    SELECT event_type, count(*)::bigint AS n_events,
           sum((props->>'$.k')::int)::bigint AS sum_k,
           min((props->>'$.k')::int) AS min_k,
           max((props->>'$.k')::int) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)

register(
    "q_collated_groupby",
    analytics.q_collated_groupby,
    """
    WITH mixed AS (
        SELECT CASE WHEN p_partkey % 2 = 1 THEN upper(p_brand)
                    ELSE lower(p_brand) END AS brand_mixed
        FROM part
    )
    SELECT min(brand_mixed) AS brand_rep, count(*)::bigint AS n_parts
    FROM mixed GROUP BY lower(brand_mixed)
    ORDER BY brand_rep
    """,
)

register(
    "corpus_udtf_passages",
    corpus.corpus_udtf_passages,
    corpus.corpus_udtf_passages_sql(),
)

register(
    "src_codec_roundtrip",
    _flat.src_codec_roundtrip,
    _flat.src_codec_roundtrip_sql(),
)


register(
    "text_lang_confusion",
    textstats.text_lang_confusion,
    f"""
    WITH base AS (
        SELECT doc_id, lang, {X.dk_tokens('text')} AS t FROM documents
    ), counted AS (
        SELECT doc_id, lang, len(t) AS n,
               {_DK_STOP_COUNTS}
        FROM base
    ), verdicts AS (
        SELECT lang AS declared_lang,
               CASE WHEN {_GREATEST} > 0 AND {_GREATEST} * 50 >= n
                    THEN CASE {_PICK_CASES} END
                    ELSE 'und' END AS detected_lang
        FROM counted
    ), agg AS (
        SELECT declared_lang, detected_lang, count(*)::bigint AS n_docs
        FROM verdicts GROUP BY declared_lang, detected_lang
    )
    SELECT declared_lang, detected_lang, n_docs,
           sum(n_docs) OVER (PARTITION BY declared_lang)::bigint AS row_total,
           (n_docs * 1000 // sum(n_docs) OVER (PARTITION BY declared_lang))::bigint
               AS row_permille,
           declared_lang = detected_lang AS is_match
    FROM agg ORDER BY declared_lang, detected_lang
    """,
)

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in analytics.BENFORD_PERMILLE.items()
) + " END"

register(
    "stats_benford",
    analytics.stats_benford,
    f"""
    WITH d AS (
        SELECT substring(floor(o_totalprice)::bigint::varchar, 1, 1)::int
                   AS digit
        FROM orders WHERE o_totalprice >= 1
    ), agg AS (
        SELECT digit, count(*)::bigint AS n_orders FROM d GROUP BY digit
    )
    SELECT digit, n_orders,
           (n_orders * 1000 // sum(n_orders) OVER ())::bigint
               AS observed_permille,
           ({_BENFORD_CASE})::bigint AS expected_permille,
           abs((n_orders * 1000 // sum(n_orders) OVER ())
               - ({_BENFORD_CASE}))::bigint AS dev_permille
    FROM agg ORDER BY digit
    """,
)


register(
    "q_grouping_sets",
    analytics.q_grouping_sets,
    """
    SELECT o_orderpriority, yr,
           grouping(o_orderpriority)::int AS g_prio,
           grouping(yr)::int AS g_yr,
           count(*)::bigint AS n_orders,
           sum(floor(o_totalprice * 100 + 0.5))::bigint AS cents
    FROM (SELECT o_orderpriority, year(o_orderdate) AS yr,
                 o_totalprice FROM orders)
    GROUP BY GROUPING SETS ((o_orderpriority, yr), (o_orderpriority), ())
    ORDER BY g_prio, g_yr, o_orderpriority, yr
    """,
)

register(
    "dedup_recall_report",
    dedup.dedup_recall_report,
    f"""
    WITH {_MINHASH_CTES}, cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        WHERE a.doc_id % greatest({dedup.RECALL_SAMPLE_MOD_MIN}, (SELECT count(*) FROM documents) // {dedup.RECALL_SAMPLE_TARGET}) = 0
          AND b.doc_id % greatest({dedup.RECALL_SAMPLE_MOD_MIN}, (SELECT count(*) FROM documents) // {dedup.RECALL_SAMPLE_TARGET}) = 0
    ), truth AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM base x JOIN base y ON x.doc_id < y.doc_id
        WHERE x.doc_id % greatest({dedup.RECALL_SAMPLE_MOD_MIN}, (SELECT count(*) FROM documents) // {dedup.RECALL_SAMPLE_TARGET}) = 0
          AND y.doc_id % greatest({dedup.RECALL_SAMPLE_MOD_MIN}, (SELECT count(*) FROM documents) // {dedup.RECALL_SAMPLE_TARGET}) = 0
          AND len(list_intersect(x.sh, y.sh))::double
              / (len(x.sh) + len(y.sh)
                 - len(list_intersect(x.sh, y.sh)))::double
              >= {dedup.JACCARD_THRESHOLD}
    ), rep AS (
        SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
               (SELECT count(*) FROM truth t
                JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                   AS n_found,
               (SELECT count(*) FROM cand) AS n_candidates
    )
    SELECT n_true_pairs::bigint AS n_true_pairs,
           n_found::bigint AS n_found,
           n_candidates::bigint AS n_candidates,
           CASE WHEN n_true_pairs > 0
                THEN (n_found * 1000 // n_true_pairs)::bigint END
               AS recall_permille
    FROM rep
    """,
)

register(
    "mm_text_embedding_coverage",
    multimodal.mm_text_embedding_coverage,
    """
    WITH j AS (
        SELECT d.doc_id, d.lang, e.vec_id AS eid
        FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
    ), g AS (
        SELECT coalesce(lang, '∅orphan') AS lang,
               doc_id IS NOT NULL AS has_doc,
               eid IS NOT NULL AS has_emb
        FROM j
    ), agg AS (
        SELECT lang, count(*)::bigint AS n_rows,
               sum(CASE WHEN has_doc AND has_emb THEN 1 ELSE 0 END)::bigint
                   AS n_covered,
               sum(CASE WHEN has_doc AND NOT has_emb THEN 1 ELSE 0 END)::bigint
                   AS n_missing_emb,
               sum(CASE WHEN NOT has_doc THEN 1 ELSE 0 END)::bigint
                   AS n_orphan_emb
        FROM g GROUP BY 1
    )
    SELECT lang, n_rows, n_covered, n_missing_emb, n_orphan_emb,
           CASE WHEN n_covered + n_missing_emb > 0 THEN
               (n_covered * 1000 // (n_covered + n_missing_emb))::bigint END
               AS coverage_permille
    FROM agg ORDER BY lang
    """,
)


register(
    "emb_binary_hamming",
    similarity.emb_binary_hamming,
    similarity.emb_binary_hamming_sql(),
)


register(
    "q_events_asof_forward",
    analytics.q_events_asof_forward,
    """
    SELECT event_id, user_id, ts, next_click_ts,
           round(next_click_value, 6) AS next_click_value
    FROM (
        SELECT event_id, user_id, ts, event_type,
               first_value(CASE WHEN event_type = 'click' THEN ts END
                           IGNORE NULLS)
                   OVER w AS next_click_ts,
               first_value(CASE WHEN event_type = 'click' THEN value END
                           IGNORE NULLS)
                   OVER w AS next_click_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)


def _psi_sql() -> str:
    B = analytics.HIST_BUCKETS
    term = (
        f"((n_ref + 1)::double / (tot_ref + {B})"
        f" - (n_cur + 1)::double / (tot_cur + {B}))"
        f" * ln(((n_ref + 1) * (tot_cur + {B}))::double"
        f"      / ((n_cur + 1) * (tot_ref + {B}))::double)"
    )
    return f"""
    WITH ev AS (
        SELECT event_type, value, epoch_us(ts::TIMESTAMP) AS us FROM events
    ), mid AS (
        SELECT ((min(us) + max(us)) / 2)::bigint AS mid_us FROM ev
    ), g AS (
        SELECT event_type,
               least({B - 1}, greatest(0, floor(value / {analytics.HIST_WIDTH})))::int
                   AS bucket,
               sum(CASE WHEN us < mid_us THEN 1 ELSE 0 END)::bigint AS n_ref,
               sum(CASE WHEN us < mid_us THEN 0 ELSE 1 END)::bigint AS n_cur
        FROM ev, mid GROUP BY 1, 2
    ), t AS (
        SELECT event_type, n_ref, n_cur,
               sum(n_ref) OVER (PARTITION BY event_type) AS tot_ref,
               sum(n_cur) OVER (PARTITION BY event_type) AS tot_cur
        FROM g
    )
    SELECT event_type,
           max(tot_ref)::bigint AS n_ref,
           max(tot_cur)::bigint AS n_cur,
           round(sum({term}), 6) AS psi
    FROM t GROUP BY event_type ORDER BY event_type
    """


register("stats_psi_drift", analytics.stats_psi_drift, _psi_sql())

register(
    "q_events_heatmap",
    analytics.q_events_heatmap,
    """
    SELECT ((date_diff('day', DATE '1970-01-01', ts::date) + 4) % 7)::int
               AS dow,
           hour(ts)::int AS hour,
           count(*)::bigint AS n_events,
           sum(floor(value * 100 + 0.5))::bigint AS cents
    FROM events GROUP BY 1, 2 ORDER BY dow, hour
    """,
)

register(
    "corpus_decontaminate_split",
    corpus.corpus_decontaminate_split,
    corpus.corpus_decontaminate_split_sql(),
)


register(
    "stream_timeout_finalize",
    streaming_streams.stream_timeout_finalize,
    f"""
    WITH u AS (
        SELECT user_id, count(*)::bigint AS n_events,
               -- coalesce(0): counter semantics, NULL values add nothing
               coalesce(sum(floor(value * 100 + 0.5)), 0)::bigint AS cents,
               max(epoch_us(ts::TIMESTAMP))::bigint AS last_us
        FROM events GROUP BY user_id
    ), wm AS (
        SELECT max(epoch_us(ts::TIMESTAMP)) - 3600::bigint * 1000000 AS wm_us
        FROM events
    )
    SELECT user_id, n_events, cents, last_us
    FROM u, wm
    WHERE last_us + {streaming_streams.TIMEOUT_GAP_MIN}::bigint * 60 * 1000000
          < wm_us
    ORDER BY user_id
    """,
)


register(
    "src_time_travel",
    _publish.src_time_travel,
    _publish.src_time_travel_sql(),
)


register(
    "q_multiset_ops",
    analytics.q_multiset_ops,
    f"""
    WITH c AS (
        SELECT o_orderpriority,
               sum(CASE WHEN year(o_orderdate) < {analytics.MULTISET_SPLIT_YEAR}
                        THEN 1 ELSE 0 END)::bigint AS ca,
               sum(CASE WHEN year(o_orderdate) >= {analytics.MULTISET_SPLIT_YEAR}
                        THEN 1 ELSE 0 END)::bigint AS cb
        FROM orders GROUP BY o_orderpriority
    )
    SELECT 'intersect_all' AS op, o_orderpriority, least(ca, cb) AS n
    FROM c WHERE least(ca, cb) > 0
    UNION ALL
    SELECT 'except_all', o_orderpriority, greatest(ca - cb, 0)
    FROM c WHERE greatest(ca - cb, 0) > 0
    ORDER BY op, o_orderpriority
    """,
)


from navigator_data_ingest_spark.operators import cdc as _cdc_mod

register(
    "cdc_scd2_lookup",
    _cdc_mod.cdc_scd2_lookup,
    _cdc_mod.cdc_scd2_lookup_sql(),
)


def _lorenz_sql() -> str:
    cuts = ", ".join(
        f"quantile_cont(cents, {d / 10}) AS c{d}" for d in range(1, 10)
    )
    decile = "CASE"
    for d in range(9, 0, -1):
        decile += f" WHEN cents > c{d} THEN {d + 1}"
    decile += " ELSE 1 END"
    return f"""
    WITH spend AS (
        SELECT o_custkey,
               sum(floor(o_totalprice * 100 + 0.5))::bigint AS cents
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT {cuts} FROM spend
    ), d AS (
        SELECT ({decile})::int AS decile, cents FROM spend, cuts
    ), agg AS (
        SELECT decile, count(*)::bigint AS n_custs,
               sum(cents)::bigint AS cents
        FROM d GROUP BY decile
    )
    SELECT decile, n_custs, cents,
           (cents * 1000 // sum(cents) OVER ())::bigint AS share_permille,
           (sum(cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            * 1000 // sum(cents) OVER ())::bigint AS cum_share_permille
    FROM agg ORDER BY decile
    """


register(
    "stats_lorenz_deciles",
    analytics.stats_lorenz_deciles,
    _lorenz_sql(),
)


register(
    "q_sql_pipe",
    analytics.q_sql_pipe,
    """
    SELECT l_returnflag, l_linestatus, count(*)::bigint AS n_items,
           sum(floor(l_extendedprice * 100 + 0.5))::bigint AS cents
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

register(
    "q_lateral_join_api",
    analytics.q_lateral_join_api,
    """
    WITH probe AS (
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE o_orderkey % 100 = 0
    ), ranked AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_extendedprice DESC,
                                           l_linenumber) AS rn
        FROM lineitem
    )
    SELECT p.o_orderkey, p.o_orderpriority,
           r.l_linenumber, round(r.l_extendedprice, 6) AS top_price
    FROM probe p JOIN ranked r
      ON r.l_orderkey = p.o_orderkey AND r.rn = 1
    ORDER BY p.o_orderkey
    """,
)

register(
    "stats_markov_transitions",
    analytics.stats_markov_transitions,
    """
    WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ), trans AS (
        SELECT from_type, to_type, count(*)::bigint AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           sum(n) OVER (PARTITION BY from_type)::bigint AS row_total,
           (n * 1000 // sum(n) OVER (PARTITION BY from_type))::bigint
               AS p_permille
    FROM trans ORDER BY from_type, to_type
    """,
)


register(
    "emb_label_purity",
    similarity.emb_label_purity,
    similarity.emb_label_purity_sql(),
)


register(
    "corpus_tokenizer_fertility",
    textstats.corpus_tokenizer_fertility,
    f"""
    WITH d AS (
        SELECT lang, len({X.dk_tokens('text')})::bigint AS n_tokens,
               length(text)::bigint AS n_chars
        FROM documents
    )
    SELECT lang, count(*)::bigint AS n_docs,
           sum(n_tokens)::bigint AS n_tokens,
           sum(n_chars)::bigint AS n_chars,
           (sum(n_tokens) * 100 // nullif(sum(n_chars), 0))::bigint
               AS tokens_per_100_chars
    FROM d GROUP BY lang ORDER BY lang
    """,
)

register(
    "q_events_gap_histogram",
    analytics.q_events_gap_histogram,
    """
    WITH g AS (
        SELECT ((epoch_us(ts::TIMESTAMP)
                 - lag(epoch_us(ts::TIMESTAMP))
                     OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id))
                // 1000000)::bigint AS gap_s
        FROM events
    ), b AS (
        SELECT CASE WHEN gap_s <= 0 THEN 0
                    ELSE length(bin(gap_s))::int END AS band
        FROM g WHERE gap_s IS NOT NULL AND gap_s >= 0
    )
    SELECT band, count(*)::bigint AS n_gaps,
           CASE WHEN band = 0 THEN 0
                ELSE (1::bigint << (band - 1)) END AS lo_s
    FROM b GROUP BY band ORDER BY band
    """,
)


register(
    "q_recursive_cte",
    graph.q_recursive_cte,
    graph.q_recursive_cte_sql(),
)


register(
    "q_parameterized_sql",
    analytics.q_parameterized_sql,
    f"""
    SELECT o_orderpriority, count(*)::bigint AS n_orders,
           sum(floor(o_totalprice * 100 + 0.5))::bigint AS cents
    FROM orders WHERE o_totalprice >= {analytics.PARAM_MIN_PRICE}
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

register(
    "corpus_sample_exact_k",
    corpus.corpus_sample_exact_k,
    corpus.corpus_sample_exact_k_sql(),
)


register(
    "q_null_safe_join",
    analytics.q_null_safe_join,
    """
    WITH o AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderpriority END AS prio
        FROM orders
    ), dim(prio_d, weight) AS (
        VALUES ('1-URGENT', 100), ('2-HIGH', 80), ('3-MEDIUM', 60),
               ('4-NOT SPECIFIED', 40), ('5-LOW', 20), (NULL, 0)
    )
    SELECT coalesce(o.prio, '∅null') AS prio, d.weight::int AS weight,
           count(*)::bigint AS n_orders
    FROM o JOIN dim d ON o.prio IS NOT DISTINCT FROM d.prio_d
    GROUP BY 1, 2 ORDER BY prio
    """,
)


register(
    "mm_codec_stats",
    multimodal.mm_codec_stats,
    multimodal.mm_codec_stats_sql(),
)

register(
    "stats_autocorrelation",
    analytics.stats_autocorrelation,
    """
    WITH series AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               count(*)::bigint AS c
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT event_type, c::hugeint AS x,
               lead(c) OVER (PARTITION BY event_type ORDER BY h)::hugeint AS y
        FROM series
    ), m AS (
        SELECT event_type, count(*)::hugeint AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
               sum(x * x) AS sxx, sum(y * y) AS syy
        FROM pairs WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n::bigint AS n_pairs,
           round((n * sxy - sx * sy)::double
                 / (sqrt((n * sxx - sx * sx)::double)
                    * sqrt((n * syy - sy * sy)::double)), 6)
               AS autocorr_lag1
    FROM m ORDER BY event_type
    """,
)

register(
    "q_pandas_udf_scalar",
    textstats.q_pandas_udf_scalar,
    textstats.q_pandas_udf_scalar_sql(),
)

# Arrow-native rungs (round 4): mapInArrow scalar + applyInArrow grouped
register(
    "q_map_in_arrow",
    textstats.q_map_in_arrow,
    textstats.q_map_in_arrow_sql(),
)

register(
    "q_apply_in_arrow",
    textstats.q_apply_in_arrow,
    textstats.q_apply_in_arrow_sql(),
)


register(
    "q_events_burst_detection",
    analytics.q_events_burst_detection,
    """
    WITH series AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               count(*)::bigint AS c
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT event_type, h, c,
               count(*) OVER (PARTITION BY event_type)::hugeint AS n,
               sum(c) OVER (PARTITION BY event_type)::hugeint AS s,
               sum(c * c) OVER (PARTITION BY event_type)::hugeint AS q
        FROM series
    )
    SELECT event_type, h, c
    FROM m
    WHERE c * n > s
      AND (n * c - s) * (n * c - s) > 4 * (n * q - s * s)
    ORDER BY event_type, h
    """,
)

register(
    "corpus_ngram_novelty",
    corpus.corpus_ngram_novelty,
    corpus.corpus_ngram_novelty_sql(),
)


register(
    "q_orders_gap_islands",
    analytics.q_orders_gap_islands,
    """
    WITH d AS (
        SELECT DISTINCT o_custkey,
               date_diff('day', DATE '1970-01-01', o_orderdate::date) AS day
        FROM orders
    ), isl AS (
        SELECT o_custkey,
               day - row_number() OVER (PARTITION BY o_custkey ORDER BY day)
                   AS island,
               day
        FROM d
    ), g AS (
        SELECT o_custkey, island, count(*)::bigint AS len,
               min(day)::bigint AS start_day
        FROM isl GROUP BY o_custkey, island
    ), best AS (
        SELECT o_custkey,
               max(struct_pack(l := len, ns := -start_day)) AS m,
               count(*)::bigint AS n_islands
        FROM g GROUP BY o_custkey
    )
    SELECT o_custkey,
           m.l::bigint AS longest_streak,
           (-m.ns)::bigint AS streak_start_day,
           n_islands
    FROM best WHERE m.l >= 2 ORDER BY o_custkey
    """,
)

register(
    "dedup_survivorship",
    dedup.dedup_survivorship,
    """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS golden_id,
           count(*)::bigint AS n_members,
           max(n_chars) AS best_n_chars,
           min(source) AS first_source,
           count(DISTINCT lang)::bigint AS n_langs
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) >= 2
    ORDER BY golden_id
    """,
)


# --------------------------------------------------------------------------
# round 4 additions: vision tiling, n-gram perplexity gate, Zipf health
# check, spectral (power-method) embedding diagnostic
# --------------------------------------------------------------------------

register(
    "mm_image_tiles",
    multimodal.mm_image_tiles,
    multimodal.mm_image_tiles_sql(),
)

register(
    "corpus_perplexity_filter",
    corpus.corpus_perplexity_filter,
    corpus.corpus_perplexity_filter_sql(),
)

register(
    "text_zipf_fit",
    textstats.text_zipf_fit,
    textstats.text_zipf_fit_sql(),
)

register(
    "emb_pca_power",
    similarity.emb_pca_power,
    similarity.emb_pca_power_sql(),
)

register(
    "corpus_dsir_weights",
    corpus.corpus_dsir_weights,
    corpus.corpus_dsir_weights_sql(),
)

register(
    "emb_outlier_zscore",
    similarity.emb_outlier_zscore,
    similarity.emb_outlier_zscore_sql(),
)

register(
    "stream_bus_adapter",
    streaming_streams.stream_bus_adapter,
    streaming_streams.stream_bus_adapter_sql(),
)

register(
    "graph_label_propagation",
    graph.graph_label_propagation,
    graph.graph_label_propagation_sql(),
)

register(
    "src_agg_pushdown",
    _flat.src_agg_pushdown,
    _flat.src_agg_pushdown_sql(),
)


register(
    "q_events_concurrency",
    analytics.q_events_concurrency,
    analytics.q_events_concurrency_sql(),
)

# Column-bisect diagnostics for the recurring driver hash-flip.
register(
    "q_events_concurrency_peak",
    analytics.q_events_concurrency_peak,
    analytics.q_events_concurrency_peak_sql(),
)

register(
    "q_events_concurrency_epoch",
    analytics.q_events_concurrency_epoch,
    analytics.q_events_concurrency_epoch_sql(),
)

register(
    "q_events_concurrency_load",
    analytics.q_events_concurrency_load,
    analytics.q_events_concurrency_load_sql(),
)

register(
    "stats_mann_whitney_u",
    analytics.stats_mann_whitney_u,
    analytics.stats_mann_whitney_u_sql(),
)

register(
    "stats_mann_whitney_z",
    analytics.stats_mann_whitney_z,
    analytics.stats_mann_whitney_z_sql(),
)

register(
    "q_events_asof_nearest",
    analytics.q_events_asof_nearest,
    analytics.q_events_asof_nearest_sql(),
)

register(
    "stats_chi_square",
    analytics.stats_chi_square,
    analytics.stats_chi_square_sql(),
)

register(
    "stats_jackknife_ci",
    analytics.stats_jackknife_ci,
    analytics.stats_jackknife_ci_sql(),
)

register(
    "corpus_length_buckets",
    corpus.corpus_length_buckets,
    corpus.corpus_length_buckets_sql(),
)

register(
    "mm_scene_segments",
    multimodal.mm_scene_segments,
    multimodal.mm_scene_segments_sql(),
)

register(
    "stats_mutual_information",
    analytics.stats_mutual_information,
    analytics.stats_mutual_information_sql(),
)

register(
    "stats_cusum_changepoint",
    analytics.stats_cusum_changepoint,
    analytics.stats_cusum_changepoint_sql(),
)

register(
    "stats_survival_km",
    analytics.stats_survival_km,
    analytics.stats_survival_km_sql(),
)

register(
    "emb_random_projection",
    similarity.emb_random_projection,
    similarity.emb_random_projection_sql(),
)

register(
    "layout_hilbert",
    layout_ops.layout_hilbert,
    layout_ops.layout_hilbert_sql(),
)

register(
    "q_events_twap",
    analytics.q_events_twap,
    analytics.q_events_twap_sql(),
)

register(
    "stats_theil_sen",
    analytics.stats_theil_sen,
    analytics.stats_theil_sen_sql(),
)

register(
    "graph_kcore",
    graph.graph_kcore,
    graph.graph_kcore_sql(),
)

register(
    "q_xml_roundtrip",
    analytics.q_xml_roundtrip,
    analytics.q_xml_roundtrip_sql(),
)

register(
    "src_python_datasource_stream",
    _pysource.src_python_datasource_stream,
    _pysource.src_python_datasource_stream_sql(),
)

register(
    "q_sql_scripting",
    analytics.q_sql_scripting,
    analytics.q_sql_scripting_sql(),
)

register(
    "q_sql_udf",
    analytics.q_sql_udf,
    analytics.q_sql_udf_sql(),
)

register(
    "stats_ewma",
    analytics.stats_ewma,
    analytics.stats_ewma_sql(),
)

register(
    "sink_range_sorted_write",
    _compact.sink_range_sorted_write,
    _compact.sink_range_sorted_write_sql(),
)

register(
    "stats_calibration",
    corpus.stats_calibration,
    corpus.stats_calibration_sql(),
)

register(
    "corpus_embed_pool",
    corpus.corpus_embed_pool,
    corpus.corpus_embed_pool_sql(),
)


_DK_DOT_QN = X.dk_fold_dot("q.qvec", "n.nvec", similarity.EMB_DIM)
_DK_DOT_QQ2 = X.dk_fold_dot("q.qvec", "q.qvec", similarity.EMB_DIM)
_DK_DOT_NN = X.dk_fold_dot("n.nvec", "n.nvec", similarity.EMB_DIM)

register(
    "corpus_knn_pseudo_label",
    similarity.corpus_knn_pseudo_label,
    f"""
    WITH eb AS (
        SELECT vec_id, embedding, label, {_DK_BUCKET} AS bucket
        FROM embeddings
    ), lab AS (
        SELECT vec_id AS nbr_id, embedding AS nvec, label AS nbr_label,
               bucket
        FROM eb WHERE vec_id % 2 = 0
    ), unl AS (
        SELECT vec_id AS query_id, embedding AS qvec,
               label AS true_label, bucket AS qbucket
        FROM eb WHERE vec_id % 2 = 1
    ), scored AS (
        SELECT q.query_id, n.nbr_id, n.nbr_label,
               {_DK_DOT_QN} / (sqrt({_DK_DOT_QQ2}) * sqrt({_DK_DOT_NN}))
                   AS c
        FROM unl q JOIN lab n ON q.qbucket = n.bucket
    ), topk AS (
        SELECT query_id, nbr_label
        FROM (SELECT query_id, nbr_label, c,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY c DESC, nbr_id) AS rank
              FROM scored)
        WHERE rank <= {similarity.KNN_LABEL_K}
    ), votes AS (
        SELECT query_id, nbr_label, count(*)::BIGINT AS n_votes
        FROM topk GROUP BY 1, 2
    ), best AS (
        SELECT query_id,
               max(struct_pack(c := n_votes, nl := -nbr_label)) AS m
        FROM votes GROUP BY 1
    )
    SELECT u.query_id, u.true_label,
           (-(m.nl))::INT AS pseudo_label,
           coalesce(m.c, 0)::BIGINT AS n_votes,
           ((-(m.nl))::INT = u.true_label) AS correct
    FROM unl u LEFT JOIN best b ON u.query_id = b.query_id
    ORDER BY u.query_id
    """,
)


register(
    "dedup_shingle_containment",
    dedup.dedup_shingle_containment,
    # asymmetric containment on the LSH candidates (subset-document
    # detection); same candidate CTEs as dedup_ngram_jaccard
    f"""
    WITH {_MINHASH_CTES},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), scored AS (
        SELECT doc_a, doc_b,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::double
                   / len(sa.sh)::double AS c_ab,
               len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::double
                   / len(sb.sh)::double AS c_ba
        FROM cand
        JOIN base sa ON doc_a = sa.doc_id
        JOIN base sb ON doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b,
           round(c_ab, 6) AS contain_a_in_b,
           round(c_ba, 6) AS contain_b_in_a,
           CASE WHEN round(c_ab, 6) >= round(c_ba, 6)
                THEN 'a' ELSE 'b' END AS contained_side
    FROM scored WHERE greatest(c_ab, c_ba) >= {dedup.CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)

register(
    "corpus_upsample_apply",
    corpus.corpus_upsample_apply,
    corpus.corpus_upsample_apply_sql(),
)

register(
    "q_events_top_paths",
    analytics.q_events_top_paths,
    analytics.q_events_top_paths_sql(),
)

register(
    "q_basket_lift",
    analytics.q_basket_lift,
    analytics.q_basket_lift_sql(),
)

register(
    "stats_anova",
    analytics.stats_anova,
    analytics.stats_anova_sql(),
)

# VERDICT r8 #2 conversion: DuckDB has no zlib, so the driver hashes the
# pipeline's recomputable invariants (row/byte accounting + deflate
# envelope booleans); exact per-row zlib values stay pytest-pinned via
# text_compression_ratio_scored (tests/test_api.py).
register(
    "text_compression_ratio",
    textstats.text_compression_ratio,
    textstats.text_compression_ratio_sql(),
)

register(
    "stats_mann_whitney",
    analytics.stats_mann_whitney,
    analytics.stats_mann_whitney_sql(),
)

register(
    "stats_spearman_daily",
    analytics.stats_spearman_daily,
    analytics.stats_spearman_daily_sql(),
)

register(
    "stats_fdr_bh",
    analytics.stats_fdr_bh,
    analytics.stats_fdr_bh_sql(),
)

register(
    "text_bm25",
    textstats.text_bm25,
    textstats.text_bm25_sql(),
)

register(
    "text_count_min",
    textstats.text_count_min,
    textstats.text_count_min_sql(),
)

register(
    "mm_aspect_buckets",
    multimodal.mm_aspect_buckets,
    multimodal.mm_aspect_buckets_sql(),
)

register(
    "q_events_mad",
    analytics.q_events_mad,
    analytics.q_events_mad_sql(),
)

register(
    "stream_chained_windows",
    streaming_streams.stream_chained_windows,
    streaming_streams.stream_chained_windows_sql(),
)

register(
    "stream_state_reader",
    streaming_streams.stream_state_reader,
    streaming_streams.stream_state_reader_sql(),
)

register(
    "q_events_regex_match",
    analytics.q_events_regex_match,
    analytics.q_events_regex_match_sql(),
)

register(
    "stats_bootstrap_ci",
    analytics.stats_bootstrap_ci,
    analytics.stats_bootstrap_ci_sql(),
)

register(
    "stats_runs_test",
    analytics.stats_runs_test,
    analytics.stats_runs_test_sql(),
)

register(
    "emb_whitening",
    similarity.emb_whitening,
    similarity.emb_whitening_sql(),
)

register(
    "src_file_metadata",
    flat_src.src_file_metadata,
    flat_src.src_file_metadata_sql(),
)

register(
    "sink_python_datasource",
    _pysource.sink_python_datasource,
    _pysource.sink_python_datasource_sql(),
)

register(
    "stats_seasonal_decompose",
    analytics.stats_seasonal_decompose,
    analytics.stats_seasonal_decompose_sql(),
)

register(
    "text_rake_keywords",
    textstats.text_rake_keywords,
    textstats.text_rake_keywords_sql(),
)

register(
    "text_jsd_drift",
    textstats.text_jsd_drift,
    textstats.text_jsd_drift_sql(),
)

register(
    "stats_tost_equivalence",
    analytics.stats_tost_equivalence,
    analytics.stats_tost_equivalence_sql(),
)

register(
    "stats_extreme_gumbel",
    analytics.stats_extreme_gumbel,
    analytics.stats_extreme_gumbel_sql(),
)

register(
    "q_decimal_exact",
    analytics.q_decimal_exact,
    analytics.q_decimal_exact_sql(),
)

register(
    "stats_var_cvar",
    analytics.stats_var_cvar,
    analytics.stats_var_cvar_sql(),
)

register(
    "graph_hits",
    graph.graph_hits,
    graph.graph_hits_sql(),
)

register(
    "q_sql_exec_immediate",
    analytics.q_sql_exec_immediate,
    analytics.q_sql_exec_immediate_sql(),
)

register(
    "stats_capture_recapture",
    analytics.stats_capture_recapture,
    analytics.stats_capture_recapture_sql(),
)

register(
    "q_events_interval_union",
    analytics.q_events_interval_union,
    analytics.q_events_interval_union_sql(),
)

register(
    "stats_jarque_bera",
    analytics.stats_jarque_bera,
    analytics.stats_jarque_bera_sql(),
)

register(
    "corpus_kn_smoothing",
    corpus.corpus_kn_smoothing,
    corpus.corpus_kn_smoothing_sql(),
)

register(
    "q_analyze_column_stats",
    flat_src.q_analyze_column_stats,
    flat_src.q_analyze_column_stats_sql(),
)

register(
    "ingest_frontier_schedule",
    fetch_op.ingest_frontier_schedule,
    fetch_op.ingest_frontier_schedule_sql(),
)

register(
    "stats_qq_normal",
    analytics.stats_qq_normal,
    analytics.stats_qq_normal_sql(),
)

register(
    "q_reconcile_sources",
    analytics.q_reconcile_sources,
    analytics.q_reconcile_sources_sql(),
)

register(
    "q_events_attribution",
    analytics.q_events_attribution,
    analytics.q_events_attribution_sql(),
)

register(
    "sample_weighted_reservoir",
    corpus.sample_weighted_reservoir,
    corpus.sample_weighted_reservoir_sql(),
)

register(
    "graph_assortativity",
    graph.graph_assortativity,
    graph.graph_assortativity_sql(),
)

register(
    "stats_mcnemar",
    analytics.stats_mcnemar,
    analytics.stats_mcnemar_sql(),
)

register(
    "q_orders_skyline",
    analytics.q_orders_skyline,
    analytics.q_orders_skyline_sql(),
)

register(
    "corpus_span_corruption",
    corpus.corpus_span_corruption,
    corpus.corpus_span_corruption_sql(),
)

register(
    "emb_distance_histogram",
    similarity.emb_distance_histogram,
    similarity.emb_distance_histogram_sql(),
)

register(
    "stats_spectral_peak",
    analytics.stats_spectral_peak,
    analytics.stats_spectral_peak_sql(),
)

register(
    "stats_control_chart",
    analytics.stats_control_chart,
    analytics.stats_control_chart_sql(),
)

register(
    "cdc_bitemporal_asof",
    cdc.cdc_bitemporal_asof,
    cdc.cdc_bitemporal_asof_sql(),
)

register(
    "stats_moving_median",
    analytics.stats_moving_median,
    analytics.stats_moving_median_sql(),
)

register(
    "stats_winsorized_trimmed",
    analytics.stats_winsorized_trimmed,
    analytics.stats_winsorized_trimmed_sql(),
)

register(
    "stats_two_way_anova",
    analytics.stats_two_way_anova,
    analytics.stats_two_way_anova_sql(),
)

register(
    "corpus_chunk_overlap",
    corpus.corpus_chunk_overlap,
    corpus.corpus_chunk_overlap_sql(),
)

register(
    "stream_quota_enforcer",
    streaming_streams.stream_quota_enforcer,
    streaming_streams.stream_quota_enforcer_sql(),
)

register(
    "ingest_sniff_provenance",
    ingest.ingest_sniff_provenance,
    ingest.ingest_sniff_provenance_sql(),
)

register(
    "stats_levene",
    analytics.stats_levene,
    analytics.stats_levene_sql(),
)

register(
    "stats_deming_regression",
    analytics.stats_deming_regression,
    analytics.stats_deming_regression_sql(),
)

register(
    "q_sql_identifier",
    analytics.q_sql_identifier,
    analytics.q_sql_identifier_sql(),
)

register(
    "dedup_prefix_family",
    dedup.dedup_prefix_family,
    dedup.dedup_prefix_family_sql(),
)


# --------------------------------------------------------------------------
# round-5 batch: K-group/rank/categorical statistics, traffic profiling,
# error-safe SQL surface, graph clustering, term burstiness, classifier
# agreement, audio VAD, embedding hubness
# --------------------------------------------------------------------------

register(
    "stats_kruskal_wallis",
    analytics.stats_kruskal_wallis,
    analytics.stats_kruskal_wallis_sql(),
)

register(
    "stats_kendall_tau",
    analytics.stats_kendall_tau,
    analytics.stats_kendall_tau_sql(),
)

register(
    "stats_cramers_v",
    analytics.stats_cramers_v,
    analytics.stats_cramers_v_sql(),
)

register(
    "q_events_inter_arrival",
    analytics.q_events_inter_arrival,
    analytics.q_events_inter_arrival_sql(),
)

register(
    "q_sql_try_arithmetic",
    analytics.q_sql_try_arithmetic,
    analytics.q_sql_try_arithmetic_sql(),
)

from navigator_data_ingest_spark.operators import graph as _graph_mod

register(
    "graph_clustering_coefficient",
    _graph_mod.graph_clustering_coefficient,
    _graph_mod.graph_clustering_coefficient_sql(),
)

register(
    "text_burstiness",
    textstats.text_burstiness,
    textstats.text_burstiness_sql(),
)

register(
    "stats_cohens_kappa",
    textstats.stats_cohens_kappa,
    textstats.stats_cohens_kappa_sql(),
)

register(
    "mm_audio_vad_segments",
    multimodal.mm_audio_vad_segments,
    multimodal.mm_audio_vad_segments_sql(),
)

# hubness: wraps the exact-baseline top-k oracle (same stripe and
# scoring fragments as sim_search_bruteforce) with the k-occurrence
# histogram re-aggregation
register(
    "emb_hubness",
    similarity.emb_hubness,
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {similarity.query_stripe_sql()}
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {_DK_DOT_QE} / (sqrt({_DK_DOT_QQ}) * sqrt({_DK_DOT_EE})) AS c
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
        FROM scored
    ), topk AS (
        SELECT query_id, vec_id FROM ranked WHERE rank <= {similarity.TOP_K}
    ), nq AS (
        SELECT count(DISTINCT query_id)::BIGINT AS n_queries FROM topk
    ), occ AS (
        SELECT vec_id, count(*)::BIGINT AS k_occ FROM topk GROUP BY vec_id
    )
    SELECT k_occ AS k_occurrence, count(*)::BIGINT AS n_vectors,
           min(vec_id) AS example_vec, max(n_queries) AS n_queries
    FROM occ CROSS JOIN nq
    GROUP BY k_occ ORDER BY k_occurrence
    """,
)


# --------------------------------------------------------------------------
# round-5 second batch: trend/long-memory tests, ABC analysis, latest-by
# surface, classifier AUC, windowed lexical diversity, isotropy audit,
# streaming progress accounting
# --------------------------------------------------------------------------

register(
    "stats_mann_kendall",
    analytics.stats_mann_kendall,
    analytics.stats_mann_kendall_sql(),
)

register(
    "stats_hurst_exponent",
    analytics.stats_hurst_exponent,
    analytics.stats_hurst_exponent_sql(),
)

register(
    "q_orders_abc_class",
    analytics.q_orders_abc_class,
    analytics.q_orders_abc_class_sql(),
)

register(
    "q_events_latest_by",
    analytics.q_events_latest_by,
    analytics.q_events_latest_by_sql(),
)

from navigator_data_ingest_spark.operators import corpus as _corpus_mod

register(
    "stats_auc_classifier",
    _corpus_mod.stats_auc_classifier,
    _corpus_mod.stats_auc_classifier_sql(),
)

register(
    "text_mattr",
    textstats.text_mattr,
    textstats.text_mattr_sql(),
)

register(
    "emb_isotropy",
    similarity.emb_isotropy,
    similarity.emb_isotropy_sql(),
)

register(
    "stream_progress_metrics",
    streaming_streams.stream_progress_metrics,
    streaming_streams.stream_progress_metrics_sql(),
)


# --------------------------------------------------------------------------
# round-5 third batch: experimentation statistics + streaming slide
# --------------------------------------------------------------------------

register(
    "stats_cuped",
    analytics.stats_cuped,
    analytics.stats_cuped_sql(),
)

register(
    "stats_bimodality",
    analytics.stats_bimodality,
    analytics.stats_bimodality_sql(),
)

register(
    "stats_power_analysis",
    analytics.stats_power_analysis,
    analytics.stats_power_analysis_sql(),
)

register(
    "stream_sliding_agg",
    streaming_streams.stream_sliding_agg,
    streaming_streams.stream_sliding_agg_sql(),
)


# --------------------------------------------------------------------------
# round-5 fourth batch: paired/blocked rank tests, concentration and
# effect-size statistics, order-book style interval analytics, cohort
# LTV, bipartite projection, lexical richness, triplet mining
# --------------------------------------------------------------------------

register(
    "stats_wilcoxon_signed_rank",
    analytics.stats_wilcoxon_signed_rank,
    analytics.stats_wilcoxon_signed_rank_sql(),
)

register(
    "stats_friedman",
    analytics.stats_friedman,
    analytics.stats_friedman_sql(),
)

register(
    "stats_herfindahl",
    analytics.stats_herfindahl,
    analytics.stats_herfindahl_sql(),
)

register(
    "stats_odds_ratio",
    analytics.stats_odds_ratio,
    analytics.stats_odds_ratio_sql(),
)

register(
    "stats_durbin_watson",
    analytics.stats_durbin_watson,
    analytics.stats_durbin_watson_sql(),
)

register(
    "q_orders_backlog",
    analytics.q_orders_backlog,
    analytics.q_orders_backlog_sql(),
)

register(
    "q_orders_cohort_ltv",
    analytics.q_orders_cohort_ltv,
    analytics.q_orders_cohort_ltv_sql(),
)

register(
    "graph_bipartite_projection",
    graph.graph_bipartite_projection,
    graph.graph_bipartite_projection_sql(),
)

register(
    "text_yule_k",
    textstats.text_yule_k,
    textstats.text_yule_k_sql(),
)

register(
    "emb_triplet_mining",
    similarity.emb_triplet_mining,
    similarity.emb_triplet_mining_sql(),
)


# --------------------------------------------------------------------------
# round-5 fifth batch: count-process dispersion, ordered-trend and
# causal-lag tests, distribution fitting, fulfilment latency, lambda
# array pipeline, conversion lag, cluster silhouette, Heaps' law,
# AV alignment
# --------------------------------------------------------------------------

register(
    "stats_dispersion_index",
    analytics.stats_dispersion_index,
    analytics.stats_dispersion_index_sql(),
)

register(
    "stats_cochran_armitage",
    analytics.stats_cochran_armitage,
    analytics.stats_cochran_armitage_sql(),
)

register(
    "stats_granger_daily",
    analytics.stats_granger_daily,
    analytics.stats_granger_daily_sql(),
)

register(
    "stats_lognormal_fit",
    analytics.stats_lognormal_fit,
    analytics.stats_lognormal_fit_sql(),
)

register(
    "q_lineitem_ship_lag",
    analytics.q_lineitem_ship_lag,
    analytics.q_lineitem_ship_lag_sql(),
)

register(
    "q_sql_lambda_arrays",
    analytics.q_sql_lambda_arrays,
    analytics.q_sql_lambda_arrays_sql(),
)

register(
    "q_events_conversion_lag",
    analytics.q_events_conversion_lag,
    analytics.q_events_conversion_lag_sql(),
)

register(
    "emb_silhouette",
    similarity.emb_silhouette,
    similarity.emb_silhouette_sql(),
)

register(
    "text_heaps_law",
    textstats.text_heaps_law,
    textstats.text_heaps_law_sql(),
)

register(
    "mm_av_sync",
    multimodal.mm_av_sync,
    multimodal.mm_av_sync_sql(),
)


# --------------------------------------------------------------------------
# round-5 sixth batch: variance-stability and rate tests, exact Gini,
# partial correlation, weighted median, sign test, discount response,
# sequence entropy, per-dim label relevance, payload entropy
# --------------------------------------------------------------------------

register(
    "stats_breusch_pagan",
    analytics.stats_breusch_pagan,
    analytics.stats_breusch_pagan_sql(),
)

register(
    "stats_poisson_rate_test",
    analytics.stats_poisson_rate_test,
    analytics.stats_poisson_rate_test_sql(),
)

register(
    "stats_gini_exact",
    analytics.stats_gini_exact,
    analytics.stats_gini_exact_sql(),
)

register(
    "stats_partial_correlation",
    analytics.stats_partial_correlation,
    analytics.stats_partial_correlation_sql(),
)

register(
    "stats_weighted_median",
    analytics.stats_weighted_median,
    analytics.stats_weighted_median_sql(),
)

register(
    "stats_sign_test",
    analytics.stats_sign_test,
    analytics.stats_sign_test_sql(),
)

register(
    "q_lineitem_discount_effect",
    analytics.q_lineitem_discount_effect,
    analytics.q_lineitem_discount_effect_sql(),
)

register(
    "text_conditional_entropy",
    textstats.text_conditional_entropy,
    textstats.text_conditional_entropy_sql(),
)

register(
    "emb_dim_relevance",
    similarity.emb_dim_relevance,
    similarity.emb_dim_relevance_sql(),
)

register(
    "mm_byte_entropy",
    multimodal.mm_byte_entropy,
    multimodal.mm_byte_entropy_sql(),
)


# --------------------------------------------------------------------------
# round-5 seventh batch: BFS reachability, phonetic blocking, repeat
# cadence, Tukey fences, trade matrix, log-rank survival comparison,
# price indices, hapax profile, centroid separation map
# --------------------------------------------------------------------------

register(
    "graph_shortest_paths",
    graph.graph_shortest_paths,
    graph.graph_shortest_paths_sql(),
)

register(
    "dedup_phonetic",
    dedup.dedup_phonetic,
    dedup.dedup_phonetic_sql(),
)

register(
    "q_orders_interarrival",
    analytics.q_orders_interarrival,
    analytics.q_orders_interarrival_sql(),
)

register(
    "stats_iqr_outliers",
    analytics.stats_iqr_outliers,
    analytics.stats_iqr_outliers_sql(),
)

register(
    "q_nation_trade_matrix",
    analytics.q_nation_trade_matrix,
    analytics.q_nation_trade_matrix_sql(),
)

register(
    "stats_log_rank",
    analytics.stats_log_rank,
    analytics.stats_log_rank_sql(),
)

register(
    "stats_price_index",
    analytics.stats_price_index,
    analytics.stats_price_index_sql(),
)

register(
    "text_hapax_ratio",
    textstats.text_hapax_ratio,
    textstats.text_hapax_ratio_sql(),
)

register(
    "emb_centroid_distances",
    similarity.emb_centroid_distances,
    similarity.emb_centroid_distances_sql(),
)


# --------------------------------------------------------------------------
# round-5 eighth batch: proportion CI, brand share shifts, audience
# overlap, Markov entropy rate, weekday profile, classifier eval,
# variance spectrum, language purity, rater agreement, numeric blocking
# --------------------------------------------------------------------------

register(
    "stats_wilson_ci",
    analytics.stats_wilson_ci,
    analytics.stats_wilson_ci_sql(),
)

register(
    "q_brand_share_shift",
    analytics.q_brand_share_shift,
    analytics.q_brand_share_shift_sql(),
)

register(
    "q_events_type_overlap",
    analytics.q_events_type_overlap,
    analytics.q_events_type_overlap_sql(),
)

register(
    "stats_entropy_rate_markov",
    analytics.stats_entropy_rate_markov,
    analytics.stats_entropy_rate_markov_sql(),
)

register(
    "q_orders_dow_profile",
    analytics.q_orders_dow_profile,
    analytics.q_orders_dow_profile_sql(),
)

register(
    "emb_confusion_metrics",
    similarity.emb_confusion_metrics,
    similarity.emb_confusion_metrics_sql(),
)

register(
    "emb_variance_spectrum",
    similarity.emb_variance_spectrum,
    similarity.emb_variance_spectrum_sql(),
)

register(
    "corpus_lang_purity",
    corpus.corpus_lang_purity,
    corpus.corpus_lang_purity_sql(),
)

register(
    "stats_fleiss_kappa",
    corpus.stats_fleiss_kappa,
    corpus.stats_fleiss_kappa_sql(),
)

register(
    "dedup_numeric_blocking",
    dedup.dedup_numeric_blocking,
    dedup.dedup_numeric_blocking_sql(),
)


# --------------------------------------------------------------------------
# round-5 ninth batch: threshold picking, reconciliation distribution,
# portmanteau whiteness, max-outlier, code screen
# --------------------------------------------------------------------------

register(
    "stats_youden_j",
    corpus.stats_youden_j,
    corpus.stats_youden_j_sql(),
)

register(
    "stats_bland_altman",
    analytics.stats_bland_altman,
    analytics.stats_bland_altman_sql(),
)

register(
    "stats_ljung_box",
    analytics.stats_ljung_box,
    analytics.stats_ljung_box_sql(),
)

register(
    "stats_grubbs",
    analytics.stats_grubbs,
    analytics.stats_grubbs_sql(),
)

register(
    "text_code_detection",
    textstats.text_code_detection,
    textstats.text_code_detection_sql(),
)


# --------------------------------------------------------------------------
# round-5 tenth batch: regression influence, AR-order picking,
# stationary behavior, class balancing, source redundancy map
# --------------------------------------------------------------------------

register(
    "stats_cooks_distance",
    analytics.stats_cooks_distance,
    analytics.stats_cooks_distance_sql(),
)

register(
    "stats_pacf",
    analytics.stats_pacf,
    analytics.stats_pacf_sql(),
)

register(
    "q_events_markov_stationary",
    analytics.q_events_markov_stationary,
    analytics.q_events_markov_stationary_sql(),
)

register(
    "sample_class_balance",
    similarity.sample_class_balance,
    similarity.sample_class_balance_sql(),
)

register(
    "text_source_similarity",
    textstats.text_source_similarity,
    textstats.text_source_similarity_sql(),
)


# --------------------------------------------------------------------------
# round-5 eleventh batch: reliability/agreement, supply risk,
# retention decay, packing audit
# --------------------------------------------------------------------------

register(
    "stats_cronbach_alpha",
    analytics.stats_cronbach_alpha,
    analytics.stats_cronbach_alpha_sql(),
)

register(
    "stats_icc",
    analytics.stats_icc,
    analytics.stats_icc_sql(),
)

register(
    "q_part_supply_risk",
    analytics.q_part_supply_risk,
    analytics.q_part_supply_risk_sql(),
)

register(
    "stats_retention_halflife",
    analytics.stats_retention_halflife,
    analytics.stats_retention_halflife_sql(),
)

register(
    "pack_boundary_stats",
    corpus.pack_boundary_stats,
    corpus.pack_boundary_stats_sql(),
)


# --------------------------------------------------------------------------
# round-5 twelfth batch: multivariate outliers, lifespan profile,
# vocabulary concentration, intrinsic dimension
# --------------------------------------------------------------------------

register(
    "stats_mahalanobis_outliers",
    analytics.stats_mahalanobis_outliers,
    analytics.stats_mahalanobis_outliers_sql(),
)

register(
    "q_events_user_lifespan",
    analytics.q_events_user_lifespan,
    analytics.q_events_user_lifespan_sql(),
)

register(
    "text_topk_coverage",
    textstats.text_topk_coverage,
    textstats.text_topk_coverage_sql(),
)

register(
    "emb_intrinsic_dim",
    similarity.emb_intrinsic_dim,
    similarity.emb_intrinsic_dim_sql(),
)


# --------------------------------------------------------------------------
# round-5 thirteenth batch: monthly seasonality, process capability,
# norm bias, per-source dup pressure
# --------------------------------------------------------------------------

register(
    "q_orders_month_index",
    analytics.q_orders_month_index,
    analytics.q_orders_month_index_sql(),
)

register(
    "stats_cpk",
    analytics.stats_cpk,
    analytics.stats_cpk_sql(),
)

register(
    "emb_norm_by_label",
    similarity.emb_norm_by_label,
    similarity.emb_norm_by_label_sql(),
)

register(
    "dedup_rate_by_source",
    dedup.dedup_rate_by_source,
    dedup.dedup_rate_by_source_sql(),
)


# --------------------------------------------------------------------------
# round-5 fourteenth batch: integrity manifest sink, demand elasticity,
# correlation-change test
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.sources import compact as _compact2

register(
    "sink_checksum_manifest",
    _compact2.sink_checksum_manifest,
    _compact2.sink_checksum_manifest_sql(),
)

register(
    "stats_elasticity_loglog",
    analytics.stats_elasticity_loglog,
    analytics.stats_elasticity_loglog_sql(),
)

register(
    "stats_fisher_z_corr_diff",
    analytics.stats_fisher_z_corr_diff,
    analytics.stats_fisher_z_corr_diff_sql(),
)


register(
    "stats_hill_tail",
    analytics.stats_hill_tail,
    analytics.stats_hill_tail_sql(),
)


# --------------------------------------------------------------------------
# round-5 fifteenth batch: experiment guardrail, LSH saturation audit
# --------------------------------------------------------------------------

register(
    "stats_ab_srm",
    analytics.stats_ab_srm,
    analytics.stats_ab_srm_sql(),
)

register(
    "dedup_bucket_stats",
    dedup.dedup_bucket_stats,
    dedup.dedup_bucket_stats_sql(_MINHASH_CTES),
)


register(
    "q_events_heavy_hitters",
    analytics.q_events_heavy_hitters,
    analytics.q_events_heavy_hitters_sql(),
)


register(
    "stats_ks_two_sample",
    analytics.stats_ks_two_sample,
    analytics.stats_ks_two_sample_sql(),
)

register(
    "stats_theil_index",
    analytics.stats_theil_index,
    analytics.stats_theil_index_sql(),
)

register(
    "mm_bitrate",
    multimodal.mm_bitrate,
    multimodal.mm_bitrate_sql(),
)


register(
    "stats_geometric_mean",
    analytics.stats_geometric_mean,
    analytics.stats_geometric_mean_sql(),
)

register(
    "stats_benford_second",
    analytics.stats_benford_second,
    analytics.stats_benford_second_sql(),
)


# 8-plane sign code for the LSH tuning sweep (same md5 plane family;
# narrower indices are bit prefixes: code % 2^p)
_DK_BUCKET8 = (
    f"list_sum(list_transform(generate_series(0, {similarity.LSH_TUNE_MAX - 1}), p -> "
    f"CASE WHEN list_reduce(list_transform(generate_series(1, {similarity.EMB_DIM}), "
    f"i -> embedding[i]::double * ({_dk_plane_component('p', 'i')})), (x, y) -> x + y) > 0 "
    f"THEN (1::bigint << p) ELSE 0::bigint END))::bigint"
)

register(
    "emb_lsh_tuning",
    similarity.emb_lsh_tuning,
    similarity.emb_lsh_tuning_sql(
        _DK_BUCKET8, _DK_DOT_QE, _DK_DOT_QQ, _DK_DOT_EE
    ),
)


register(
    "q_orders_aging",
    analytics.q_orders_aging,
    analytics.q_orders_aging_sql(),
)


# --------------------------------------------------------------------------
# round 6: exact-rational statistics wave (post round-boundary campaign)
# --------------------------------------------------------------------------

register(
    "text_simpson_diversity",
    textstats.text_simpson_diversity,
    textstats.text_simpson_diversity_sql(),
)

register(
    "text_ngram_novelty",
    textstats.text_ngram_novelty,
    textstats.text_ngram_novelty_sql(),
)

register(
    "stats_negative_binomial_fit",
    analytics.stats_negative_binomial_fit,
    analytics.stats_negative_binomial_fit_sql(),
)

register(
    "stats_page_hinkley",
    analytics.stats_page_hinkley,
    analytics.stats_page_hinkley_sql(),
)

register(
    "stats_bowley_skew",
    analytics.stats_bowley_skew,
    analytics.stats_bowley_skew_sql(),
)

register(
    "q_nation_trade_balance",
    analytics.q_nation_trade_balance,
    analytics.q_nation_trade_balance_sql(),
)

register(
    "q_events_peak_hour",
    analytics.q_events_peak_hour,
    analytics.q_events_peak_hour_sql(),
)

register(
    "graph_harmonic_centrality",
    graph.graph_harmonic_centrality,
    graph.graph_harmonic_centrality_sql(),
)

register(
    "text_readability_fk",
    textstats.text_readability_fk,
    textstats.text_readability_fk_sql(),
)

register(
    "q_customer_migration",
    analytics.q_customer_migration,
    analytics.q_customer_migration_sql(),
)

register(
    "stats_weibull_fit",
    analytics.stats_weibull_fit,
    analytics.stats_weibull_fit_sql(),
)

register(
    "q_events_dau_mau",
    analytics.q_events_dau_mau,
    analytics.q_events_dau_mau_sql(),
)

register(
    "text_pii_patterns",
    textstats.text_pii_patterns,
    textstats.text_pii_patterns_sql(),
)

register(
    "stats_cramer_von_mises",
    analytics.stats_cramer_von_mises,
    analytics.stats_cramer_von_mises_sql(),
)

register(
    "stats_brier_score",
    corpus.stats_brier_score,
    corpus.stats_brier_score_sql(),
)

register(
    "q_sql_unpivot",
    analytics.q_sql_unpivot,
    analytics.q_sql_unpivot_sql(),
)

register(
    "q_events_bot_screen",
    analytics.q_events_bot_screen,
    analytics.q_events_bot_screen_sql(),
)

register(
    "emb_centroid_drift",
    similarity.emb_centroid_drift,
    similarity.emb_centroid_drift_sql(),
)

from navigator_data_ingest_spark.sources import flat as flat_src2

# round-9 new op: persisted mergeable-sketch layer (Spark 4
# DataSketches HLL binaries written to parquet, read back, unioned) —
# the driver hashes exact counts + the 5%-band / union-monotonicity
# invariants; raw estimates are pytest-pinned via the _scored twin.
from navigator_data_ingest_spark.sources import sketches as sketches_src

register(
    "sink_hll_sketch_union",
    sketches_src.sink_hll_sketch_union,
    sketches_src.sink_hll_sketch_union_sql(),
)

# round-9 new op: Spark 4.1 WITH RECURSIVE surface (recursion-generated
# gap-filled month spine; calendar-bounded depth, exact integer cents)
register(
    "q_sql_recursive_cte",
    analytics.q_sql_recursive_cte,
    analytics.q_sql_recursive_cte_sql(),
)

# VERDICT r8 #2 conversion: the driver's DuckDB sees only table VIEWS,
# so the hashed surface is the per-file reduction a view CAN recompute
# (footer row sums == count(*), leaf-column count == view width) plus
# layout invariants; the per-row-group grid stays pytest-pinned against
# pyarrow AND parquet_metadata() (tests/test_sources.py).
register(
    "src_parquet_footer_stats",
    flat_src2.src_parquet_footer_stats,
    flat_src2.src_parquet_footer_stats_sql(),
)

register(
    "q_orders_fill_rate",
    analytics.q_orders_fill_rate,
    analytics.q_orders_fill_rate_sql(),
)

register(
    "q_supplier_reliability",
    analytics.q_supplier_reliability,
    analytics.q_supplier_reliability_sql(),
)

register(
    "dedup_cross_source",
    dedup.dedup_cross_source,
    dedup.dedup_cross_source_sql(),
)

register(
    "q_orders_trailing_range",
    analytics.q_orders_trailing_range,
    analytics.q_orders_trailing_range_sql(),
)

register(
    "q_events_funnel_steps",
    analytics.q_events_funnel_steps,
    analytics.q_events_funnel_steps_sql(),
)

register(
    "q_sql_listagg",
    analytics.q_sql_listagg,
    analytics.q_sql_listagg_sql(),
)

register(
    "text_tokenizer_fertility",
    textstats.text_tokenizer_fertility,
    textstats.text_tokenizer_fertility_sql(),
)

register(
    "stats_gains_table",
    corpus.stats_gains_table,
    corpus.stats_gains_table_sql(),
)

register(
    "stats_cohens_d",
    analytics.stats_cohens_d,
    analytics.stats_cohens_d_sql(),
)

register(
    "q_events_session_depth",
    analytics.q_events_session_depth,
    analytics.q_events_session_depth_sql(),
)

register(
    "emb_ivf_cell_census",
    similarity.emb_ivf_cell_census,
    similarity.emb_ivf_cell_census_sql(_DK_CCOS),
)

register(
    "q_events_type_pmi",
    analytics.q_events_type_pmi,
    analytics.q_events_type_pmi_sql(),
)

register(
    "sample_neyman_allocation",
    analytics.sample_neyman_allocation,
    analytics.sample_neyman_allocation_sql(),
)

register(
    "q_sql_interval_calendar",
    analytics.q_sql_interval_calendar,
    analytics.q_sql_interval_calendar_sql(),
)

register(
    "q_orders_pareto_8020",
    analytics.q_orders_pareto_8020,
    analytics.q_orders_pareto_8020_sql(),
)

register(
    "stats_crosstab_residuals",
    analytics.stats_crosstab_residuals,
    analytics.stats_crosstab_residuals_sql(),
)

register(
    "text_collocations",
    textstats.text_collocations,
    textstats.text_collocations_sql(),
)

register(
    "corpus_preference_pairs",
    corpus.corpus_preference_pairs,
    corpus.corpus_preference_pairs_sql(),
)

register(
    "q_customer_order_cycle",
    analytics.q_customer_order_cycle,
    analytics.q_customer_order_cycle_sql(),
)

register(
    "src_schema_evolution",
    flat_src2.src_schema_evolution,
    flat_src2.src_schema_evolution_sql(),
)

register(
    "emb_duplicate_vectors",
    similarity.emb_duplicate_vectors,
    similarity.emb_duplicate_vectors_sql(),
)

from navigator_data_ingest_spark.operators import cdc as cdc_mod

register(
    "cdc_snapshot_diff",
    cdc_mod.cdc_snapshot_diff,
    cdc_mod.cdc_snapshot_diff_sql(),
)

register(
    "stream_unique_users_windowed",
    streaming_ops.stream_unique_users_windowed,
    # batch replay: exact distinct users per hour == the two-level
    # stream (dedup-then-count) drained at the terminal watermark
    """
    SELECT date_trunc('hour', ts::TIMESTAMP) AS window_start,
           count(DISTINCT user_id)::BIGINT AS unique_users
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)

register(
    "q14_promo_effect",
    analytics.q14_promo_effect,
    analytics.q14_promo_effect_sql(),
)

register(
    "q10_returned_customers",
    analytics.q10_returned_customers,
    analytics.q10_returned_customers_sql(),
)

register(
    "stats_nelson_aalen",
    analytics.stats_nelson_aalen,
    analytics.stats_nelson_aalen_sql(),
)

register(
    "graph_rich_club",
    graph.graph_rich_club,
    graph.graph_rich_club_sql(),
)

register(
    "text_charset_profile",
    textstats.text_charset_profile,
    textstats.text_charset_profile_sql(),
)

register(
    "q_catalog_census",
    flat_src2.q_catalog_census,
    flat_src2.q_catalog_census_sql(),
)

register(
    "stats_wape_forecast",
    analytics.stats_wape_forecast,
    analytics.stats_wape_forecast_sql(),
)

register(
    "q_customer_churn",
    analytics.q_customer_churn,
    analytics.q_customer_churn_sql(),
)

register(
    "q_orders_basket_size",
    analytics.q_orders_basket_size,
    analytics.q_orders_basket_size_sql(),
)

register(
    "q_sql_null_semantics",
    analytics.q_sql_null_semantics,
    analytics.q_sql_null_semantics_sql(),
)

register(
    "text_length_percentiles",
    textstats.text_length_percentiles,
    textstats.text_length_percentiles_sql(),
)

# --------------------------------------------------------------------------
# round-7 additions: Spark-4 engine surfaces (DataFrame groupingSets,
# MERGE semantics, TABLESAMPLE, GROUP BY ALL, * EXCEPT, foreachBatch
# retry) + vocabulary-richness / classifier-report / robust-stats ops
# --------------------------------------------------------------------------

from navigator_data_ingest_spark.operators import cdc as _cdc7  # noqa: E402
from navigator_data_ingest_spark.streaming import streams as _streams7  # noqa: E402

register(
    "q_groupingsets_api",
    analytics.q_groupingsets_api,
    analytics.q_groupingsets_api_sql(),
)

register(
    "q_tablesample",
    analytics.q_tablesample,
    analytics.q_tablesample_sql(),
)

register(
    "q_sql_group_by_all",
    analytics.q_sql_group_by_all,
    analytics.q_sql_group_by_all_sql(),
)

register(
    "q_sql_star_except",
    analytics.q_sql_star_except,
    analytics.q_sql_star_except_sql(),
)

register(
    "q_orders_seasonality_index",
    analytics.q_orders_seasonality_index,
    analytics.q_orders_seasonality_index_sql(),
)

register(
    "stats_median_test",
    analytics.stats_median_test,
    analytics.stats_median_test_sql(),
)

register(
    "stats_gwet_ac1",
    analytics.stats_gwet_ac1,
    f"""
    WITH lid AS (
        {_LANGID_ORACLE}
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
    SELECT a AS both_en, b AS declared_only, c AS detected_only,
           d AS both_non_en,
           {_dk_rat6('(a + d)', '(a + b + c + d)')} AS po,
           {_dk_rat6('((2 * CAST(a AS HUGEINT) + b + c) * (2 * CAST(d AS HUGEINT) + b + c))',
                     '(2 * CAST(a + b + c + d AS HUGEINT) * (a + b + c + d))')} AS pe,
           {_dk_rat6('(2 * CAST(a + b + c + d AS HUGEINT) * (a + d) - (2 * CAST(a AS HUGEINT) + b + c) * (2 * CAST(d AS HUGEINT) + b + c))',
                     '(2 * CAST(a + b + c + d AS HUGEINT) * (a + b + c + d) - (2 * CAST(a AS HUGEINT) + b + c) * (2 * CAST(d AS HUGEINT) + b + c))')} AS ac1
    FROM cells
    """,
)

register(
    "stats_chao1_vocab",
    textstats.stats_chao1_vocab,
    textstats.stats_chao1_vocab_sql(),
)

register(
    "text_good_turing",
    textstats.text_good_turing,
    textstats.text_good_turing_sql(),
)

register(
    "text_f1_langid",
    textstats.text_f1_langid,
    textstats.text_f1_langid_sql(_LANGID_ORACLE),
)

register(
    "cdc_merge_into",
    _cdc7.cdc_merge_into,
    _cdc7.cdc_merge_into_sql(),
)

register(
    "stream_foreachbatch_retry",
    _streams7.stream_foreachbatch_retry,
    _streams7.stream_foreachbatch_retry_sql(),
)

register(
    "q_sql_agg_filter",
    analytics.q_sql_agg_filter,
    analytics.q_sql_agg_filter_sql(),
)

register(
    "q_sql_try_cast",
    analytics.q_sql_try_cast,
    analytics.q_sql_try_cast_sql(),
)

register(
    "q_events_nth_value",
    analytics.q_events_nth_value,
    analytics.q_events_nth_value_sql(),
)

register(
    "stats_mcc_langid",
    analytics.stats_mcc_langid,
    analytics.stats_mcc_langid_sql(_LANGID_ORACLE),
)

register(
    "stats_mode_exact",
    analytics.stats_mode_exact,
    analytics.stats_mode_exact_sql(),
)

register(
    "text_ocr_artifacts",
    textstats.text_ocr_artifacts,
    textstats.text_ocr_artifacts_sql(),
)

register(
    "stats_sprt_ab",
    analytics.stats_sprt_ab,
    analytics.stats_sprt_ab_sql(),
)

register(
    "q_sql_exists_in",
    analytics.q_sql_exists_in,
    analytics.q_sql_exists_in_sql(),
)

from navigator_data_ingest_spark.operators import corpus as _corpus7  # noqa: E402

register(
    "corpus_curriculum_order",
    _corpus7.corpus_curriculum_order,
    _corpus7.corpus_curriculum_order_sql(),
)

register(
    "q_sql_pivot",
    analytics.q_sql_pivot,
    analytics.q_sql_pivot_sql(),
)

register(
    "q_sql_join_hints",
    analytics.q_sql_join_hints,
    analytics.q_sql_join_hints_sql(),
)

register(
    "corpus_kfold_splits",
    _corpus7.corpus_kfold_splits,
    _corpus7.corpus_kfold_splits_sql(),
)

from navigator_data_ingest_spark.sources import flat as _flat7  # noqa: E402

register(
    "src_text_lines",
    _flat7.src_text_lines,
    _flat7.src_text_lines_sql(),
)

register(
    "stats_welch_t",
    analytics.stats_welch_t,
    analytics.stats_welch_t_sql(),
)

register(
    "q_sql_rank_functions",
    analytics.q_sql_rank_functions,
    analytics.q_sql_rank_functions_sql(),
)

register(
    "q_sql_lateral_subquery",
    analytics.q_sql_lateral_subquery,
    analytics.q_sql_lateral_subquery_sql(),
)

register(
    "corpus_lm_holdout_ppl",
    _corpus7.corpus_lm_holdout_ppl,
    _corpus7.corpus_lm_holdout_ppl_sql(),
)

register(
    "stats_dunn_posthoc",
    analytics.stats_dunn_posthoc,
    analytics.stats_dunn_posthoc_sql(),
)

register(
    "stats_g_test",
    analytics.stats_g_test,
    analytics.stats_g_test_sql(),
)

register(
    "q_union_by_name",
    analytics.q_union_by_name,
    analytics.q_union_by_name_sql(),
)

register(
    "stats_seasonal_mann_kendall",
    analytics.stats_seasonal_mann_kendall,
    analytics.stats_seasonal_mann_kendall_sql(),
)

register(
    "stats_cmh",
    analytics.stats_cmh,
    analytics.stats_cmh_sql(),
)


# --------------------------------------------------------------------------
# round 8: ordered/ordinal rank tests, change detection, SAX profiling
# --------------------------------------------------------------------------

register(
    "stats_jonckheere_terpstra",
    analytics.stats_jonckheere_terpstra,
    analytics.stats_jonckheere_terpstra_sql(),
)

register(
    "stats_pettitt_changepoint",
    analytics.stats_pettitt_changepoint,
    analytics.stats_pettitt_changepoint_sql(),
)

register(
    "stats_turning_points",
    analytics.stats_turning_points,
    analytics.stats_turning_points_sql(),
)

register(
    "stats_bartels_rank",
    analytics.stats_bartels_rank,
    analytics.stats_bartels_rank_sql(),
)

register(
    "stats_weighted_kappa",
    analytics.stats_weighted_kappa,
    analytics.stats_weighted_kappa_sql(),
)

register(
    "stats_kendall_w",
    analytics.stats_kendall_w,
    analytics.stats_kendall_w_sql(),
)

register(
    "q_events_sax_profile",
    analytics.q_events_sax_profile,
    analytics.q_events_sax_profile_sql(),
)


register(
    "stats_somers_d",
    analytics.stats_somers_d,
    analytics.stats_somers_d_sql(),
)

register(
    "stats_quade",
    analytics.stats_quade,
    analytics.stats_quade_sql(),
)


register(
    "stats_hodges_lehmann",
    analytics.stats_hodges_lehmann,
    analytics.stats_hodges_lehmann_sql(),
)

register(
    "stats_ww_runs_two_sample",
    analytics.stats_ww_runs_two_sample,
    analytics.stats_ww_runs_two_sample_sql(),
)


register(
    "stats_ansari_bradley",
    analytics.stats_ansari_bradley,
    analytics.stats_ansari_bradley_sql(),
)

register(
    "stats_mood_scale",
    analytics.stats_mood_scale,
    analytics.stats_mood_scale_sql(),
)

register(
    "stats_page_trend",
    analytics.stats_page_trend,
    analytics.stats_page_trend_sql(),
)

register(
    "stats_cox_stuart",
    analytics.stats_cox_stuart,
    analytics.stats_cox_stuart_sql(),
)

register(
    "pack_efficiency",
    corpus.pack_efficiency,
    corpus.pack_efficiency_sql(),
)

register(
    "split_temporal",
    corpus.split_temporal,
    corpus.split_temporal_sql(),
)

register(
    "split_dedup_aware",
    corpus.split_dedup_aware,
    corpus.split_dedup_aware_sql(),
)

register(
    "mm_shard_manifest",
    multimodal.mm_shard_manifest,
    multimodal.mm_shard_manifest_sql(),
)

register(
    "emb_cka_similarity",
    similarity.emb_cka_similarity,
    similarity.emb_cka_similarity_sql(),
)

register(
    "stats_brunner_munzel",
    analytics.stats_brunner_munzel,
    analytics.stats_brunner_munzel_sql(),
)

register(
    "stats_permutation_test",
    analytics.stats_permutation_test,
    analytics.stats_permutation_test_sql(),
)

register(
    "q_sql_unpivot_stmt",
    analytics.q_sql_unpivot_stmt,
    analytics.q_sql_unpivot_stmt_sql(),
)

register(
    "graph_resource_allocation",
    graph.graph_resource_allocation,
    graph.graph_resource_allocation_sql(),
)

register(
    "sample_downweight_duplicates",
    corpus.sample_downweight_duplicates,
    corpus.sample_downweight_duplicates_sql(),
)

register(
    "text_sentence_stats",
    textstats.text_sentence_stats,
    textstats.text_sentence_stats_sql(),
)

register(
    "q_sql_regexp_surface",
    analytics.q_sql_regexp_surface,
    analytics.q_sql_regexp_surface_sql(),
)

register(
    "dedup_band_config_sweep",
    dedup.dedup_band_config_sweep,
    dedup.dedup_band_config_sweep_oracle_sql(_MINHASH_CTES),
)

register(
    "stats_cochran_q",
    analytics.stats_cochran_q,
    analytics.stats_cochran_q_sql(),
)

register(
    "q_sql_date_arithmetic",
    analytics.q_sql_date_arithmetic,
    analytics.q_sql_date_arithmetic_sql(),
)

register(
    "filter_common_token_gate",
    corpus.filter_common_token_gate,
    corpus.filter_common_token_gate_sql(),
)

register(
    "stats_anderson_darling_2s",
    analytics.stats_anderson_darling_2s,
    analytics.stats_anderson_darling_2s_sql(),
)

register(
    "graph_katz_centrality",
    graph.graph_katz_centrality,
    graph.graph_katz_centrality_sql(),
)

register(
    "stats_paired_t",
    analytics.stats_paired_t,
    analytics.stats_paired_t_sql(),
)

register(
    "q_variant_props",
    analytics.q_variant_props,
    analytics.q_variant_props_sql(),
)

register(
    "src_xml_roundtrip",
    flat.src_xml_roundtrip,
    """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents ORDER BY doc_id
    """,
)

register(
    "corpus_quality_mix_curve",
    corpus.corpus_quality_mix_curve,
    corpus.corpus_quality_mix_curve_sql(),
)

register(
    "stats_markov_stationary",
    analytics.stats_markov_stationary,
    analytics.stats_markov_stationary_sql(),
)

register(
    "stats_blb_ci",
    analytics.stats_blb_ci,
    analytics.stats_blb_ci_sql(),
)

register(
    "dedup_threshold_sweep",
    dedup.dedup_threshold_sweep,
    # exact-permille Jaccard on the shared LSH candidate CTEs, swept
    # over the SWEEP_TAUS threshold grid with a zero-filled spine
    dedup.dedup_threshold_sweep_oracle_sql(_MINHASH_CTES),
)
