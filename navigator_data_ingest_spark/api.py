"""Public library API: the engine's core operators over YOUR DataFrames.

The registry queries bind to the synthetic test tables; this module is
the surface a pipeline author actually imports — each function takes an
arbitrary DataFrame plus the column names that play the operator's
roles, renames internally, and restores the caller's id column name on
output. Everything delegates to the same battle-tested implementations
the oracle gate covers.

    from navigator_data_ingest_spark import api
    pairs = api.minhash_dedup_pairs(df, id_col="page_id", text_col="body")
    clusters = api.dedup_clusters(df, id_col="page_id", text_col="body")
    keep = api.quality_filter(df, id_col="page_id", text_col="body")
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from navigator_data_ingest_spark.operators import corpus as _corpus
from navigator_data_ingest_spark.operators import dedup as _dedup
from navigator_data_ingest_spark.operators import multimodal as _mm
from navigator_data_ingest_spark.operators import similarity as _sim
from navigator_data_ingest_spark.operators import textstats as _text


def _as_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, content_hash, canonical_id, is_duplicate) by exact md5 match."""
    out = _dedup.exact_groups(_as_docs(df, id_col, text_col))
    return out.withColumnRenamed("doc_id", id_col)


def minhash_dedup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a, id_b, n_shared_bands)."""
    out = _dedup.minhash_pairs(_as_docs(df, id_col, text_col))
    return out.select(
        F.col("doc_a").alias(f"{id_col}_a"),
        F.col("doc_b").alias(f"{id_col}_b"),
        "n_shared_bands",
    )


def dedup_clusters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, canonical_id, cluster_size, is_duplicate): minhash pairs ->
    connected components -> canonical per component."""
    docs = _as_docs(df, id_col, text_col)
    pairs = _dedup.minhash_pairs(docs).select("doc_a", "doc_b")
    out = _dedup.connected_components(docs.select("doc_id"), pairs)
    return out.select(
        F.col("doc_id").alias(id_col),
        "canonical_id",
        "cluster_size",
        "is_duplicate",
    )


def quality_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style quality metrics + keep/drop verdict per document."""
    out = _text.quality_signals(_as_docs(df, id_col, text_col))
    return out.withColumnRenamed("doc_id", id_col)


def quality_filter(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The rows of ``df`` that pass the quality verdict (all original
    columns preserved)."""
    keep_ids = quality_signals(df, id_col, text_col).where(F.col("keep")).select(id_col)
    return df.join(keep_ids, id_col, "left_semi")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of ``queries`` against ``corpus``."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qvec")
    )
    return _sim.cosine_topk(c, q, k)


# (label_col, centroid) per label, without row explosion
label_centroids = _sim.label_centroids


def gopher_rules(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/MassiveText quality-rule flags (integer-exact) per row."""
    out = _corpus.gopher_rules(_as_docs(df, id_col, text_col))
    return out.withColumnRenamed("doc_id", id_col)


def gopher_filter(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Rows passing every Gopher rule, original columns preserved."""
    keep = (
        gopher_rules(df, id_col, text_col)
        .where(F.col("gopher_keep"))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def phash_neardup_pairs(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "text"
) -> DataFrame:
    """Banded perceptual-hash near-duplicate pairs over a payload column
    (LSH on 16-bit aHash bands, hamming-verified candidates only)."""
    return _mm.phash_neardup_pairs(
        df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("text"))
    )


def hash_sample(df: DataFrame, key_col: str, rate_pct: int) -> DataFrame:
    """Deterministic Bernoulli sample: keeps rows whose md5(key) bucket
    falls under ``rate_pct`` (0-100). Unlike ``df.sample``/TABLESAMPLE
    the predicate is stable across re-runs, engines, and repartitioning
    — the property a resumable 100 TB pipeline needs — and it evaluates
    scan-side with no shuffle. All original columns are preserved.
    """
    if not 0 <= rate_pct <= 100:
        raise ValueError(f"rate_pct must be 0-100, got {rate_pct}")
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return df.where(bucket < rate_pct)


def register_tables(spark, sf_dir: str) -> list[str]:
    """Register every engine table as a temp view so callers can use the
    raw ``spark.sql`` surface — the engine's second query API. Returns
    the registered names. Views are lazy: no data is read here, and a
    query on a view gets the same pushdown/pruning as the DataFrame API
    (Catalyst sees an identical logical plan).
    """
    from navigator_data_ingest_spark.sources.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLE_NAMES)


def boilerplate_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document boilerplate report over YOUR corpus (CCNet-style
    frequent-passage detection): (id, n_passages, n_boiler,
    boiler_permille, clean_md5)."""
    from navigator_data_ingest_spark.operators import corpus as _corpus

    out = _corpus.boilerplate_stats(_as_docs(df, id_col, text_col))
    return out.withColumnRenamed("doc_id", id_col)


def hash_classifier_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """fastText-style hashed linear quality scores over YOUR corpus:
    (id, n_tokens, score_sum, keep). Deterministic stand-in weights;
    swap the weight expression for a trained vector in production."""
    from navigator_data_ingest_spark.functions import exprs as _X
    from navigator_data_ingest_spark.operators import corpus as _corpus
    from navigator_data_ingest_spark.sources.tables import scatter as _scatter

    docs = _as_docs(df, id_col, text_col)
    with_t = _scatter(docs.sparkSession, docs).withColumn(
        "t", F.expr(_X.sp_tokens("text"))
    )
    out = _corpus.classifier_scores(with_t)
    return out.withColumnRenamed("doc_id", id_col)
