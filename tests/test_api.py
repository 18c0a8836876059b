"""Library-API tests: the operators run over ARBITRARY DataFrames with
caller-chosen column names, not just the synthetic test tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from navigator_data_ingest_spark import api

BASE = (
    "the quick brown fox jumps over the lazy dog while the calm river "
    "flows past the old stone bridge near the quiet village square at dusk"
)
DOCS = [
    (1, BASE),
    (2, BASE),  # exact dup
    (3, BASE + " tonight"),  # near dup: one appended token
    (4, "completely different content about spark dataframes and shuffles here"),
    (5, "x"),  # fails quality (too short)
]


def _df(spark):
    return spark.createDataFrame(DOCS, "page_id bigint, body string")


def test_exact_dedup_custom_columns(spark):
    out = {r.page_id: r for r in api.exact_dedup(_df(spark), "page_id", "body").collect()}
    assert out[2].is_duplicate and out[2].canonical_id == 1
    assert not out[1].is_duplicate
    assert not out[3].is_duplicate  # near dup is NOT an exact dup


def test_minhash_pairs_find_near_dup(spark):
    pairs = {
        (r.page_id_a, r.page_id_b)
        for r in api.minhash_dedup_pairs(_df(spark), "page_id", "body").collect()
    }
    assert (1, 2) in pairs  # identical docs share all bands
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares >= 1 band
    assert not any(4 in p for p in pairs)


def test_dedup_clusters_custom_columns(spark):
    out = {
        r.page_id: r for r in api.dedup_clusters(_df(spark), "page_id", "body").collect()
    }
    assert out[1].canonical_id == out[2].canonical_id == out[3].canonical_id == 1
    assert out[1].cluster_size == 3
    assert out[4].canonical_id == 4 and out[4].cluster_size == 1


def test_connected_components_chain_converges_logarithmically(spark):
    """A 256-node path graph (worst case for min-label propagation,
    which needs diameter=255 rounds — past the 50-round safety cap) must
    resolve correctly in O(log n) star-contraction rounds."""
    from navigator_data_ingest_spark.operators.dedup import (
        connected_components,
        star_contraction,
    )

    n = 256
    nodes = spark.range(0, n).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    _, rounds = star_contraction(pairs)
    assert rounds <= 15, f"chain took {rounds} rounds (diameter-bound?)"
    out = {r.doc_id: r for r in connected_components(nodes, pairs).collect()}
    assert len(out) == n
    assert all(r.canonical_id == 0 and r.cluster_size == n for r in out.values())
    assert not out[0].is_duplicate and out[255].is_duplicate


def test_quality_filter_keeps_original_columns(spark):
    kept = api.quality_filter(_df(spark), "page_id", "body")
    assert kept.columns == ["page_id", "body"]
    ids = {r.page_id for r in kept.collect()}
    assert 5 not in ids and 1 in ids


def test_cosine_topk_any_dimension(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)],
        "item bigint, v array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.01])],
        "qid bigint, qv array<double>",
    )
    out = api.cosine_topk(corpus, queries, "item", "v", "qid", "qv", k=2).collect()
    assert [r.vec_id for r in out] == [0, 7]  # nearest axes of the query
    assert out[0].rank == 1 and out[0].cos_sim > 0.99


def test_label_centroids_no_explosion(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("a", [3.0, 5.0]), ("b", [0.0, 2.0])],
        "grp string, v array<double>",
    )
    out = {
        r.grp: r.centroid
        for r in api.label_centroids(df, dim=2, label_col="grp", vec_col="v").collect()
    }
    assert out["a"] == [2.0, 4.0] and out["b"] == [0.0, 2.0]


def test_hash_sample_deterministic_and_scan_side(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = sorted(r.k for r in api.hash_sample(df, "k", 10).collect())
    s2 = sorted(r.k for r in api.hash_sample(df.repartition(7), "k", 10).collect())
    assert s1 == s2, "sample must be stable under repartitioning"
    assert 100 < len(s1) < 320  # ~10% of 2000, generous band
    assert api.hash_sample(df, "k", 0).count() == 0
    assert api.hash_sample(df, "k", 100).count() == 2000


def test_gopher_rules_custom_columns_and_filter(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in a house that is big and warm today", "keepme"),
            (2, "### ### ###", "dropme"),
        ],
        "pid bigint, body string, tag string",
    )
    flags = {r.pid: r.gopher_keep for r in api.gopher_rules(df, "pid", "body").collect()}
    assert flags[1] is True and flags[2] is False
    kept = api.gopher_filter(df, "pid", "body").collect()
    assert [(r.pid, r.tag) for r in kept] == [(1, "keepme")]  # original cols survive


def test_phash_neardup_pairs_finds_identical_payloads(spark):
    text = "a perfectly ordinary payload with enough characters to sample sixty four pixels from"
    df = spark.createDataFrame(
        [(10, text), (20, text), (30, "a completely different body of text that shares nothing with the others at all ok")],
        "mid bigint, payload string",
    )
    pairs = api.phash_neardup_pairs(df, "mid", "payload").collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(10, 20, 0)]


def test_boilerplate_stats_custom_columns(spark):
    rows = [(i, "common header text here " + ("unique" + str(i) + " ") * 10)
            for i in range(6)]
    df = spark.createDataFrame(rows, "item bigint, body string")
    out = {r.item: r for r in api.boilerplate_stats(df, "item", "body").collect()}
    assert len(out) == 6
    assert all(r.n_passages >= 1 for r in out.values())
    # every doc shares the same leading 8-token window? not necessarily —
    # but the report schema and permille bounds must hold
    assert all(0 <= r.boiler_permille <= 1000 for r in out.values())


def test_hash_classifier_scores_custom_columns(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "")], "item bigint, body string"
    )
    out = api.hash_classifier_scores(df, "item", "body").collect()
    assert len(out) == 1 and out[0].item == 1  # empty doc filtered
    assert out[0].n_tokens == 4


def test_compression_ratio_matches_zlib(spark):
    """text_compression_ratio is rows-only at the driver (DuckDB has no
    zlib) — this is its value gate: every row must match direct
    zlib.compress at the pinned level on the same bytes."""
    import zlib

    import duckdb

    from navigator_data_ingest_spark.operators import textstats as T
    from tests.conftest import SF_CORRECT

    got = {
        r["doc_id"]: r
        for r in T.text_compression_ratio_scored(spark, SF_CORRECT).collect()
    }
    want = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_CORRECT}/documents.parquet'"
    ).fetchall()
    assert len(got) == len(want)
    for doc_id, text in want:
        b = (text or "").encode("utf-8")
        comp = len(zlib.compress(b, T.ZLIB_LEVEL))
        r = got[doc_id]
        assert r["n_bytes"] == len(b)
        assert r["n_compressed"] == comp
        ratio = round(comp / (len(b) or 1), 6)
        assert abs(r["compression_ratio"] - ratio) < 1e-9
        assert r["is_low_entropy"] == (ratio < T.LOW_ENTROPY_RATIO)


def test_harmonic_bitmap_sparse_seed_keys(spark, tmp_path):
    """Seed bit indices derive from a RANK over the bounded seed
    stripe, not from the raw key value: with SPARSE supplier keys a
    (k-1)/smod quotient exceeds 63, where shiftleft silently wraps mod
    64 (seed aliasing) and bit_get raises. Keys 1 / 101 / 6401 are all
    seeds under smod=100; the raw-key quotients 0 / 1 / 64 would alias
    seed 6401 onto seed 1. The graph is the chain p10 - s1 - p11 -
    s101 - p12 - s6401 - p13 - s7, so each seed's hop census can be
    read off by hand."""
    from navigator_data_ingest_spark.operators.graph import (
        graph_harmonic_centrality,
    )

    rows = [
        # (l_partkey, l_suppkey): seeds 1, 101, 6401; 7 a non-seed
        (10, 1), (11, 1), (11, 101), (12, 101),
        (12, 6401), (13, 6401), (13, 7),
    ]
    spark.createDataFrame(
        rows, "l_partkey bigint, l_suppkey bigint"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    key = lambda rows: [  # noqa: E731
        (r.seed, r.n_hop1, r.n_hop2, r.n_hop3, r.harmonic_3hop) for r in rows
    ]
    got = key(graph_harmonic_centrality(spark, str(tmp_path)).collect())
    assert got == [
        ("s:1", 2, 1, 1, 2.833333),
        ("s:101", 2, 2, 2, 3.666667),
        ("s:6401", 2, 2, 1, 3.333333),
    ]
    assert [r[0] for r in got] == ["s:1", "s:101", "s:6401"]
