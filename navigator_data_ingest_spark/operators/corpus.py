"""Corpus-preparation operators for LLM training-data pipelines.

The steps a 100 TB pretraining corpus goes through between "crawled
documents" and "token stream": passage-level exact dedup (C4-style),
benchmark-contamination detection, within-document repetition signals
(Gopher-style), deterministic stratified sampling, source blocklist
filtering, and sequence packing (concatenate-and-chunk) with a
scale-safe two-level prefix sum.

Every operator is expression-first (whole-stage codegen), shuffles only
on the key that the semantics require, and carries a DuckDB oracle
built from the same expression templates (`functions/exprs.py`) so the
results are bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions import exprs as X
from navigator_data_ingest_spark.functions.exact import (
    dk_rat6,
    dk_units,
    sp_rat6,
    sp_units,
)
from navigator_data_ingest_spark.functions.prefix import below_sums
from navigator_data_ingest_spark.sources.tables import load_table, pin, scatter

PASSAGE_TOKENS = 16       # non-overlapping passage window (tokens)
CONTAM_K = 8              # contamination n-gram order
CONTAM_MOD = 97           # doc_id % MOD == 0 -> benchmark member
PACK_CHUNK = 256          # packed training-sequence length (tokens)
PACK_BLOCK = 4096         # doc_id block for the two-level prefix sum

# per-language keep rates in permille — integer thresholds so the
# keep decision is an integer comparison, never a float one
STRAT_RATES = {"en": 400, "es": 700, "fr": 700, "de": 800, "zh": 900}
STRAT_DEFAULT = 100

BLOCKED_SOURCES = ["src3", "src7", "src11", "src15"]


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + let-bound token array (computed once per row)."""
    return scatter(spark, load_table(spark, sf_dir, "documents")).withColumn(
        "t", F.expr(X.sp_tokens("text"))
    )


# --------------------------------------------------------------------------
# passage-level exact dedup (C4-style)
# --------------------------------------------------------------------------

def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: chunk every document into
    non-overlapping ``PASSAGE_TOKENS``-token passages, hash each, keep
    only the globally-FIRST occurrence of every distinct passage
    (ordered by (doc_id, chunk_idx)), and report per-document survival.

    Scale shape: the passage hash is map-side; the only shuffle is on
    ``passage_hash`` (first-occurrence needs all copies of a passage on
    one reducer — that IS the semantics), then an agg shuffle back to
    doc grain. Both keys are high-cardinality and unskewed (hashes), so
    this survives 100x: no single reducer sees more than one passage's
    duplicate set. This is the C4/RefinedWeb "exact substring at
    passage granularity" step that runs BEFORE fuzzy minhash dedup.
    """
    P = PASSAGE_TOKENS
    passages = _tokens_df(spark, sf_dir).where("size(t) > 0").select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(t) - 1) div {P}),"
                f" i -> md5(array_join(slice(t, i * {P} + 1, {P}), ' ')))"
            )
        ).alias("chunk_idx", "passage_hash"),
    )
    kept = passages.withColumn(
        "kept",
        F.row_number().over(
            Window.partitionBy("passage_hash").orderBy("doc_id", "chunk_idx")
        )
        == 1,
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
        .select(
            "doc_id",
            "n_passages",
            "n_kept",
            F.expr(sp_rat6("n_kept", "n_passages")).alias("kept_frac"),
        )
        .orderBy("doc_id")
    )


def dedup_passage_sql() -> str:
    P = PASSAGE_TOKENS
    return f"""
    WITH toks AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t FROM documents
    ), ch AS (
        SELECT doc_id, i::bigint AS chunk_idx,
               md5(array_to_string(t[(i * {P} + 1):(i * {P} + {P})], ' ')) AS h
        FROM toks, unnest(generate_series(0, (len(t) - 1) // {P})) AS u(i)
        WHERE len(t) > 0
    ), k AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) = 1 AS kept
        FROM ch
    )
    SELECT doc_id, count(*)::bigint AS n_passages,
           sum(kept::int)::bigint AS n_kept,
           {dk_rat6("sum(kept::int)::BIGINT", "count(*)")} AS kept_frac
    FROM k GROUP BY doc_id ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# benchmark contamination
# --------------------------------------------------------------------------

def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which candidate documents contain
    ``CONTAM_K``-gram overlaps with the benchmark set (here the docs
    with ``doc_id % CONTAM_MOD == 0`` stand in for a held-out eval set).

    Scale shape: the benchmark side is SMALL by construction (eval sets
    are thousands of documents against a 100 TB corpus), so its distinct
    n-gram set is broadcast — the candidate side never shuffles; each
    task streams its documents past the in-memory benchmark set. The
    per-doc distinct-gram count is computed map-side
    (``array_distinct``) so the join carries no duplicate grams.
    """
    docs = _tokens_df(spark, sf_dir).withColumn(
        "g", F.expr(f"array_distinct(transform({X.sp_shingles('t', CONTAM_K)}, s -> md5(s)))")
    )
    bench = (
        docs.where(F.col("doc_id") % CONTAM_MOD == 0)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    cand = (
        docs.where((F.col("doc_id") % CONTAM_MOD != 0) & (F.size("g") > 0))
        .select(
            "doc_id", F.size("g").alias("n_ngrams"), F.explode("g").alias("gram")
        )
    )
    hits = cand.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), on="gram", how="left"
    )
    return (
        hits.groupBy("doc_id", "n_ngrams")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
        .select(
            "doc_id",
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.expr(sp_rat6("n_hit", "n_ngrams")).alias("contam_frac"),
            # integer comparison: contaminated iff > 20% of distinct grams hit
            (F.col("n_hit") * 5 > F.col("n_ngrams")).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def text_contamination_sql() -> str:
    k, mod = CONTAM_K, CONTAM_MOD
    return f"""
    WITH toks AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t FROM documents
    ), grams AS (
        SELECT doc_id,
               list_distinct(list_transform({X.dk_shingles('t', k)}, s -> md5(s))) AS g
        FROM toks
    ), bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % {mod} = 0
    ), cand AS (
        SELECT doc_id, len(g) AS n_ngrams, unnest(g) AS gram
        FROM grams WHERE doc_id % {mod} <> 0 AND len(g) > 0
    ), hits AS (
        SELECT c.doc_id, c.n_ngrams,
               count(b.gram) AS n_hit
        FROM cand c LEFT JOIN bench b ON c.gram = b.gram
        GROUP BY c.doc_id, c.n_ngrams
    )
    SELECT doc_id, n_ngrams::bigint AS n_ngrams, n_hit::bigint AS n_hit,
           {dk_rat6("n_hit", "n_ngrams")} AS contam_frac,
           n_hit * 5 > n_ngrams AS contaminated
    FROM hits ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# within-document repetition (Gopher-style quality signal)
# --------------------------------------------------------------------------

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals: the share of the most
    frequent token and the fraction of duplicated 3-gram shingles —
    the two Gopher-family repetition filters.

    Scale shape: the trigram dup-fraction is a pure map-side array
    expression (``array_distinct`` inside the row). The top-token share
    needs a per-(doc, token) count — explode + two-level agg, shuffling
    on (doc_id, tok) then doc_id; both keys are unskewed because doc_id
    is part of the key. The repetitive flag uses integer cross products
    (``max_cnt * 10 > n``), never float thresholds, so the oracle
    matches bit-for-bit.
    """
    docs = _tokens_df(spark, sf_dir).where("size(t) > 0")
    tri = docs.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.expr(
            X.sp_let(
                "s",
                X.sp_shingles("t", 3),
                "size(s) - size(array_distinct(s))",
            )
        ).alias("n_dup_tri"),
        F.expr(f"size({X.sp_shingles('t', 3)})").alias("n_tri"),
    )
    top = (
        docs.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("max_cnt"))
    )
    return (
        tri.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("max_cnt").cast("long").alias("top_token_count"),
            F.expr(sp_rat6("max_cnt", "n_tokens")).alias("top_token_share"),
            F.when(
                F.col("n_tri") > 0,
                F.expr(sp_rat6("n_dup_tri", "n_tri")),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_trigram_frac"),
            (
                (F.col("max_cnt") * 10 > F.col("n_tokens"))
                | (F.col("n_dup_tri") * 2 > F.col("n_tri"))
            ).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


def text_repetition_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t FROM documents
    ), nz AS (
        SELECT * FROM toks WHERE len(t) > 0
    ), tri AS (
        SELECT doc_id, len(t) AS n_tokens,
               len({X.dk_shingles('t', 3)})
                 - len(list_distinct({X.dk_shingles('t', 3)})) AS n_dup_tri,
               len({X.dk_shingles('t', 3)}) AS n_tri
        FROM nz
    ), top AS (
        SELECT doc_id, max(cnt) AS max_cnt FROM (
            SELECT doc_id, tok, count(*) AS cnt FROM (
                SELECT doc_id, unnest(t) AS tok FROM nz
            ) GROUP BY doc_id, tok
        ) GROUP BY doc_id
    )
    SELECT tri.doc_id, n_tokens::bigint AS n_tokens,
           max_cnt::bigint AS top_token_count,
           {dk_rat6("max_cnt", "n_tokens")} AS top_token_share,
           CASE WHEN n_tri > 0
                THEN {dk_rat6("n_dup_tri", "n_tri")} ELSE 0.0 END
             AS dup_trigram_frac,
           (max_cnt * 10 > n_tokens) OR (n_dup_tri * 2 > n_tri) AS repetitive
    FROM tri JOIN top ON tri.doc_id = top.doc_id
    ORDER BY tri.doc_id
    """


# --------------------------------------------------------------------------
# sequence packing (concatenate-and-chunk)
# --------------------------------------------------------------------------

def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing: lay every document's
    tokens end-to-end in doc_id order and cut the stream into
    ``PACK_CHUNK``-token training sequences; emit each document's
    global token offset and the chunk span it lands in.

    Scale shape: a global prefix sum via an UNPARTITIONED window would
    serialize the corpus onto one task (the q_ntile_spend lesson), so
    this uses a THREE-level scan: (1) an intra-block cumsum windowed by
    ``doc_id div PACK_BLOCK`` — parallel across blocks; (2) block
    subtotals cumsum'd per SUPER-block (``block div PACK_BLOCK``) —
    still parallel, max PACK_BLOCK rows per window task; (3) super-block
    subtotals (|corpus|/PACK_BLOCK² rows — ~6k rows even at 10^11 docs)
    through the one tiny unpartitioned window, broadcast back down.
    No single window task ever sees more than PACK_BLOCK rows at any
    corpus size. Everything else is map-side integer arithmetic. The
    DuckDB oracle is the plain global window — same numbers, serial
    plan.
    """
    # docs feeds the intra-block window AND blocks (itself consumed
    # twice) — unpinned, the corpus tokenized 3x. Pin the 3-int
    # doc-grain length table (tokenize ONCE) and the block-grain
    # subtotal table (one groupBy, not two).
    docs = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.size("t").alias("n_tokens"))
        .where("n_tokens > 0")
        .withColumn("block", F.expr(f"doc_id div {PACK_BLOCK}"))
        .transform(pin)
    )
    intra = docs.withColumn(
        "intra_cum",
        F.sum("n_tokens").over(
            Window.partitionBy("block")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    blocks = (
        docs.groupBy("block")
        .agg(F.sum("n_tokens").alias("block_total"))
        .withColumn("super", F.expr(f"block div {PACK_BLOCK}"))
        .transform(pin)
    )
    intra_super = blocks.withColumn(
        "intra_super_cum",
        F.sum("block_total").over(
            Window.partitionBy("super")
            .orderBy("block")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    super_offsets = (
        blocks.groupBy("super")
        .agg(F.sum("block_total").alias("super_total"))
        .withColumn(
            "super_offset",
            F.coalesce(
                F.sum("super_total").over(
                    Window.orderBy("super").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("super", "super_offset")
    )
    block_offsets = (
        intra_super.join(F.broadcast(super_offsets), "super")
        .select(
            "block",
            (
                F.col("super_offset")
                + F.col("intra_super_cum")
                - F.col("block_total")
            ).alias("block_offset"),
        )
    )
    C = PACK_CHUNK
    return (
        intra.join(F.broadcast(block_offsets), "block")
        .withColumn(
            "global_offset", F.col("block_offset") + F.col("intra_cum") - F.col("n_tokens")
        )
        .select(
            "doc_id",
            "n_tokens",
            "global_offset",
            F.expr(f"global_offset div {C}").alias("first_chunk"),
            F.expr(f"(global_offset + n_tokens - 1) div {C}").alias("last_chunk"),
        )
        .orderBy("doc_id")
    )


def pack_sequences_sql() -> str:
    C = PACK_CHUNK
    return f"""
    WITH toks AS (
        SELECT doc_id, len({X.dk_tokens('text')}) AS n_tokens FROM documents
    ), nz AS (
        SELECT * FROM toks WHERE n_tokens > 0
    ), cum AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens AS global_offset
        FROM nz
    )
    SELECT doc_id, n_tokens::bigint AS n_tokens,
           global_offset::bigint AS global_offset,
           (global_offset // {C})::bigint AS first_chunk,
           ((global_offset + n_tokens - 1) // {C})::bigint AS last_chunk
    FROM cum ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# deterministic stratified sampling
# --------------------------------------------------------------------------

def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified downsampling with per-stratum keep rates —
    the corpus-balancing step (downsample the dominant language,
    upweight the tail) every multilingual pretraining mix needs.

    The keep decision is ``hash32('strat:' || doc_id) % 1000 <
    rate_permille[lang]`` — a pure map-side integer comparison, so the
    sample is deterministic, reproducible across engines and runs, and
    requires NO shuffle; the only shuffle is the per-language audit agg
    (|languages| rows).
    """
    rate = "CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(STRAT_RATES.items())
    ) + f" ELSE {STRAT_DEFAULT} END"
    h = X.sp_hash32("cast(doc_id as string)", "strat")
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).withColumn(
        "kept", F.expr(f"({h}) % 1000 < {rate}")
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
        .select(
            "lang",
            "n_docs",
            "n_kept",
            F.expr(sp_rat6("n_kept", "n_docs")).alias("kept_frac"),
        )
        .orderBy("lang")
    )


def sample_stratified_sql() -> str:
    rate = "CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(STRAT_RATES.items())
    ) + f" ELSE {STRAT_DEFAULT} END"
    h = X.dk_hash32("doc_id::varchar", "strat")
    return f"""
    WITH flags AS (
        SELECT lang, ({h}) % 1000 < ({rate}) AS kept FROM documents
    )
    SELECT lang, count(*)::bigint AS n_docs,
           sum(kept::int)::bigint AS n_kept,
           {dk_rat6("sum(kept::int)::BIGINT", "count(*)")} AS kept_frac
    FROM flags GROUP BY lang ORDER BY lang
    """


# --------------------------------------------------------------------------
# source blocklist filtering
# --------------------------------------------------------------------------

def filter_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/domain blocklist filtering as a broadcast ANTI join —
    the shape that matters at scale: the blocklist is a small dim (here
    inline; in production a table), the corpus side streams past the
    broadcast hash set with ZERO shuffle of document rows. Survivor
    counts per source are the audit output.
    """
    blocklist = spark.createDataFrame(
        [(s,) for s in BLOCKED_SOURCES], "source string"
    )
    survivors = scatter(spark, load_table(spark, sf_dir, "documents")).join(
        F.broadcast(blocklist), on="source", how="left_anti"
    )
    return (
        survivors.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


def filter_blocklist_sql() -> str:
    # NULL rule: the Spark side is an ANTI join, which KEEPS rows whose
    # key is NULL (a NULL source is unknown, not blocked) — plain
    # NOT IN would evaluate to NULL and silently drop them, so the
    # oracle spells the anti-join semantics out.
    blocked = ", ".join(f"'{s}'" for s in BLOCKED_SOURCES)
    return f"""
    SELECT source, count(*)::bigint AS n_docs,
           sum(n_chars)::bigint AS total_chars
    FROM documents
    WHERE source IS NULL OR source NOT IN ({blocked})
    GROUP BY source ORDER BY source
    """


H_OVERLAP = 16            # minhash components for the overlap sketch


def corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source corpus overlap: exact shingle Jaccard plus
    a minhash-sketch estimate, side by side.

    The question "how much of source A is already in source B" drives
    mixture weighting and leakage checks. Exact answer: distinct
    (source, 3-token-shingle) pairs, self-joined on shingle — the join
    key is the shingle, so per-shingle multiplicity is bounded by the
    SOURCE count (dozens), never the corpus size; the shuffle is the
    distinct + one hash join, both linear. The sketch answer: each
    source folds to an H_OVERLAP-slot minhash signature (H min-aggs,
    partial map-side — a constant-size sketch per source, the thing
    you'd persist and re-compare without touching the corpus), and the
    estimate is the fraction of matching slots. Emitting BOTH lets the
    oracle certify the sketch against the exact value in one query.

    Pair assembly is |sources|^2 — broadcast-small metadata, not data.
    """
    sh = (
        _tokens_df(spark, sf_dir)
        .select(
            "source",
            F.explode(F.expr(X.sp_shingles("t"))).alias("shingle"),
        )
        .distinct()
        # sh feeds sizes, the sketch aggs AND both sides of the
        # overlap self-join — unpinned, the tokenize + shingle
        # explode + distinct ran 4x. Pin the distinct (source,
        # shingle) table; the corpus tokenizes ONCE.
        .transform(pin)
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    sigs = sh.groupBy("source").agg(
        *[
            F.min(F.expr(X.sp_hash32("shingle", k))).alias(f"h{k}")
            for k in range(H_OVERLAP)
        ]
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    pairs = (
        sizes.alias("sa")
        .crossJoin(sizes.alias("sb"))
        .where(F.col("sa.source") < F.col("sb.source"))
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
    )
    matches = sum(
        F.when(F.col(f"ga.h{k}") == F.col(f"gb.h{k}"), 1).otherwise(0)
        for k in range(H_OVERLAP)
    )
    return (
        pairs.join(F.broadcast(common), ["source_a", "source_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .join(F.broadcast(sigs.alias("ga")), F.col("source_a") == F.col("ga.source"))
        .join(F.broadcast(sigs.alias("gb")), F.col("source_b") == F.col("gb.source"))
        .withColumn("n_match", matches)
        # both Jaccards are PURE integer rationals — integer-exact
        # HALF_UP (repo round-boundary rule)
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(sp_rat6("n_common", "n_a + n_b - n_common")).alias("jaccard"),
            F.expr(sp_rat6("n_match", str(H_OVERLAP))).alias("jaccard_est"),
        )
        .orderBy("source_a", "source_b")
    )


def corpus_overlap_sql() -> str:
    sig_cols = ", ".join(
        f"min({X.dk_hash32('shingle', k)}) AS h{k}" for k in range(H_OVERLAP)
    )
    match_sum = " + ".join(
        f"CASE WHEN ga.h{k} = gb.h{k} THEN 1 ELSE 0 END" for k in range(H_OVERLAP)
    )
    return f"""
    WITH tok AS (
        SELECT source, {X.dk_tokens('text')} AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, shingle
        FROM (SELECT source, unnest({X.dk_shingles('t')}) AS shingle FROM tok) u
    ),
    sizes AS (SELECT source, count(*)::bigint AS n FROM sh GROUP BY source),
    sigs AS (SELECT source, {sig_cols} FROM sh GROUP BY source),
    common AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*)::bigint AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n AS n_a, sb.n AS n_b,
           coalesce(c.n_common, 0)::bigint AS n_common,
           {dk_rat6('coalesce(c.n_common, 0)', 'sa.n + sb.n - coalesce(c.n_common, 0)')} AS jaccard,
           {dk_rat6(f'({match_sum})', str(H_OVERLAP))} AS jaccard_est
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN common c ON c.source_a = sa.source AND c.source_b = sb.source
    JOIN sigs ga ON ga.source = sa.source
    JOIN sigs gb ON gb.source = sb.source
    ORDER BY source_a, source_b
    """


# --------------------------------------------------------------------------
# end-to-end corpus funnel (the composed pipeline, one scan)
# --------------------------------------------------------------------------

FUNNEL_STAGES = [
    "0_raw",
    "1_blocklist",
    "2_quality",
    "3_dedup_exact",
    "4_contamination",
    "5_stratified",
]


def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline as ONE query: blocklist ->
    quality -> exact dedup -> contamination -> stratified sample, with
    per-stage survivor counts (the funnel report every corpus build
    publishes).

    Scale shape — the whole funnel is ONE corpus scan: every stage is a
    cumulative boolean FLAG, not a materialized intermediate dataset.
    The only non-map stages are (a) the dedup rank — one shuffle on
    md5(text), where "first occurrence among prior-stage survivors" is
    expressed as ``row_number() ORDER BY (qualifies DESC, doc_id)`` so
    the window needs no pre-filtered input — and (b) the contamination
    join against the broadcast benchmark gram set. The final rollup is
    a single row, unpivoted to the 6-stage report with ``stack``.
    """
    docs = _tokenized_flags_base(spark, sf_dir)

    flagged = (
        docs.withColumn("q1", F.col("f_block"))
        .withColumn("q2", F.col("f_block") & F.col("f_quality"))
        .withColumn("q3", F.col("q2") & F.col("f_dedup"))
        .withColumn("q4", F.col("q3") & F.col("f_contam"))
        .withColumn("q5", F.col("q4") & F.col("f_strat"))
    )
    row = flagged.agg(
        F.count("*").alias("n0"),
        *[F.sum(F.col(f"q{i}").cast("long")).alias(f"n{i}") for i in range(1, 6)],
    )
    stack_args = ", ".join(f"'{s}', n{i}" for i, s in enumerate(FUNNEL_STAGES))
    return (
        row.selectExpr(f"stack(6, {stack_args}) as (stage, n_docs)")
        .select("stage", F.col("n_docs").cast("long").alias("n_docs"))
        .orderBy("stage")
    )


def _tokenized_flags_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the five stage flags (see corpus_funnel)."""
    docs = _tokens_df(spark, sf_dir)

    blocked = ", ".join(f"'{s}'" for s in BLOCKED_SOURCES)
    f_block = F.expr(f"source NOT IN ({blocked})")

    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    f_quality = F.expr("size(t) >= 10") & (alpha * 10 >= F.length("text") * 6)

    docs = (
        docs.withColumn("f_block", f_block)
        .withColumn("f_quality", f_quality)
        .withColumn("h", F.md5("text"))
    )
    # dedup among stage-2 survivors WITHOUT filtering first: qualified
    # rows sort before unqualified, so rank 1 == first survivor
    qualify = F.col("f_block") & F.col("f_quality")
    w = Window.partitionBy("h").orderBy(qualify.desc(), F.col("doc_id"))
    docs = docs.withColumn("qualifies", qualify).withColumn(
        "f_dedup", F.col("qualifies") & (F.row_number().over(w) == 1)
    )

    # contamination flag (benchmark members themselves are dropped).
    # bench and the contamination probe each re-shingled the corpus
    # (3 documents scans in the funnel plan); the gram sets depend
    # only on (doc_id, t), so derive them from the token base and
    # pin the narrow (doc_id, gram-hash) table — ONE shingle+md5
    # pass serves both sides.
    grams = (
        _tokens_df(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform({X.sp_shingles('t', CONTAM_K)},"
                " s -> md5(s)))"
            ).alias("g"),
        )
        .transform(pin)
    )
    bench = (
        grams.where(F.col("doc_id") % CONTAM_MOD == 0)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    contaminated = (
        grams.where((F.col("doc_id") % CONTAM_MOD != 0) & (F.size("g") > 0))
        .select("doc_id", F.size("g").alias("n_ngrams"), F.explode("g").alias("gram"))
        .join(F.broadcast(bench.withColumn("hit", F.lit(1))), on="gram", how="left")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
        .where(F.col("n_hit") * 5 > F.col("n_ngrams"))
        .select("doc_id", F.lit(True).alias("is_contam"))
    )
    docs = docs.join(contaminated, "doc_id", "left").withColumn(
        "f_contam",
        (F.col("doc_id") % CONTAM_MOD != 0) & F.col("is_contam").isNull(),
    )

    rate = "CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(STRAT_RATES.items())
    ) + f" ELSE {STRAT_DEFAULT} END"
    h32 = X.sp_hash32("cast(doc_id as string)", "strat")
    return docs.withColumn("f_strat", F.expr(f"({h32}) % 1000 < {rate}"))


def corpus_funnel_sql() -> str:
    k, mod = CONTAM_K, CONTAM_MOD
    blocked = ", ".join(f"'{s}'" for s in BLOCKED_SOURCES)
    rate = "CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(STRAT_RATES.items())
    ) + f" ELSE {STRAT_DEFAULT} END"
    h32 = X.dk_hash32("doc_id::varchar", "strat")
    return f"""
    WITH toks AS (
        SELECT doc_id, text, lang, source, {X.dk_tokens('text')} AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, text, lang, t,
               source NOT IN ({blocked}) AS f_block,
               len(t) >= 10 AND
                 length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10
                   >= length(text) * 6 AS f_quality,
               md5(text) AS h
        FROM toks
    ),
    ded AS (
        SELECT *,
               (f_block AND f_quality) AND
               row_number() OVER (
                   PARTITION BY h
                   ORDER BY (f_block AND f_quality) DESC, doc_id
               ) = 1 AS f_dedup
        FROM base
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform({X.dk_shingles('t', k)}, s -> md5(s))) AS g
        FROM toks
    ),
    bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % {mod} = 0
    ),
    contam AS (
        SELECT c.doc_id AS contam_doc_id
        FROM (
            SELECT doc_id, len(g) AS n_ngrams, unnest(g) AS gram
            FROM grams WHERE doc_id % {mod} <> 0 AND len(g) > 0
        ) c
        LEFT JOIN bench b ON c.gram = b.gram
        GROUP BY c.doc_id, c.n_ngrams
        HAVING count(b.gram) * 5 > c.n_ngrams
    ),
    flags AS (
        SELECT d.*,
               d.doc_id % {mod} <> 0 AND ct.contam_doc_id IS NULL AS f_contam,
               ({h32}) % 1000 < ({rate}) AS f_strat
        FROM ded d LEFT JOIN contam ct ON d.doc_id = ct.contam_doc_id
    ),
    agg AS (
        SELECT count(*) AS n0,
               sum(f_block::int) AS n1,
               sum((f_block AND f_quality)::int) AS n2,
               sum((f_block AND f_quality AND f_dedup)::int) AS n3,
               sum((f_block AND f_quality AND f_dedup AND f_contam)::int) AS n4,
               sum((f_block AND f_quality AND f_dedup AND f_contam AND f_strat)::int) AS n5
        FROM flags
    )
    SELECT stage, n_docs::bigint AS n_docs FROM (
        SELECT '0_raw' AS stage, n0 AS n_docs FROM agg
        UNION ALL SELECT '1_blocklist', n1 FROM agg
        UNION ALL SELECT '2_quality', n2 FROM agg
        UNION ALL SELECT '3_dedup_exact', n3 FROM agg
        UNION ALL SELECT '4_contamination', n4 FROM agg
        UNION ALL SELECT '5_stratified', n5 FROM agg
    ) u
    ORDER BY stage
    """


# --------------------------------------------------------------------------
# Gopher-style quality rule set (integer-exact flags)
# --------------------------------------------------------------------------

GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_STOP_MIN = 2
# the Gopher paper's "must contain >= 2 of these" stopword probe
GOPHER_STOPS = ["the", "and", "of", "to", "a", "in", "is", "that"]


def gopher_rules(raw_docs: DataFrame) -> DataFrame:
    """Gopher-style quality rules over any (doc_id, text) DataFrame —
    the library surface behind ``text_gopher_rules``.

    The rule set (word count bounds, mean word length 3-10, symbol-to-
    word ratio, bullet/ellipsis line fractions, alphabetic-word
    fraction, stopword presence) is the public Gopher/MassiveText
    filter family. Every ratio test is cross-multiplied into an integer
    comparison (e.g. ``10*symbols <= words`` instead of ``ratio <=
    0.1``), so there is not a single float in the operator — the
    keep/flag bits are bit-identical across engines by construction.

    Scale shape: pure map-side expressions over one scan; zero
    shuffles. At 100 TB this runs at parquet-scan speed inside
    whole-stage codegen.
    """
    stops = "array(" + ", ".join(f"'{w}'" for w in GOPHER_STOPS) + ")"
    t = X.sp_tokens("text")
    docs = scatter(raw_docs.sparkSession, raw_docs).withColumn(
        "t", F.expr(t)
    ).withColumn("lines", F.split(F.col("text"), "\n"))
    n_words = F.expr("size(t)")
    word_chars = F.expr("aggregate(t, 0L, (a, tok) -> a + length(tok))")
    n_alpha = F.expr("size(filter(t, tok -> tok rlike '[a-z]'))")
    n_symbol = F.regexp_count(F.col("text"), F.lit(r"#|…|\.\.\."))
    n_lines = F.expr("size(lines)")
    n_bullet = F.expr(r"size(filter(lines, l -> ltrim(l) rlike '^[-*•]'))")
    n_ellipsis = F.expr(r"size(filter(lines, l -> rtrim(l) rlike '(\\.\\.\\.|…)$'))")
    n_stop = F.expr(f"size(filter({stops}, w -> array_contains(t, w)))")
    out = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        word_chars.cast("bigint").alias("word_chars"),
        n_symbol.cast("bigint").alias("n_symbol"),
        n_lines.cast("bigint").alias("n_lines"),
        n_bullet.cast("bigint").alias("n_bullet"),
        n_ellipsis.cast("bigint").alias("n_ellipsis"),
        n_alpha.cast("bigint").alias("n_alpha"),
        n_stop.cast("bigint").alias("n_stop"),
    )
    r_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    r_meanlen = (F.col("word_chars") >= 3 * F.col("n_words")) & (
        F.col("word_chars") <= 10 * F.col("n_words")
    )
    r_symbol = 10 * F.col("n_symbol") <= F.col("n_words")
    r_bullet = 10 * F.col("n_bullet") <= 9 * F.col("n_lines")
    r_ellipsis = 10 * F.col("n_ellipsis") <= 3 * F.col("n_lines")
    r_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    r_stop = F.col("n_stop") >= GOPHER_STOP_MIN
    return out.select(
        "*",
        r_words.alias("r_words"),
        r_meanlen.alias("r_meanlen"),
        r_symbol.alias("r_symbol"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (
            r_words & r_meanlen & r_symbol & r_bullet & r_ellipsis & r_alpha & r_stop
        ).alias("gopher_keep"),
    ).orderBy("doc_id")


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: Gopher rules over the documents table."""
    return gopher_rules(load_table(spark, sf_dir, "documents"))


def text_gopher_rules_sql() -> str:
    stops = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPS) + "]"
    return f"""
    WITH base AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t,
               string_split(text, chr(10)) AS lines,
               len(regexp_extract_all(text, '#|…|\\.\\.\\.'))::bigint AS n_symbol
        FROM documents
    ), counted AS (
        SELECT doc_id,
               len(t)::bigint AS n_words,
               list_sum(list_transform(t, tok -> strlen(tok)))::bigint AS word_chars,
               n_symbol,
               len(lines)::bigint AS n_lines,
               len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]')))::bigint AS n_bullet,
               len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))::bigint AS n_ellipsis,
               len(list_filter(t, tok -> regexp_matches(tok, '[a-z]')))::bigint AS n_alpha,
               len(list_filter({stops}, w -> list_contains(t, w)))::bigint AS n_stop
        FROM base
    )
    SELECT *,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}) AS r_words,
           (word_chars >= 3 * n_words AND word_chars <= 10 * n_words) AS r_meanlen,
           (10 * n_symbol <= n_words) AS r_symbol,
           (10 * n_bullet <= 9 * n_lines) AS r_bullet,
           (10 * n_ellipsis <= 3 * n_lines) AS r_ellipsis,
           (5 * n_alpha >= 4 * n_words) AS r_alpha,
           (n_stop >= {GOPHER_STOP_MIN}) AS r_stop,
           ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
            AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
            AND (10 * n_symbol <= n_words)
            AND (10 * n_bullet <= 9 * n_lines)
            AND (10 * n_ellipsis <= 3 * n_lines)
            AND (5 * n_alpha >= 4 * n_words)
            AND (n_stop >= {GOPHER_STOP_MIN})) AS gopher_keep
    FROM counted ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# temperature-based source re-weighting (multinomial mixture sampling)
# --------------------------------------------------------------------------

TEMP_ALPHA_NOTE = "alpha = 0.5 (sqrt), chosen because sqrt is IEEE-exact"
TEMP_TARGET_FRAC = 0.25  # corpus-level target keep fraction


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-weighting: keep rates proportional to
    ``n_s^alpha`` (alpha = 0.5) — the mT5/PaLM-style mixture flattening
    that upweights tail sources and downsamples dominant ones while
    hitting a corpus-level target size.

    Determinism: the weight is ``sqrt(n_s)`` (sqrt is correctly rounded
    in IEEE 754, so Spark and DuckDB agree bit-for-bit); the weight SUM
    folds over the per-source array sorted by source name (an ordered
    fold, never an unordered float SUM); the per-document keep decision
    is the md5-permille integer comparison shared with
    ``sample_stratified``.

    Scale shape: two metadata-sized aggregates (|sources| rows) feed a
    broadcast join back onto the corpus; the document side keeps its
    partitioning and never shuffles — the audit agg is the only
    document shuffle, and it is |sources|-grained.
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents"))
    # srcs feeds the wsum total AND the rates join — unpinned, the
    # documents scan + source groupBy ran twice for this |sources|-row
    # table. Pin it; the corpus is scanned once here and once in the
    # keep pass.
    srcs = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n"))
        .withColumn("w", F.sqrt(F.col("n").cast("double")))
        .transform(pin)
    )
    tot = srcs.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(source, w))), "
            "cast(0.0 as double), (a, x) -> a + x.w)"
        ).alias("wsum"),
        F.sum("n").alias("total"),
    )
    rates = srcs.crossJoin(F.broadcast(tot)).withColumn(
        "rate_pm",
        F.expr(
            f"least(1000L, cast(floor(((cast(total as double) * {TEMP_TARGET_FRAC})"
            " * (w / wsum) / n) * 1000) as bigint))"
        ),
    )
    h = X.sp_hash32("cast(doc_id as string)", "temp")
    kept = docs.join(
        F.broadcast(rates.select("source", "w", "rate_pm")), "source"
    ).withColumn("kept", F.expr(f"({h}) % 1000 < rate_pm"))
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.first("w").alias("w"),
            F.first("rate_pm").alias("rate_pm"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            F.round("w", 6).alias("weight"),
            "rate_pm",
            "n_kept",
        )
        .orderBy("source")
    )


def sample_temperature_sql() -> str:
    h = X.dk_hash32("doc_id::varchar", "temp")
    return f"""
    WITH srcs AS (
        SELECT source, count(*)::bigint AS n, sqrt(count(*)::double) AS w
        FROM documents GROUP BY source
    ), tot AS (
        SELECT list_reduce(
                   list_transform(list_sort(list({{'source': source, 'w': w}})),
                                  x -> x.w),
                   (a, b) -> a + b) AS wsum,
               sum(n)::bigint AS total
        FROM srcs
    ), rates AS (
        SELECT source, n, w,
               least(1000, floor(((total::double * {TEMP_TARGET_FRAC})
                     * (w / wsum) / n) * 1000)::bigint) AS rate_pm
        FROM srcs, tot
    ), flags AS (
        SELECT d.source, r.w, r.rate_pm,
               ({h}) % 1000 < r.rate_pm AS kept
        FROM documents d JOIN rates r ON d.source = r.source
    )
    SELECT source, count(*)::bigint AS n_docs,
           round(any_value(w), 6) AS weight,
           any_value(rate_pm) AS rate_pm,
           sum(kept::int)::bigint AS n_kept
    FROM flags GROUP BY source ORDER BY source
    """


# --------------------------------------------------------------------------
# corpus mixture report
# --------------------------------------------------------------------------

def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus composition table every pretraining run starts from:
    per (source, language) document and token counts with integer
    permille shares of the whole corpus.

    One explode-free scan (token counts are ``size(tokens)`` map-side),
    one bounded (source x lang) aggregation; the corpus totals arrive
    back by 1-row broadcast, and shares are integer permille — no float
    division until nothing depends on it.
    """
    docs = _tokens_df(spark, sf_dir).select(
        "source", "lang", F.expr("size(t)").cast("bigint").alias("n_toks")
    )
    grp = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    tot = grp.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("n_tokens").alias("tot_tokens")
    )
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("n_docs * 1000 div tot_docs").alias("doc_permille"),
            F.expr("n_tokens * 1000 div tot_tokens").alias("token_permille"),
        )
        .orderBy("source", "lang")
    )


def corpus_mix_report_sql() -> str:
    return f"""
    WITH g AS (
        SELECT source, lang, count(*)::bigint AS n_docs,
               sum(len({X.dk_tokens('text')}))::bigint AS n_tokens
        FROM documents GROUP BY source, lang
    ), tot AS (
        SELECT sum(n_docs)::bigint AS tot_docs,
               sum(n_tokens)::bigint AS tot_tokens
        FROM g
    )
    SELECT source, lang, n_docs, n_tokens,
           (n_docs * 1000 // tot_docs)::bigint AS doc_permille,
           (n_tokens * 1000 // tot_tokens)::bigint AS token_permille
    FROM g, tot ORDER BY source, lang
    """


# --------------------------------------------------------------------------
# deterministic train/validation/test split assignment
# --------------------------------------------------------------------------

# permille cut points on the split hash: [0, 980) train, [980, 990)
# validation, [990, 1000) test
SPLIT_CUTS = (980, 990)


def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test split assignment — the step
    every training-data pipeline runs last, and the one that must NEVER
    depend on row order: an eval document that migrates into train on a
    re-run is silent contamination.

    The split is keyed on ``hash32('split:' || doc_id) % 1000`` against
    fixed permille cut points — a pure map-side integer decision, stable
    under repartitioning, corpus growth (existing docs keep their split
    when new docs arrive), and engine choice. NO shuffle for the
    assignment itself; the returned holdout rows (val + test, ~2%) are
    the contamination-auditable artifact, ordered only at the bounded
    output.
    """
    h = X.sp_hash32("cast(doc_id as string)", "split")
    lo, hi = SPLIT_CUTS
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).withColumn(
        "bucket", F.expr(f"({h}) % 1000")
    )
    return (
        docs.where(F.col("bucket") >= lo)
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("bucket") < hi, F.lit("validation"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def split_train_holdout_sql() -> str:
    h = X.dk_hash32("doc_id::varchar", "split")
    lo, hi = SPLIT_CUTS
    return f"""
    WITH b AS (
        SELECT doc_id, lang, source, ({h}) % 1000 AS bucket FROM documents
    )
    SELECT doc_id, lang, source,
           CASE WHEN bucket < {hi} THEN 'validation' ELSE 'test' END AS split
    FROM b WHERE bucket >= {lo} ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# text normalization (pre-hash canonical form)
# --------------------------------------------------------------------------

# printable-control strip + whitespace collapse, shared verbatim with
# the DuckDB oracle so the canonical form is engine-identical
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_WS_RE = r"\s+"


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the step that runs immediately
    before any hash-keyed stage (exact dedup, passage dedup, split
    assignment) so that byte-level noise (case, control chars, ragged
    whitespace) doesn't defeat content addressing.

    Pure map-side regexp/case folding (whole-stage codegen, no Python,
    no shuffle except the bounded ORDER BY at the audited output); the
    md5 over the canonical form is the content address later stages
    key on, and ``changed`` makes the no-op rate auditable.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), _CTRL_RE, " "),
            _WS_RE,
            " ",
        )
    )
    return (
        docs.select("doc_id", "text", norm.alias("norm_text"))
        .select(
            "doc_id",
            F.length("norm_text").alias("n_chars_norm"),
            F.md5("norm_text").alias("norm_md5"),
            (F.col("norm_text") != F.col("text")).alias("changed"),
        )
        .orderBy("doc_id")
    )


def text_normalize_sql() -> str:
    return rf"""
    WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(lower(text),
                    '{_CTRL_RE}', ' ', 'g'), '{_WS_RE}', ' ', 'g')) AS norm_text
        FROM documents
    )
    SELECT doc_id, length(norm_text)::bigint AS n_chars_norm,
           md5(norm_text) AS norm_md5,
           norm_text <> text AS changed
    FROM n ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# per-source contribution cap (two-level exact top-k)
# --------------------------------------------------------------------------

CAP_PER_SOURCE = 20  # max documents any single source may contribute


def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap — the C4-style corpus policy that no
    single domain dominates the mix: keep at most ``CAP_PER_SOURCE``
    documents per source, selected by a deterministic hash priority
    (stable under repartitioning and re-runs, unlike rand()).

    Scale shape: a single ``Window.partitionBy(source)`` rank would
    sort EVERY row of a dominant source in one task — the classic
    skewed-window killer. Instead, exact TWO-LEVEL top-k: (1) rank
    within (shuffle-partition, source) — window partitions bounded by
    partition size — and keep k; (2) rank the surviving
    ``n_partitions x k`` candidates per source and keep k. Local top-k
    per partition is a superset of the global top-k, so the result is
    EXACT; the only full shuffle is on the already-capped candidate
    set. The oracle computes the same cap with a single global ranking.
    """
    h = X.sp_hash32("cast(doc_id as string)", "cap")
    docs = (
        scatter(spark, load_table(spark, sf_dir, "documents"))
        .withColumn("priority", F.expr(h))
        .withColumn("pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("pid", "source").orderBy("priority", "doc_id")
    cand = (
        docs.withColumn("lr", F.row_number().over(w_local))
        .where(F.col("lr") <= CAP_PER_SOURCE)
        .drop("lr", "pid")
    )
    w_global = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        cand.withColumn("rank", F.row_number().over(w_global))
        .where(F.col("rank") <= CAP_PER_SOURCE)
        .select("source", "rank", "doc_id")
        .orderBy("source", "rank")
    )


def sample_cap_per_source_sql() -> str:
    h = X.dk_hash32("doc_id::varchar", "cap")
    return f"""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                                  ORDER BY ({h}), doc_id) AS rank
        FROM documents
    )
    SELECT source, rank::int AS rank, doc_id
    FROM ranked WHERE rank <= {CAP_PER_SOURCE}
    ORDER BY source, rank
    """


# --------------------------------------------------------------------------
# token-budget corpus selection (fill a fixed token budget by priority)
# --------------------------------------------------------------------------

TOKEN_BUDGET = 15_000   # absolute token budget the selection fills
BUDGET_CLASS_DIV = 20   # n_tokens div -> quality class (capped below)
BUDGET_CLASS_MAX = 4


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select documents to fill a FIXED token budget in priority order —
    the "give me the best 50 B tokens" step of training-data curation.

    Priority is (quality_class DESC, md5 priority hash, doc_id): a
    deterministic total order, so the selected set is stable under
    re-runs and partitioning. The cumulative token count along that
    order is a global prefix sum, computed SCALE-SAFELY in three levels
    (the pack_sequences discipline): (1) cumsum within (class, block)
    where block = the hash's first hex byte — 256 ordered blocks per
    class, parallel window tasks; (2) block subtotals cumsum'd per
    class — ≤256 rows per window task by construction; (3) class
    offsets over the ≤(BUDGET_CLASS_MAX+1)-row class totals. No window
    task ever sees more than max(block population, 256) rows at any
    corpus size. ``selected`` is then a map-side comparison against the
    budget. The DuckDB oracle is the plain one-window cumsum — same
    numbers, serial plan.
    """
    h = f"substr(md5('budget:' || cast(doc_id as string)), 1, 8)"
    docs = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.size("t").alias("n_tokens"))
        .where("n_tokens > 0")
        .withColumn(
            "quality_class",
            F.expr(
                f"cast(least({BUDGET_CLASS_MAX}, n_tokens div {BUDGET_CLASS_DIV}) as int)"
            ),
        )
        .withColumn("h", F.expr(h))
        .withColumn("blk", F.expr("substr(h, 1, 2)"))
        # docs feeds the intra window AND the block totals — unpinned,
        # the documents scan + tokenize + priority-hash ran twice. Pin
        # the narrow doc-grain table; tokenization runs ONCE.
        .transform(pin)
    )
    intra = docs.withColumn(
        "intra_cum",
        F.sum("n_tokens").over(
            Window.partitionBy("quality_class", "blk")
            .orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # (class, blk) grain — bounded at (BUDGET_CLASS_MAX+1) x 256 rows at
    # any corpus size; feeds both offset tables, so pin it too.
    blocks = (
        docs.groupBy("quality_class", "blk")
        .agg(F.sum("n_tokens").alias("blk_total"))
        .transform(pin)
    )
    blk_offsets = blocks.withColumn(
        "blk_offset",
        F.coalesce(
            F.sum("blk_total").over(
                Window.partitionBy("quality_class")
                .orderBy("blk")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("quality_class", "blk", "blk_offset")
    class_offsets = (
        blocks.groupBy("quality_class")
        .agg(F.sum("blk_total").alias("class_total"))
        .withColumn(
            "class_offset",
            F.coalesce(
                F.sum("class_total").over(
                    Window.orderBy(F.desc("quality_class")).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("quality_class", "class_offset")
    )
    return (
        intra.join(F.broadcast(blk_offsets), ["quality_class", "blk"])
        .join(F.broadcast(class_offsets), "quality_class")
        .select(
            "doc_id",
            "quality_class",
            "n_tokens",
            (F.col("class_offset") + F.col("blk_offset") + F.col("intra_cum"))
            .alias("global_cum"),
        )
        .withColumn("selected", F.col("global_cum") <= TOKEN_BUDGET)
        .orderBy("doc_id")
    )


def corpus_token_budget_sql() -> str:
    return f"""
    WITH d AS (
        SELECT doc_id,
               len({X.dk_tokens('text')})::bigint AS n_tokens,
               substr(md5('budget:' || doc_id::varchar), 1, 8) AS h
        FROM documents
        WHERE len({X.dk_tokens('text')}) > 0
    ), c AS (
        SELECT doc_id, n_tokens,
               least({BUDGET_CLASS_MAX}, n_tokens // {BUDGET_CLASS_DIV})::int
                   AS quality_class,
               h
        FROM d
    ), cum AS (
        SELECT doc_id, quality_class, n_tokens,
               sum(n_tokens) OVER (ORDER BY quality_class DESC, h, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS global_cum
        FROM c
    )
    SELECT doc_id, quality_class, n_tokens::int AS n_tokens,
           global_cum::bigint AS global_cum,
           global_cum <= {TOKEN_BUDGET} AS selected
    FROM cum ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# hashed linear quality classifier (fastText/DCLM-style scoring stub)
# --------------------------------------------------------------------------

CLF_BUCKETS = 1024        # hashed feature space
CLF_WEIGHT_MULT = 2654435761  # Knuth multiplicative constant
CLF_WEIGHT_RANGE = 17     # weights in [-8, 8]


def _clf_weight_sp(tok: str) -> str:
    b = f"({X.sp_hash32(tok, 'clf')} % {CLF_BUCKETS})"
    return (
        f"(pmod({b} * {CLF_WEIGHT_MULT}, 2147483648) % {CLF_WEIGHT_RANGE}"
        f" - {CLF_WEIGHT_RANGE // 2})"
    )


def _clf_weight_dk(tok: str) -> str:
    b = f"(({X.dk_hash32(tok, 'clf')}) % {CLF_BUCKETS})"
    return (
        f"((({b} * {CLF_WEIGHT_MULT}) % 2147483648) % {CLF_WEIGHT_RANGE}"
        f" - {CLF_WEIGHT_RANGE // 2})"
    )


def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear text classifier — the fastText/DCLM-style quality
    scorer with a DETERMINISTIC stand-in weight vector (in production
    the per-bucket weights come from a trained model file broadcast to
    executors; the hashing-trick featurization, fold, and decision
    plumbing are identical).

    Each token hashes to one of ``CLF_BUCKETS`` feature buckets whose
    weight is a fixed integer in [-8, 8] derived from the bucket id; the
    document score is the integer weight sum folded INSIDE the token
    array (whole-stage codegen, no explode, no shuffle — the score is
    map-side like every production classifier filter). ``keep`` is the
    sign test. All-integer, so no float drift and no floor-vs-truncate
    division hazards cross-engine.
    """
    return classifier_scores(
        _tokens_df(spark, sf_dir), extra_cols=["lang"]
    ).orderBy("doc_id")


def classifier_scores(docs_with_t: DataFrame, extra_cols=()) -> DataFrame:
    """Library core: hashed-linear scores over any DataFrame carrying a
    let-bound token array column ``t`` (see _tokens_df)."""
    score = "aggregate(t, cast(0 as bigint), (a, x) -> a + " + _clf_weight_sp("x") + ")"
    return (
        docs_with_t.where(F.size("t") > 0)
        .select(
            "doc_id",
            *extra_cols,
            F.size("t").alias("n_tokens"),
            F.expr(score).alias("score_sum"),
        )
        .withColumn("keep", F.col("score_sum") > 0)
    )


def text_hash_classifier_sql() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {X.dk_tokens('text')} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(toks) AS x FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id, lang,
               count(*)::bigint AS n_tokens,
               sum({_clf_weight_dk('x')})::bigint AS score_sum
        FROM tok GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_tokens::int AS n_tokens, score_sum,
           score_sum > 0 AS keep
    FROM s ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# boilerplate passage removal (CCNet-style frequent-passage filter)
# --------------------------------------------------------------------------

BP_TOKENS = 8   # passage width for boilerplate detection
BP_MIN_DF = 3   # passages in >= this many DISTINCT docs are boilerplate


def boilerplate_stats(raw_docs: DataFrame) -> DataFrame:
    """Library core of text_boilerplate over any (doc_id, text)
    DataFrame; see the registry wrapper below for the scale notes."""
    docs = scatter(raw_docs.sparkSession, raw_docs).withColumn(
        "t", F.expr(X.sp_tokens("text"))
    )
    return _boilerplate_from_tokens(docs)


def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (the CCNet/CommonCrawl preprocessing step):
    passages repeated across >= BP_MIN_DF DISTINCT documents (nav bars,
    cookie banners, footers) are flagged, and each document reports its
    boilerplate fraction plus the md5 of its CLEANED text (surviving
    passages joined in order) — the content address later dedup stages
    key on.

    Scale shape: chunking and hashing are map-side; shuffle #1 is the
    passage-hash document-frequency aggregate (high-cardinality unskewed
    key), shuffle #2 joins the df verdict back onto passages by hash,
    shuffle #3 re-assembles documents (doc_id key, per-doc bounded
    rows). The frequent-passage set is NOT assumed broadcastable — at
    100 TB the df table is corpus-sized even if the frequent sliver is
    small, and the hash equijoin needs no such assumption.
    """
    return _boilerplate_from_tokens(_tokens_df(spark, sf_dir))


def _boilerplate_from_tokens(docs_with_t: DataFrame) -> DataFrame:
    P = BP_TOKENS
    chunks = (
        docs_with_t
        .where("size(t) > 0")
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, (size(t) - 1) div {P}),"
                    f" i -> array_join(slice(t, i * {P} + 1, {P}), ' '))"
                )
            ).alias("chunk_idx", "chunk"),
        )
        .withColumn("h", F.md5("chunk"))
        # one explicit hash-shuffle feeds BOTH consumers (the df agg and
        # the verdict join probe) as a ReusedExchange — without it the
        # tokenize→chunk→md5 pipeline executes twice
        .repartition("h")
    )
    df_tab = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    flagged = chunks.join(
        df_tab.where(F.col("df") >= BP_MIN_DF)
        .select("h", F.lit(True).alias("boiler")),
        "h",
        "left",
    )
    clean_md5 = F.md5(
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "boiler", "chunk"))
                    ),
                    lambda s: s["boiler"].isNull(),
                ),
                lambda s: s["chunk"],
            ),
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.coalesce(F.col("boiler"), F.lit(False)).cast("long")).alias(
                "n_boiler"
            ),
            clean_md5.alias("clean_md5"),
        )
        .withColumn(
            "boiler_permille", F.expr("n_boiler * 1000 div n_passages")
        )
        .select(
            "doc_id", "n_passages", "n_boiler", "boiler_permille", "clean_md5"
        )
        .orderBy("doc_id")
    )


def text_boilerplate_sql() -> str:
    P = BP_TOKENS
    return f"""
    WITH toks AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t FROM documents
    ), ch AS (
        SELECT doc_id, i::bigint AS chunk_idx,
               array_to_string(t[(i * {P} + 1):(i * {P} + {P})], ' ') AS chunk
        FROM toks, unnest(generate_series(0, (len(t) - 1) // {P})) AS u(i)
        WHERE len(t) > 0
    ), d AS (
        SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS df
        FROM ch GROUP BY 1
    ), fl AS (
        SELECT c.doc_id, c.chunk_idx, c.chunk,
               (d.df >= {BP_MIN_DF}) AS boiler
        FROM ch c JOIN d ON md5(c.chunk) = d.h
    )
    SELECT doc_id, count(*)::bigint AS n_passages,
           sum(CASE WHEN boiler THEN 1 ELSE 0 END)::bigint AS n_boiler,
           (sum(CASE WHEN boiler THEN 1 ELSE 0 END) * 1000
            // count(*))::bigint AS boiler_permille,
           md5(coalesce(string_agg(CASE WHEN NOT boiler THEN chunk END,
                                   ' ' ORDER BY chunk_idx), '')) AS clean_md5
    FROM fl GROUP BY doc_id ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# mixture upsampling plan (epochs / repeat factors per source)
# --------------------------------------------------------------------------

UPSAMPLE_MAX_REPEAT = 4  # cap epochs per source (diminishing returns)


def corpus_upsample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture upsampling plan: given per-source token counts, compute
    the integer REPEAT FACTOR (training epochs) that moves every source
    toward the uniform target share, capped at ``UPSAMPLE_MAX_REPEAT``
    — the "small high-quality sources get 3-4 epochs, the web crawl
    gets 1" recipe every LLM data mix writes down.

    Everything after the one (source)-grain aggregation is integer
    arithmetic on a SOURCES-sized table with the corpus totals arriving
    as a 1-row broadcast: target = ceil(total / n_sources), factor =
    clamp(ceil(target / actual)), planned = actual x factor, and the
    share drift permille before/after — the audit a mixing run reviews
    before spending GPU-hours.
    """
    per_src = (
        _tokens_df(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum(F.size("t")).alias("n_tokens"))
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n_sources")
    )
    return (
        per_src.join(F.broadcast(totals))
        .withColumn("target", F.expr("(tot + n_sources - 1) div n_sources"))
        .withColumn(
            "repeat_factor",
            F.expr(
                f"least(cast({UPSAMPLE_MAX_REPEAT} as bigint),"
                f" greatest(cast(1 as bigint),"
                f" (target + n_tokens - 1) div n_tokens))"
            ),
        )
        .withColumn("planned_tokens", F.expr("n_tokens * repeat_factor"))
        .select(
            "source",
            "n_tokens",
            "repeat_factor",
            "planned_tokens",
            F.expr("n_tokens * 1000 div tot").alias("share_permille"),
        )
        .orderBy("source")
    )


def corpus_upsample_plan_sql() -> str:
    return f"""
    WITH s AS (
        SELECT source, sum(len({X.dk_tokens('text')}))::bigint AS n_tokens
        FROM documents GROUP BY source
    ), t AS (
        SELECT sum(n_tokens)::bigint AS tot, count(*)::bigint AS n_sources
        FROM s
    ), p AS (
        SELECT source, n_tokens,
               (tot + n_sources - 1) // n_sources AS target, tot
        FROM s, t
    )
    SELECT source, n_tokens,
           least({UPSAMPLE_MAX_REPEAT}, greatest(1,
               (target + n_tokens - 1) // n_tokens))::bigint AS repeat_factor,
           (n_tokens * least({UPSAMPLE_MAX_REPEAT}, greatest(1,
               (target + n_tokens - 1) // n_tokens)))::bigint
               AS planned_tokens,
           (n_tokens * 1000 // tot)::bigint AS share_permille
    FROM p ORDER BY source
    """


# --------------------------------------------------------------------------
# bigram language-model counts (n-gram LM training table)
# --------------------------------------------------------------------------

BIGRAM_TOP_PER_HEAD = 3
BIGRAM_MIN_HEAD = 50  # heads below this corpus frequency are noise


def corpus_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model training counts: for every sufficiently
    frequent head token, its top continuation tokens with integer
    permille conditional probability — the table a Kneser-Ney/KenLM
    build materializes first, and the backbone of the classic n-gram
    perplexity filters.

    Bigrams are generated INSIDE the token array (adjacent-pair
    transform, no positional self-join); shuffle #1 aggregates bigram
    counts on the (w1, w2) hash key, head totals fold from the bigram
    table itself (a strictly smaller second shuffle), and the top-K
    rank windows per head over candidate sets bounded by that head's
    distinct-continuation count. All counts and probabilities are
    integers — no float drift.
    """
    pairs = (
        _tokens_df(spark, sf_dir)
        .where("size(t) >= 2")
        .select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    heads = big.groupBy("w1").agg(F.sum("c").alias("head_total"))
    w = Window.partitionBy("w1").orderBy(F.desc("c"), F.asc("w2"))
    return (
        big.join(heads.where(F.col("head_total") >= BIGRAM_MIN_HEAD), "w1")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BIGRAM_TOP_PER_HEAD)
        .select(
            "w1",
            "w2",
            "c",
            "head_total",
            F.expr("c * 1000 div head_total").alias("p_permille"),
            "rank",
        )
        .orderBy("w1", "rank")
    )


def corpus_bigram_lm_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT {X.dk_tokens('text')} AS t FROM documents
    ), pairs AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    ), big AS (
        SELECT w1, w2, count(*)::bigint AS c FROM pairs GROUP BY w1, w2
    ), heads AS (
        SELECT w1, sum(c)::bigint AS head_total FROM big GROUP BY w1
    ), ranked AS (
        SELECT b.w1, b.w2, b.c, h.head_total,
               row_number() OVER (PARTITION BY b.w1
                                  ORDER BY b.c DESC, b.w2) AS rank
        FROM big b JOIN heads h ON b.w1 = h.w1
        WHERE h.head_total >= {BIGRAM_MIN_HEAD}
    )
    SELECT w1, w2, c, head_total,
           (c * 1000 // head_total)::bigint AS p_permille,
           rank::int AS rank
    FROM ranked WHERE rank <= {BIGRAM_TOP_PER_HEAD}
    ORDER BY w1, rank
    """


# --------------------------------------------------------------------------
# Python UDTF (table-function extension surface)
# --------------------------------------------------------------------------

def corpus_udtf_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDTF surface (Spark 4): a user-defined TABLE function
    lateral-joined per input row — the extension point for 1→N row
    logic too stateful for an expression (parsers, tokenizer bindings,
    segmenters). This UDTF re-implements the passage chunking of
    dedup_passage so its output is independently SQL-checkable.

    UDTFs run row-at-a-time Python — the SLOW path by this repo's own
    rules (expression chunking does the same work JVM-side) — so the
    operator exists to certify the API's plumbing (registration,
    LATERAL join, schema contract), not as the production chunker;
    the docstring IS the warning.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int")
    class PassageSplit:
        def eval(self, text: str):
            import re

            toks = re.findall(r"[a-z0-9]+", (text or "").lower())
            P = PASSAGE_TOKENS
            if not toks:
                return
            for i in range(0, (len(toks) - 1) // P + 1):
                yield i, len(toks[i * P : (i + 1) * P])

    spark.udtf.register("passage_split", PassageSplit)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.chunk_idx, s.n_tokens
        FROM _udtf_docs d, LATERAL passage_split(d.text) s
        ORDER BY d.doc_id, s.chunk_idx
        """
    )


def corpus_udtf_passages_sql() -> str:
    P = PASSAGE_TOKENS
    return f"""
    WITH toks AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t FROM documents
    )
    SELECT doc_id, i::int AS chunk_idx,
           len(t[(i * {P} + 1):(i * {P} + {P})])::int AS n_tokens
    FROM toks, unnest(generate_series(0, (len(t) - 1) // {P})) AS u(i)
    WHERE len(t) > 0
    ORDER BY doc_id, chunk_idx
    """


# --------------------------------------------------------------------------
# holdout decontamination of the training split
# --------------------------------------------------------------------------

def corpus_decontaminate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminate the TRAIN split against the held-out eval split —
    the step that makes split_train_holdout's guarantee real: a train
    document sharing any CONTAM_K-gram with a holdout document is
    dropped, so eval never scores memorized text.

    The holdout side is ~2% of the corpus by construction (the split
    cut points), so its distinct-gram set BROADCASTS and the train side
    never shuffles for the check (the text_contamination shape, with
    the contamination source derived from the split instead of an
    external benchmark). Output is the per-train-doc audit.
    """
    h = X.sp_hash32("cast(doc_id as string)", "split")
    lo = SPLIT_CUTS[0]
    # docs fans out to the holdout gram set, the train explode AND the
    # final audit base — unpinned, the corpus was tokenized+shingled
    # 3x. Pin the narrow (doc_id, lang, bucket, gram-hash) projection:
    # one tokenize pass; the pin trades its (gram-stream-sized)
    # materialization for two full regex+md5 corpus passes.
    docs = _tokens_df(spark, sf_dir).withColumn(
        "bucket", F.expr(f"({h}) % 1000")
    ).withColumn(
        "g",
        F.expr(
            f"array_distinct(transform({X.sp_shingles('t', CONTAM_K)}, s -> md5(s)))"
        ),
    ).select("doc_id", "lang", "bucket", "g").transform(pin)
    holdout_grams = (
        docs.where(F.col("bucket") >= lo)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    train = docs.where(F.col("bucket") < lo).select(
        "doc_id", "lang", F.explode_outer("g").alias("gram")
    )
    hits = (
        train.join(F.broadcast(holdout_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return (
        docs.where(F.col("bucket") < lo)
        .select("doc_id", "lang")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) == 0).alias("kept"),
        )
        .orderBy("doc_id")
    )


def corpus_decontaminate_split_sql() -> str:
    h = X.dk_hash32("doc_id::varchar", "split")
    lo = SPLIT_CUTS[0]
    return f"""
    WITH d AS (
        SELECT doc_id, lang, ({h}) % 1000 AS bucket,
               list_distinct(list_transform(
                   {X.dk_shingles(X.dk_tokens('text'), CONTAM_K)},
                   s -> md5(s))) AS g
        FROM documents
    ), hold AS (
        SELECT DISTINCT unnest(g) AS gram FROM d WHERE bucket >= {lo}
    ), hits AS (
        SELECT t.doc_id, count(*)::bigint AS n_shared_grams
        FROM (SELECT doc_id, unnest(g) AS gram FROM d WHERE bucket < {lo}) t
        JOIN hold ON t.gram = hold.gram
        GROUP BY t.doc_id
    )
    SELECT d.doc_id, d.lang,
           coalesce(h.n_shared_grams, 0)::bigint AS n_shared_grams,
           coalesce(h.n_shared_grams, 0) = 0 AS kept
    FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.bucket < {lo}
    ORDER BY d.doc_id
    """


# --------------------------------------------------------------------------
# exact-k deterministic uniform sample (two-level global top-k)
# --------------------------------------------------------------------------

SAMPLE_EXACT_K = 120


def corpus_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k deterministic uniform sample — the complement of the
    permille samplers (sample_stratified/hash_sample give a rate, not a
    count): "give me exactly K random-but-reproducible documents" for
    eval sets and human review batches.

    Priority is the md5 hash of the doc id (uniform, content-free,
    stable under corpus growth of UNSAMPLED ids); selection is the
    global top-k BY PRIORITY via the two-level exact rank
    (sample_cap_per_source's discipline): a local per-partition top-k
    first, then the global rank over at most PARTITIONS x K survivors —
    never a full-corpus single-task ordering.
    """
    h = X.sp_hash32("cast(doc_id as string)", "exactk")
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", F.expr(h).alias("pri")
    )
    local = docs.withColumn(
        "lrank",
        F.row_number().over(
            Window.partitionBy(F.spark_partition_id()).orderBy("pri", "doc_id")
        ),
    ).where(F.col("lrank") <= SAMPLE_EXACT_K)
    final = (
        local.withColumn(
            "rank",
            F.row_number().over(Window.orderBy("pri", "doc_id")),
        )
        .where(F.col("rank") <= SAMPLE_EXACT_K)
        .select("rank", "doc_id", "lang", "source")
        .orderBy("rank")
    )
    return final


def corpus_sample_exact_k_sql() -> str:
    h = X.dk_hash32("doc_id::varchar", "exactk")
    return f"""
    WITH p AS (
        SELECT doc_id, lang, source, ({h}) AS pri FROM documents
    ), r AS (
        SELECT doc_id, lang, source,
               row_number() OVER (ORDER BY pri, doc_id) AS rank
        FROM p
    )
    SELECT rank::int AS rank, doc_id, lang, source
    FROM r WHERE rank <= {SAMPLE_EXACT_K} ORDER BY rank
    """


# --------------------------------------------------------------------------
# n-gram novelty (memorization / freshness score per document)
# --------------------------------------------------------------------------

def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the permille of a document's
    distinct CONTAM_K-grams never seen in any EARLIER document (by
    doc_id order) — the freshness/memorization signal dedup pipelines
    chart over ingestion time (a crawl that stops being novel has
    saturated its sources).

    First occurrence per gram is one min-aggregate on the gram hash
    (high-cardinality unskewed key); the verdict joins back on the same
    key; the per-doc rollup is the only other shuffle. No broadcast
    assumptions.
    """
    docs = _tokens_df(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform({X.sp_shingles('t', CONTAM_K)},"
                f" s -> md5(s)))"
            )
        ).alias("g"),
    )
    first = docs.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        docs.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("long")
            ).alias("n_novel"),
        )
        .withColumn("novelty_permille", F.expr("n_novel * 1000 div n_grams"))
        .orderBy("doc_id")
    )


def corpus_ngram_novelty_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t FROM documents
    ), grams AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   {X.dk_shingles('t', CONTAM_K)}, s -> md5(s)))) AS g
        FROM toks
    ), first AS (
        SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           count(*)::bigint AS n_grams,
           sum(CASE WHEN gr.doc_id = f.first_doc THEN 1 ELSE 0 END)::bigint
               AS n_novel,
           (sum(CASE WHEN gr.doc_id = f.first_doc THEN 1 ELSE 0 END) * 1000
            // count(*))::bigint AS novelty_permille
    FROM grams gr JOIN first f ON gr.g = f.g
    GROUP BY gr.doc_id ORDER BY gr.doc_id
    """


# --------------------------------------------------------------------------
# bigram-LM surprisal filter (the n-gram perplexity quality gate)
# --------------------------------------------------------------------------

PPLX_DROP_ODDS_PERMILLE = 60_000  # mean head_total/c odds above this drop


def corpus_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram surprisal scoring against the corpus bigram
    LM — the classic perplexity quality filter (CCNet/KenLM style):
    documents whose bigrams are consistently IMPROBABLE under the
    corpus model (boilerplate soup, shuffled tokens, wrong-language
    fragments) score high and are dropped.

    Integer-exact surprisal proxy (no float log, so the oracle is
    arithmetic-identical): each bigram's "odds" = head_total div c —
    the inverse conditional probability, 1 for the head's dominant
    continuation, large for rare ones — and a document's score is the
    integer-permille mean odds over its bigrams. ``dropped`` flags
    scores above PPLX_DROP_ODDS_PERMILLE.

    Scale shape: the LM (bigram counts + head totals, built once from
    the same adjacent-pair transform as corpus_bigram_lm) joins the
    per-doc bigram table on the (w1, w2) hash key — both sides shuffled
    once, no broadcast of a vocab-squared table — then one doc_id
    aggregation. Heads always exist (every doc's bigrams are in the
    corpus LM), so the join is inner with no smoothing branch.
    """
    pairs = (
        _tokens_df(spark, sf_dir)
        .where("size(t) >= 2")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        # doc bigrams feed BOTH the LM aggregation and the scoring join;
        # pin one tokenize/explode pass
        .transform(pin)
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    heads = big.groupBy("w1").agg(F.sum("c").alias("head_total"))
    lm = big.join(heads, "w1").select(
        "w1", "w2", F.expr("head_total div c").alias("odds")
    )
    return (
        pairs.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("odds").alias("odds_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "odds_sum",
            F.expr("odds_sum * 1000 div n_bigrams").alias("odds_mean_permille"),
            F.expr(
                f"odds_sum * 1000 div n_bigrams > {PPLX_DROP_ODDS_PERMILLE}"
            ).alias("dropped"),
        )
        .orderBy("doc_id")
    )


def corpus_perplexity_filter_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, {X.dk_tokens('text')} AS t FROM documents
    ), pairs AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    ), big AS (
        SELECT w1, w2, count(*)::bigint AS c FROM pairs GROUP BY w1, w2
    ), heads AS (
        SELECT w1, sum(c)::bigint AS head_total FROM big GROUP BY w1
    ), lm AS (
        SELECT b.w1, b.w2, h.head_total // b.c AS odds
        FROM big b JOIN heads h ON b.w1 = h.w1
    ), scored AS (
        SELECT p.doc_id, count(*)::bigint AS n_bigrams,
               sum(l.odds)::bigint AS odds_sum
        FROM pairs p JOIN lm l ON p.w1 = l.w1 AND p.w2 = l.w2
        GROUP BY p.doc_id
    )
    SELECT doc_id, n_bigrams, odds_sum,
           (odds_sum * 1000 // n_bigrams)::bigint AS odds_mean_permille,
           odds_sum * 1000 // n_bigrams > {PPLX_DROP_ODDS_PERMILLE} AS dropped
    FROM scored ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# DSIR-style importance weights (hashed-n-gram target/source log-ratio)
# --------------------------------------------------------------------------

DSIR_BUCKETS = 64
DSIR_SEED = 17
DSIR_TARGET_LANG = "en"  # stand-in "high-quality target" slice


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-Selection-with-Importance-Resampling weights: per document,
    the hashed-unigram naive-Bayes log importance ratio
    ``sum_tokens ln(p_target(bucket) / p_source(bucket))`` between a
    target slice (here the DSIR_TARGET_LANG documents — in production, the
    high-quality reference corpus) and the full source corpus, with
    add-one smoothing over DSIR_BUCKETS hashed features. Documents
    whose token distribution resembles the target score high and get
    up-sampled — the standard cheap alternative to classifier-based
    selection at pretraining scale.

    Scale shape: token bucketing is a map-side md5 hash; the two count
    tables collapse to DSIR_BUCKETS rows each (one explode-shuffle,
    partial aggs), the per-bucket log-ratio table is DSIR_BUCKETS rows
    BROADCAST back onto the exploded tokens, and one doc_id aggregation
    finishes — the corpus is tokenized once and never self-joined.
    """
    toks = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", "lang", F.explode("t").alias("tok"))
        .withColumn("f", F.expr(f"{X.sp_hash32('tok', DSIR_SEED)} % {DSIR_BUCKETS}"))
        .select("doc_id", "lang", "f")
        # consumed by the count pass AND the scoring join — pin so the
        # corpus is tokenized once, not twice (the 100x probe's lesson)
        .transform(pin)
    )
    # ONE aggregation pass builds both the source and target counts
    # (conditional count instead of a second corpus scan)
    counts = toks.groupBy("f").agg(
        F.count(F.lit(1)).alias("cs"),
        F.sum(
            (F.col("lang") == DSIR_TARGET_LANG).cast("bigint")
        ).alias("ct"),
    )
    # 1-row totals ride the bucket table (sum over <= DSIR_BUCKETS rows)
    ratio = (
        counts.crossJoin(
            F.broadcast(
                counts.agg(
                    F.sum("cs").alias("ts"), F.sum("ct").alias("tt")
                )
            )
        )
        .select(
            "f",
            (
                F.log(
                    (F.col("ct") + 1).cast("double")
                    / (F.col("tt") + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.col("cs") + 1).cast("double")
                    / (F.col("ts") + DSIR_BUCKETS).cast("double")
                )
            ).alias("logr"),
        )
    )
    return (
        toks.join(F.broadcast(ratio), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logr").alias("_lw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round("_lw", 6).alias("dsir_logweight"),
            F.round(
                F.col("_lw") / F.col("n_tokens").cast("double"), 6
            ).alias("dsir_logweight_per_token"),
        )
        .orderBy("doc_id")
    )


def corpus_dsir_weights_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, lang,
               ({X.dk_hash32('tok', DSIR_SEED)}) % {DSIR_BUCKETS} AS f
        FROM (SELECT doc_id, lang, unnest({X.dk_tokens('text')}) AS tok
              FROM documents)
    ), src AS (
        SELECT f, count(*)::bigint AS cs FROM toks GROUP BY f
    ), tgt AS (
        SELECT f, count(*)::bigint AS ct FROM toks
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY f
    ), totals AS (
        SELECT (SELECT sum(cs) FROM src) AS ts,
               (SELECT sum(ct) FROM tgt) AS tt
    ), ratio AS (
        SELECT s.f,
               ln((coalesce(t.ct, 0) + 1)::double / (tot.tt + {DSIR_BUCKETS})::double)
               - ln((s.cs + 1)::double / (tot.ts + {DSIR_BUCKETS})::double) AS logr
        FROM src s LEFT JOIN tgt t ON s.f = t.f, totals tot
    ), scored AS (
        SELECT k.doc_id, count(*)::bigint AS n_tokens, sum(r.logr) AS lw
        FROM toks k JOIN ratio r ON k.f = r.f
        GROUP BY k.doc_id
    )
    SELECT doc_id, n_tokens, round(lw, 6) AS dsir_logweight,
           round(lw / n_tokens::double, 6) AS dsir_logweight_per_token
    FROM scored ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# padded-length bucketing (batching economics)
# --------------------------------------------------------------------------

BUCKET_EDGES = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]


def _bucket_case(n: str) -> str:
    """CASE expression assigning a token count to its power-of-2 padding
    bucket — the SAME integer text runs in both engines (no float
    log2)."""
    whens = " ".join(
        f"WHEN {n} <= {e} THEN {e}" for e in BUCKET_EDGES[:-1]
    )
    return f"CASE {whens} ELSE {BUCKET_EDGES[-1]} END"


def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padded-length bucket economics: assign every document to the
    power-of-2 token-length bucket a batched trainer would pad it to,
    and report the padding waste per bucket — the number that decides
    whether a corpus needs length-grouped batching.

    Pure map-side arithmetic (whitespace token count -> integer CASE
    ladder) followed by ONE aggregation on ~9 keys with map-side
    partials; over-long documents are truncated to the top bucket
    before the waste calculation, mirroring trainer truncation. No
    floats until the final ratio.
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents"))
    n_tok = "size(regexp_extract_all(text, '\\\\S+', 0))"
    bucketed = docs.select(
        F.expr(_bucket_case(n_tok)).cast("bigint").alias("bucket"),
        F.expr(f"least({n_tok}, {BUCKET_EDGES[-1]})")
        .cast("bigint")
        .alias("kept_tokens"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept_tokens").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            (F.col("bucket") * F.col("n_docs") - F.col("sum_tokens")).alias(
                "padding_waste"
            ),
            # waste_frac is a PURE integer rational — integer-exact
            # HALF_UP (rendered-SQL lint, round 7).
            F.expr(
                sp_rat6(
                    "cast(bucket as bigint) * n_docs - sum_tokens",
                    "cast(bucket as bigint) * n_docs",
                )
            ).alias("waste_frac"),
        )
        .orderBy("bucket")
    )


def corpus_length_buckets_sql() -> str:
    n_tok = r"len(regexp_extract_all(text, '\S+'))"
    return f"""
    WITH b AS (
        SELECT ({_bucket_case(n_tok)})::BIGINT AS bucket,
               least({n_tok}, {BUCKET_EDGES[-1]})::BIGINT AS kept_tokens
        FROM documents
    ), g AS (
        SELECT bucket, count(*)::BIGINT AS n_docs,
               sum(kept_tokens)::BIGINT AS sum_tokens
        FROM b GROUP BY bucket
    )
    SELECT bucket, n_docs, sum_tokens,
           (bucket * n_docs - sum_tokens)::BIGINT AS padding_waste,
           {dk_rat6('bucket::BIGINT * n_docs - sum_tokens',
                    'bucket::BIGINT * n_docs')} AS waste_frac
    FROM g ORDER BY bucket
    """


# --------------------------------------------------------------------------
# classifier calibration (reliability bins over the hashed scorer)
# --------------------------------------------------------------------------

CAL_BINS = 10


def stats_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the hashed quality classifier: sigmoid
    the per-token-normalized score into a pseudo-probability, bin into
    deciles, and compare mean predicted probability against the
    observed positive rate (label: lang = 'en') per bin — the
    calibration table every classifier-filtered corpus ships alongside
    its keep/drop stats (a mis-calibrated filter silently shifts the
    corpus mix).

    Composes ``classifier_scores`` (map-side integer fold, no explode);
    the only shuffle is the CAL_BINS-bounded aggregation. The sigmoid
    and means are the sole float steps, rounded to 6 dp.
    """
    scored = classifier_scores(_tokens_df(spark, sf_dir), extra_cols=["lang"])
    p = 1.0 / (
        1.0
        + F.exp(
            -F.col("score_sum").cast("double") / F.col("n_tokens").cast("double")
        )
    )
    binned = scored.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        p.alias("p"),
        F.least(F.lit(CAL_BINS - 1), F.floor(p * CAL_BINS)).cast("bigint").alias(
            "bin"
        ),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("p"), 6).alias("mean_pred"),
            F.round(F.avg(F.col("y").cast("double")), 6).alias("frac_pos"),
        )
        .withColumn(
            "gap", F.round(F.col("mean_pred") - F.col("frac_pos"), 6)
        )
        .orderBy("bin")
    )


def stats_calibration_sql() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {X.dk_tokens('text')} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(toks) AS x FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id, lang, count(*)::bigint AS n_tokens,
               sum({_clf_weight_dk('x')})::bigint AS score_sum
        FROM tok GROUP BY doc_id, lang
    ), pp AS (
        SELECT (lang = 'en')::int AS y,
               1.0 / (1.0 + exp(-(score_sum::DOUBLE / n_tokens::DOUBLE))) AS p
        FROM s
    ), b AS (
        SELECT y, p,
               least({CAL_BINS - 1}, floor(p * {CAL_BINS}))::BIGINT AS bin
        FROM pp
    )
    SELECT bin, count(*)::BIGINT AS n_docs,
           round(avg(p), 6) AS mean_pred,
           round(avg(y::DOUBLE), 6) AS frac_pos,
           round(round(avg(p), 6) - round(avg(y::DOUBLE), 6), 6) AS gap
    FROM b GROUP BY bin ORDER BY bin
    """


# --------------------------------------------------------------------------
# token-embedding mean pooling (doc embedding plumbing)
# --------------------------------------------------------------------------

POOL_DIM = 8  # per-token embedding width (deterministic hash stub)


def corpus_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document embeddings by mean-pooling per-token vectors — the
    embedding-GENERATION plumbing (tokenize -> per-token vector ->
    masked mean pool -> L2 stats) with a deterministic hash stub where
    the model forward pass goes; swapping in a real encoder changes
    only the per-token vector expression (production: a Pandas-UDF
    batch over a loaded model), not the pooling or the schema.

    Pooling never explodes tokens x dims: all POOL_DIM folds live in
    ONE let-bound struct so the token array is materialized once per
    row (the projection-collapse hazard — without the let, each fold
    re-runs the tokenizer regex), and the keyed repartition stops the
    downstream field reads from re-inlining the struct. The certified
    output is the pooled vector's first dims + L2 norm.
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents"))
    # one md5 digest per (token, fold), sliced into a 16-bit lane per
    # dim: measured FASTER than both a per-dim seeded hash (longer
    # string prep) and a single-fold 8-lane array accumulator (whose
    # per-token nested-lambda let costs more than the saved digests of
    # tiny strings) — 100x-dup probe 3.2x -> 2.2x, input-growth bound
    # like corpus_perplexity_filter
    fields = ["'n', size(t)"]
    for j in range(POOL_DIM):
        w = (
            f"cast(conv(substr(md5('emb:' || x), {1 + 4 * j}, 4), 16, 10)"
            " as bigint)"
        )
        fields.append(
            f"'d{j}', aggregate(t, cast(0 as bigint), "
            f"(a, x) -> a + (({w}) % 1000))"
        )
    let = X.sp_let(
        "t", X.sp_tokens("text"), f"named_struct({', '.join(fields)})"
    )
    pooled = (
        # the non-empty filter runs on the raw text — equivalent to
        # size(t) > 0 for the [a-z0-9]+ tokenizer (a doc tokenizes to
        # nothing iff it has no ascii alphanumeric), and cheap, so the
        # let-struct is evaluated exactly once per row: a filter on s.n
        # would inline the whole expression a second time into Filter
        docs.where(F.lower(F.col("text")).rlike("[a-z0-9]"))
        .select("doc_id", F.expr(let).alias("s"))
        .repartition("doc_id")
        .select(
            "doc_id",
            F.col("s.n").alias("n_tokens"),
            *[
                F.round(
                    F.col(f"s.d{j}").cast("double")
                    / F.col("s.n").cast("double"),
                    6,
                ).alias(f"d{j}")
                for j in range(POOL_DIM)
            ],
        )
    )
    l2 = F.sqrt(
        sum(F.col(f"d{j}") * F.col(f"d{j}") for j in range(POOL_DIM))
    )
    return pooled.select(
        "doc_id",
        "n_tokens",
        "d0",
        "d1",
        F.round(l2, 6).alias("l2_norm"),
    ).orderBy("doc_id")


def corpus_embed_pool_sql() -> str:
    toks = X.dk_tokens("text")
    terms = []
    for j in range(POOL_DIM):
        w = f"('0x' || substr(md5('emb:' || x), {1 + 4 * j}, 4))::uinteger"
        terms.append(
            f"round(list_reduce(list_transform(toks, x -> ({w}) % 1000), "
            f"(a, b) -> a + b)::DOUBLE / len(toks)::DOUBLE, 6) AS d{j}"
        )
    l2 = " + ".join(f"d{j} * d{j}" for j in range(POOL_DIM))
    return f"""
    WITH t AS (
        SELECT doc_id, {toks} AS toks FROM documents
    ), p AS (
        SELECT doc_id, len(toks)::int AS n_tokens, {", ".join(terms)}
        FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, n_tokens, d0, d1, round(sqrt({l2}), 6) AS l2_norm
    FROM p ORDER BY doc_id
    """


def corpus_upsample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the mixture upsampling plan (`corpus_upsample_plan`
    computes the per-source epoch factors; this materializes the
    repeated rows): each document fans out to ``repeat_factor`` epoch
    copies via a JVM-side explode(sequence), and the per-source audit
    certifies the executed mix — row and token counts after repetition,
    epochs used, and the post-mix share drift toward uniform.

    Scale shape: the SOURCES-sized factor table broadcasts onto the
    corpus (no shuffle before the fan-out), the explode is metadata
    arithmetic (no payload duplication until the write), and the audit
    re-aggregates on the same source key.
    """
    # docs feeds the factor plan AND the fan-out — unpinned, the
    # tokenize ran per copy (6 documents scans). Pin the 3-column
    # doc-grain table; tokenization runs ONCE.
    docs = _tokens_df(spark, sf_dir).select(
        "doc_id", "source", F.size("t").alias("n_tok")
    ).transform(pin)
    per_src = docs.groupBy("source").agg(F.sum("n_tok").alias("n_tokens"))
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("n_sources")
    )
    factors = (
        per_src.join(F.broadcast(totals))
        .withColumn("target", F.expr("(tot + n_sources - 1) div n_sources"))
        .select(
            "source",
            F.expr(
                f"least(cast({UPSAMPLE_MAX_REPEAT} as bigint),"
                f" greatest(cast(1 as bigint),"
                f" (target + n_tokens - 1) div n_tokens))"
            ).alias("repeat_factor"),
        )
    )
    expanded = (
        docs.join(F.broadcast(factors), "source")
        .select(
            "source",
            "n_tok",
            F.explode(F.expr("sequence(1, repeat_factor)")).alias("epoch"),
        )
    )
    out = (
        expanded.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows_out"),
            F.sum("n_tok").alias("n_tokens_out"),
            F.max("epoch").alias("epochs"),
        )
        # out feeds the grand total AND the final shares;
        # |sources| grain — pin it so the fan-out aggregate runs once
        .transform(pin)
    )
    grand = out.agg(F.sum("n_tokens_out").alias("tot_out"))
    return (
        out.crossJoin(F.broadcast(grand))
        .select(
            "source",
            "n_rows_out",
            "n_tokens_out",
            F.col("epochs").cast("bigint").alias("epochs"),
            F.expr("n_tokens_out * 1000 div tot_out").alias(
                "share_out_permille"
            ),
        )
        .orderBy("source")
    )


def corpus_upsample_apply_sql() -> str:
    return f"""
    WITH d AS (
        SELECT doc_id, source, len({X.dk_tokens('text')})::bigint AS n_tok
        FROM documents
    ), s AS (
        SELECT source, sum(n_tok)::bigint AS n_tokens FROM d GROUP BY source
    ), t AS (
        SELECT sum(n_tokens)::bigint AS tot, count(*)::bigint AS n_sources
        FROM s
    ), f AS (
        SELECT source,
               least({UPSAMPLE_MAX_REPEAT}, greatest(1,
                   (((tot + n_sources - 1) // n_sources) + n_tokens - 1)
                   // n_tokens))::bigint AS repeat_factor
        FROM s, t
    ), x AS (
        SELECT d.source, d.n_tok,
               unnest(generate_series(1, f.repeat_factor)) AS epoch
        FROM d JOIN f ON d.source = f.source
    ), o AS (
        SELECT source, count(*)::bigint AS n_rows_out,
               sum(n_tok)::bigint AS n_tokens_out,
               max(epoch)::bigint AS epochs
        FROM x GROUP BY source
    )
    SELECT source, n_rows_out, n_tokens_out, epochs,
           (n_tokens_out * 1000 // (SELECT sum(n_tokens_out) FROM o))::bigint
               AS share_out_permille
    FROM o ORDER BY source
    """


KN_DISCOUNT = 0.75
KN_TOP_K = 20


def corpus_kn_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney smoothing over the corpus bigram table —
    the n-gram-LM probability estimate that corpus_bigram_lm's raw
    counts feed: P_KN(w2|w1) = max(c12−D,0)/c1 + (D/c1)·N1+(w1,·)·
    N1+(·,w2)/T, with the famous CONTINUATION counts (how many distinct
    contexts a word follows) replacing raw unigram frequency.

    Bigrams are generated inside the token array (no positional
    self-join); shuffle #1 is the (w1,w2) count; every other aggregate
    (follower fan-out, continuation counts, bigram-type total T) folds
    from that strictly smaller table, with T a 1-row broadcast
    resolved in-plan. Output: the top-K bigrams by count with all KN
    components. Only the final probability is float.
    """
    pairs = (
        _tokens_df(spark, sf_dir)
        .where("size(t) >= 2")
        .select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    # big feeds the head/continuation tables, the type total AND the
    # top-k — unpinned, the tokenize + bigram explode ran 4x.
    # Distinct-bigram grain: pin it; the corpus tokenizes ONCE.
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .transform(pin)
    )
    heads = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_follow")
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n_cont"))
    tt = big.agg(F.count(F.lit(1)).alias("t_types"))
    top = (
        big.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
        .limit(KN_TOP_K)
        .join(heads, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
    )
    d = KN_DISCOUNT
    return top.selectExpr(
        "w1",
        "w2",
        "c12",
        "c1",
        "n_follow",
        "n_cont",
        "t_types",
        f"round(greatest(c12 - {d}, 0.0) / c1"
        f" + ({d} / c1) * n_follow * (n_cont / cast(t_types as double)), 6)"
        " AS p_kn",
    ).orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))


def corpus_kn_smoothing_sql() -> str:
    d = KN_DISCOUNT
    return f"""
    WITH toks AS (
        SELECT {X.dk_tokens('text')} AS t FROM documents
    ), pairs AS (
        SELECT u.p.w1 AS w1, u.p.w2 AS w2
        FROM (
            SELECT list_transform(
                       generate_series(1, len(t) - 1),
                       i -> struct_pack(w1 := t[i], w2 := t[i + 1])
                   ) AS ps
            FROM toks WHERE len(t) >= 2
        ), unnest(ps) AS u(p)
    ), big AS (
        SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2
    ), heads AS (
        SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n_follow
        FROM big GROUP BY 1
    ), cont AS (
        SELECT w2, count(*)::BIGINT AS n_cont FROM big GROUP BY 1
    ), tt AS (
        SELECT count(*)::BIGINT AS t_types FROM big
    ), top AS (
        SELECT * FROM big ORDER BY c12 DESC, w1, w2 LIMIT {KN_TOP_K}
    )
    SELECT w1, w2, c12, c1, n_follow, n_cont, t_types,
           round(greatest(c12 - {d}, 0.0) / c1
                 + ({d} / c1) * n_follow * (n_cont / t_types::DOUBLE), 6)
               AS p_kn
    FROM top JOIN heads USING (w1) JOIN cont USING (w2) CROSS JOIN tt
    ORDER BY c12 DESC, w1, w2
    """


WRS_K = 25


def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement: each
    doc draws key = ln(u)/w (u a deterministic md5 uniform, w = doc
    length as the sampling weight) and the k LARGEST keys are the
    sample — the one-pass distributed analogue of weighted reservoir
    sampling, and the exact-k cousin of sample_temperature's
    independent coin flips. Map-side key computation, one
    sort+limit TakeOrdered; the oracle replays the identical draws, so
    the selected set is deterministic.
    """
    u = (
        "cast(conv(substr(md5(concat('wrs:', cast(doc_id as string))), 1, 8),"
        " 16, 10) as bigint) / 4294967296.0"
    )
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        "source",
        "n_chars",
        f"ln({u}) / n_chars AS es_key",
    )
    return (
        docs.orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WRS_K)
        .select(
            "doc_id", "source", "n_chars", F.round("es_key", 6).alias("es_key")
        )
        .orderBy("doc_id")
    )


def sample_weighted_reservoir_sql() -> str:
    u = (
        "('0x' || substr(md5('wrs:' || doc_id::VARCHAR), 1, 8))"
        "::UBIGINT::BIGINT / 4294967296.0"
    )
    return f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars, ln({u}) / n_chars AS es_key
        FROM documents
    ), top AS (
        SELECT * FROM keyed ORDER BY es_key DESC, doc_id LIMIT {WRS_K}
    )
    SELECT doc_id, source, n_chars, round(es_key, 6) AS es_key
    FROM top ORDER BY doc_id
    """


SPAN_LEN = 3       # fixed corruption-span length (T5 mean span)
SPAN_MOD = 7       # a span starts where hash(doc,pos) % 7 == 0 (~15%·3)


def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masking plan: deterministic span starts
    (md5(doc:pos) % 7 == 0) each cover SPAN_LEN tokens; overlapping
    spans merge; the plan reports per document the masked-token count,
    the merged-span (= sentinel) count, and the corruption rate — the
    numbers a denoising-pretraining dataloader needs to budget sentinel
    vocabulary and target lengths.

    Everything happens INSIDE the token array (transform over
    positions, no explode shuffle at all — map-side only): mask[i] =
    any start in [i−SPAN_LEN+1 .. i]; a merged span begins where a
    masked position has no masked predecessor. The md5 draws replay
    exactly in the oracle.
    """
    h = lambda pos: (
        f"cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
        f"cast({pos} as string))), 1, 8), 16, 10) as bigint)"
    )
    start = lambda pos: f"({h(pos)} % {SPAN_MOD} = 0)"
    masked = (
        f"transform(sequence(1, size(t)), i -> "
        f"exists(sequence(greatest(1, i - {SPAN_LEN - 1}), i), "
        f"j -> {start('j')}))"
    )
    docs = _tokens_df(spark, sf_dir).where("size(t) > 0")
    m = docs.selectExpr("doc_id", "size(t) AS n_tokens", f"{masked} AS mk")
    return m.selectExpr(
        "doc_id",
        "n_tokens",
        "cast(size(filter(mk, x -> x)) as bigint) AS n_masked",
        "cast(size(filter(sequence(1, n_tokens), "
        "i -> element_at(mk, i) AND (i = 1 OR NOT element_at(mk, i - 1)))) "
        "as bigint) AS n_spans",
        "round(size(filter(mk, x -> x)) / cast(n_tokens as double), 6) "
        "AS corruption_rate",
    ).orderBy("doc_id")


def corpus_span_corruption_sql() -> str:
    h = (
        f"('0x' || substr(md5(doc_id::VARCHAR || ':' || j::VARCHAR), 1, 8))"
        f"::UBIGINT::BIGINT"
    )
    start = f"({h} % {SPAN_MOD} = 0)"
    return f"""
    WITH toks AS (
        SELECT doc_id, len({X.dk_tokens('text')}) AS n_tokens
        FROM documents
    ), nz AS (
        SELECT * FROM toks WHERE n_tokens > 0
    ), mk AS (
        SELECT doc_id, n_tokens,
               list_transform(generate_series(1, n_tokens), i ->
                   len(list_filter(generate_series(greatest(1, i - {SPAN_LEN - 1}), i),
                       j -> {start})) > 0) AS mk
        FROM nz
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           len(list_filter(mk, x -> x))::BIGINT AS n_masked,
           len(list_filter(generate_series(1, n_tokens),
               i -> mk[i] AND (i = 1 OR NOT mk[i - 1])))::BIGINT AS n_spans,
           round(len(list_filter(mk, x -> x)) / n_tokens::DOUBLE, 6)
               AS corruption_rate
    FROM mk ORDER BY doc_id
    """


CHUNK_SIZE = 64     # tokens per RAG chunk
CHUNK_STRIDE = 48   # stride < size -> 16-token overlap between chunks


def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking with OVERLAP (size 64, stride 48): every retrieval
    index chunks documents with overlapping windows so answers
    straddling a boundary survive — unlike corpus_udtf_passages'
    disjoint chunks, consecutive chunks here share 16 tokens.
    n_chunks = 1 + ceil(max(0, n−size)/stride), the last chunk is
    clipped, and every boundary is pure metadata arithmetic
    (posexplode over a sequence — payload tokens never move). The
    audit columns (coverage ratio, overlap-token total) are what an
    index build monitors.
    """
    docs = _tokens_df(spark, sf_dir).select(
        "doc_id", F.size("t").alias("n_tokens")
    ).where("n_tokens > 0")
    n_chunks = (
        f"1 + cast(ceil(greatest(0, n_tokens - {CHUNK_SIZE}) "
        f"/ cast({CHUNK_STRIDE} as double)) as bigint)"
    )
    ch = docs.selectExpr("doc_id", "n_tokens", f"{n_chunks} AS n_chunks").select(
        "doc_id",
        "n_tokens",
        "n_chunks",
        F.posexplode(F.expr("sequence(0, n_chunks - 1)")).alias("i", "_c"),
    )
    out = ch.selectExpr(
        "doc_id",
        "n_tokens",
        "cast(i as int) AS chunk_idx",
        f"cast(i * {CHUNK_STRIDE} as bigint) AS start_tok",
        f"least(cast(i * {CHUNK_STRIDE} + {CHUNK_SIZE} as bigint), n_tokens) AS end_tok",
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        "end_tok",
        (F.col("end_tok") - F.col("start_tok")).alias("chunk_len"),
    ).orderBy("doc_id", "chunk_idx")


def corpus_chunk_overlap_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, len({X.dk_tokens('text')}) AS n_tokens FROM documents
    ), nz AS (
        SELECT doc_id, n_tokens,
               1 + ceil(greatest(0, n_tokens - {CHUNK_SIZE})
                        / {CHUNK_STRIDE}.0)::BIGINT AS n_chunks
        FROM toks WHERE n_tokens > 0
    ), ch AS (
        SELECT doc_id, n_tokens, u.i::INT AS chunk_idx
        FROM nz, unnest(generate_series(0, n_chunks - 1)) AS u(i)
    )
    SELECT doc_id, chunk_idx,
           (chunk_idx * {CHUNK_STRIDE})::BIGINT AS start_tok,
           least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}, n_tokens)::BIGINT
               AS end_tok,
           (least(chunk_idx * {CHUNK_STRIDE} + {CHUNK_SIZE}, n_tokens)
            - chunk_idx * {CHUNK_STRIDE})::BIGINT AS chunk_len
    FROM ch ORDER BY doc_id, chunk_idx
    """


# --------------------------------------------------------------------------
# classifier ranking quality (AUC without a global sort)
# --------------------------------------------------------------------------

def stats_auc_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC (and Gini) of the hashed quality classifier as an
    'is-English' ranker — the ranking-quality audit beside
    stats_calibration's probability audit: AUC is the probability a
    random positive outscores a random negative, computed EXACTLY via
    the Mann-Whitney rank-sum identity, never by sorting the corpus.

    Scale shape: scores are exact integers, so the corpus collapses to
    DISTINCT-SCORE (pos_count, neg_count) rows in one shuffle
    (duplicate explosion invisible); tie-averaged rank sums take their
    below-counts from ``below_sums`` over the distinct-score table; the
    AUC ratio is the only float step. NULL rule: NULL lang is a
    negative in both engines (coalesce), empty-token docs carry no
    score (both engines drop them).
    """
    scored = classifier_scores(_tokens_df(spark, sf_dir), extra_cols=("lang",))
    sc = scored.select(
        "score_sum",
        (F.coalesce(F.col("lang"), F.lit("")) == "en").alias("is_pos"),
    )
    vc = (
        sc.groupBy("score_sum")
        .agg(
            F.sum(F.col("is_pos").cast("bigint")).alias("p"),
            F.sum((~F.col("is_pos")).cast("bigint")).alias("q"),
        )
        # vc feeds the min/max range and the block pass (fanning out
        # again to the block table), so unpinned the documents scan +
        # tokenize + classifier scoring (the operator's whole per-row
        # cost) ran 4x in one plan. Pin the distinct-score table; the
        # heavy scoring runs ONCE.
        .transform(pin)
    )
    # below-count from the two-level block prefix sum: the
    # distinct-score table is NOT bounded, so no global window runs
    # over it
    r = below_sums(vc, "score_sum", below=F.col("p") + F.col("q"))
    # tie-averaged rank sum over positives: Σ p * (below + (p+q+1)/2),
    # doubled to stay integer
    agg = r.agg(
        F.sum("p").alias("n_pos"),
        F.sum("q").alias("n_neg"),
        F.sum(
            F.col("p") * (2 * F.col("below") + F.col("p") + F.col("q") + 1)
        ).alias("rr2"),
    )
    # auc = (rr2 − n_pos(n_pos+1)) / (2·n_pos·n_neg) and
    # gini = 2·auc − 1 = (rr2 − n_pos(n_pos+1) − n_pos·n_neg)/(n_pos·n_neg)
    # are PURE integer rationals — integer-exact HALF_UP (repo
    # round-boundary rule).
    auc_p = "(rr2 - cast(n_pos as decimal(38,0)) * (n_pos + 1))"
    auc_q = "(2 * cast(n_pos as decimal(38,0)) * n_neg)"
    gini_p = (
        "(rr2 - cast(n_pos as decimal(38,0)) * (n_pos + 1)"
        " - cast(n_pos as decimal(38,0)) * n_neg)"
    )
    gini_q = "(cast(n_pos as decimal(38,0)) * n_neg)"
    return agg.selectExpr(
        "n_pos",
        "n_neg",
        f"{sp_rat6(auc_p, auc_q)} AS auc",
        f"{sp_rat6(gini_p, gini_q)} AS gini",
    )


def stats_auc_classifier_sql() -> str:
    auc_p = "(rr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1))"
    auc_q = "(2 * CAST(n_pos AS HUGEINT) * n_neg)"
    gini_p = (
        "(rr2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)"
        " - CAST(n_pos AS HUGEINT) * n_neg)"
    )
    gini_q = "(CAST(n_pos AS HUGEINT) * n_neg)"
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {X.dk_tokens('text')} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(toks) AS x FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id,
               (coalesce(lang, '') = 'en') AS is_pos,
               sum({_clf_weight_dk('x')})::BIGINT AS score_sum
        FROM tok GROUP BY doc_id, lang
    ), vc AS (
        SELECT score_sum, sum(is_pos::INT)::BIGINT AS p,
               sum((NOT is_pos)::INT)::BIGINT AS q
        FROM s GROUP BY score_sum
    ), r AS (
        SELECT p, q,
               coalesce(sum(p + q) OVER (ORDER BY score_sum
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM vc
    ), agg AS (
        SELECT sum(p)::BIGINT AS n_pos, sum(q)::BIGINT AS n_neg,
               sum(p * (2 * below + p + q + 1))::BIGINT AS rr2
        FROM r
    )
    SELECT n_pos, n_neg,
           {dk_rat6(auc_p, auc_q)} AS auc,
           {dk_rat6(gini_p, gini_q)} AS gini
    FROM agg
    """


def corpus_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language mix per source: dominant language and its share, the
    language entropy, and the distinct-language count — the routing
    table a multilingual pipeline builds before per-language tokenizer
    and filter stages (text_lang_confusion audits the LABELS; this
    audits the MIX).

    ONE (source, lang) count shuffle, dominant pick via a rank window
    on that bounded grid (count desc, lang ASC NULLS LAST — the pinned
    cross-engine tie-break), entropy folds exact integer counts. NULL
    rule: a NULL lang is its own bucket (reported as the literal
    '<null>' so the hash compare sees a value, both engines); a NULL
    source is its own group.
    """
    d = (
        scatter(spark, load_table(spark, sf_dir, "documents"))
        .select("source", F.coalesce(F.col("lang"), F.lit("<null>")).alias("lang"))
    )
    cnt = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc_nulls_last("lang"))
    ranked = cnt.withColumn("rk", F.row_number().over(w))
    agg = cnt.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.expr("c * ln(cast(c as double))")).alias("clnc"),
    )
    dom = ranked.where(F.col("rk") == 1).select(
        F.col("source").alias("_src"),
        F.col("lang").alias("dominant_lang"),
        F.col("c").alias("dominant_n"),
    )
    return (
        agg.join(F.broadcast(dom), F.col("source").eqNullSafe(F.col("_src")))
        .selectExpr(
            "source",
            "n_docs",
            "n_langs",
            "dominant_lang",
            f"{sp_rat6('dominant_n', 'n_docs')} AS purity",
            "round(ln(cast(n_docs as double)) - clnc / n_docs, 6) AS lang_entropy",
        )
        .orderBy("source")
    )


def corpus_lang_purity_sql() -> str:
    return f"""
    WITH d AS (
        SELECT source, coalesce(lang, '<null>') AS lang FROM documents
    ), cnt AS (
        SELECT source, lang, count(*)::BIGINT AS c
        FROM d GROUP BY 1, 2
    ), ranked AS (
        SELECT source, lang, c,
               row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, lang NULLS LAST) AS rk
        FROM cnt
    ), agg AS (
        SELECT source, sum(c)::BIGINT AS n_docs,
               count(*)::BIGINT AS n_langs,
               sum(c * ln(c::DOUBLE)) AS clnc
        FROM cnt GROUP BY 1
    )
    SELECT agg.source, n_docs, n_langs,
           ranked.lang AS dominant_lang,
           {dk_rat6('ranked.c', 'n_docs')} AS purity,
           round(ln(n_docs::DOUBLE) - clnc / n_docs, 6) AS lang_entropy
    FROM agg JOIN ranked
      ON agg.source IS NOT DISTINCT FROM ranked.source AND rk = 1
    ORDER BY agg.source
    """


FLEISS_CATS = 3
FLEISS_RATERS = 3


def stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa inter-annotator agreement over the document
    corpus, with three DETERMINISTIC pseudo-annotators (seeded 32-bit
    hash votes into 3 categories — the portable-hash discipline, so
    the oracle replays every vote exactly). The agreement harness a
    labeling pipeline runs the moment a second annotator exists;
    stats_cohens_kappa handles the 2-rater case, this generalizes to
    N raters via the category-count formulation.

    Per-doc category counts need NO per-rater rows: the three votes
    are three hash expressions folded into counts map-side; P̄ and Pₑ
    are ratios of exact integer sums (Σn_ij², category totals). NULL
    rule: NULL text has no votes (dropped both engines).
    """
    docs = (
        scatter(spark, load_table(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    votes = [
        f"({X.sp_hash32('text', f'rater{r}')}) % {FLEISS_CATS}"
        for r in range(FLEISS_RATERS)
    ]
    cats = docs.select(
        "doc_id",
        *[F.expr(v).cast("int").alias(f"v{r}") for r, v in enumerate(votes)],
    )
    counts = cats.select(
        "doc_id",
        *[
            sum(
                (F.col(f"v{r}") == j).cast("bigint") for r in range(FLEISS_RATERS)
            ).alias(f"n{j}")
            for j in range(FLEISS_CATS)
        ],
    )
    sum_sq = " + ".join(f"n{j} * n{j}" for j in range(FLEISS_CATS))
    per_doc = counts.selectExpr(
        "doc_id",
        f"({sum_sq}) AS ss",
        *[f"n{j}" for j in range(FLEISS_CATS)],
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ss").alias("sss"),
        *[F.sum(f"n{j}").alias(f"t{j}") for j in range(FLEISS_CATS)],
    )
    m = FLEISS_RATERS
    # p̄ = (Σss − Nm)/(Nm(m−1)), pe = ΣSj²/(Nm)², and
    # κ = (9N²·A − 6N·C)/(6N·(9N² − C)) with A = Σss − Nm, C = ΣSj²
    # (m = 3) are PURE integer rationals — integer-exact HALF_UP
    # (round-boundary rule). Decimal headroom holds to ~N = 5e9 docs.
    nd = "cast(n_docs as decimal(38,0))"
    a = f"(cast(sss as decimal(38,0)) - {m} * n_docs)"
    c = "(" + " + ".join(
        f"cast(t{j} as decimal(38,0)) * t{j}" for j in range(FLEISS_CATS)
    ) + ")"
    return agg.selectExpr(
        "n_docs",
        f"{sp_rat6(a, f'{m} * ({m} - 1) * {nd}')} AS p_bar",
        f"{sp_rat6(c, f'{m * m} * {nd} * n_docs')} AS p_expected",
        f"""{sp_rat6(
            f'{m * m} * {nd} * n_docs * {a} - {m} * ({m} - 1) * {nd} * {c}',
            f'{m} * ({m} - 1) * {nd} * ({m * m} * {nd} * n_docs - {c})',
        )} AS fleiss_kappa""",
    )


def stats_fleiss_kappa_sql() -> str:
    votes = [
        f"({X.dk_hash32('text', f'rater{r}')}) % {FLEISS_CATS}"
        for r in range(FLEISS_RATERS)
    ]
    n_cols = ", ".join(
        "("
        + " + ".join(f"(v{r} = {j})::INT" for r in range(FLEISS_RATERS))
        + f")::BIGINT AS n{j}"
        for j in range(FLEISS_CATS)
    )
    sum_sq = " + ".join(f"n{j} * n{j}" for j in range(FLEISS_CATS))
    m = FLEISS_RATERS
    nd = "n_docs::HUGEINT"
    a = f"(sss::HUGEINT - {m} * n_docs)"
    c = "(" + " + ".join(
        f"t{j}::HUGEINT * t{j}" for j in range(FLEISS_CATS)
    ) + ")"
    v_cols = ", ".join(
        f"({v})::INT AS v{r}" for r, v in enumerate(votes)
    )
    return f"""
    WITH cats AS (
        SELECT doc_id, {v_cols}
        FROM documents WHERE text IS NOT NULL
    ), counts AS (
        SELECT doc_id, {n_cols} FROM cats
    ), per_doc AS (
        SELECT doc_id, ({sum_sq}) AS ss,
               {', '.join(f'n{j}' for j in range(FLEISS_CATS))}
        FROM counts
    )
    SELECT n_docs,
           {dk_rat6(a, f'{m} * ({m} - 1) * {nd}')} AS p_bar,
           {dk_rat6(c, f'{m * m} * {nd} * n_docs')} AS p_expected,
           {dk_rat6(
               f'{m * m} * {nd} * n_docs * {a} - {m} * ({m} - 1) * {nd} * {c}',
               f'{m} * ({m} - 1) * {nd} * ({m * m} * {nd} * n_docs - {c})',
           )} AS fleiss_kappa
    FROM (
        SELECT count(*)::BIGINT AS n_docs, sum(ss)::BIGINT AS sss,
               {', '.join(f'sum(n{j})::BIGINT AS t{j}' for j in range(FLEISS_CATS))}
        FROM per_doc
    )
    """


def stats_youden_j(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal operating point of the hashed quality classifier as an
    'is-English' screen: the score threshold maximizing Youden's J
    (TPR − FPR), with the rates at that point — the threshold-PICKING
    step after stats_auc_classifier says the ranking is good at all.

    Same scale shape as the AUC op: DISTINCT-score collapse (duplicate
    explosion invisible), ``below_sums`` block prefix sums give the
    ≥-threshold counts WITHOUT a global sort, J becomes an exact
    integer in parts-per-million (q_above·P and p_above·Q are exact
    BIGINTs over a common denominator — no float compare), and the
    argmax is a min/max-struct fold with the SMALLEST score as
    tie-break. The winning row is joined back at distinct-score
    cardinality (the witness idiom). NULL rule: NULL lang is a
    negative (coalesce, both engines); token-less docs carry no score.
    """
    scored = classifier_scores(_tokens_df(spark, sf_dir), extra_cols=("lang",))
    sc = scored.select(
        "score_sum",
        (F.coalesce(F.col("lang"), F.lit("")) == "en").alias("is_pos"),
    )
    # vc feeds the min/max range, the block pass AND the totals
    # broadcast, so unpinned the documents scan + tokenize + classifier
    # scoring ran per copy (10 fact scans in the plan). Pin the
    # distinct-score table; the heavy scoring runs ONCE.
    vc = (
        sc.groupBy("score_sum")
        .agg(
            F.sum(F.col("is_pos").cast("bigint")).alias("p"),
            F.sum((~F.col("is_pos")).cast("bigint")).alias("q"),
        )
        .transform(pin)
    )
    tot = F.broadcast(vc.agg(F.sum("p").alias("tp"), F.sum("q").alias("tq")))
    r = (
        below_sums(vc, "score_sum", p_below=F.col("p"), q_below=F.col("q"))
        .crossJoin(tot)
        .selectExpr(
            "score_sum",
            "tp",
            "tq",
            # >= threshold counts: everything not strictly below
            "(tp - p_below) AS p_above",
            "(tq - q_below) AS q_above",
        )
        # J over the common denominator tp*tq stays an exact BIGINT
        .withColumn(
            "j_num", F.expr("p_above * tq - q_above * tp")
        )
        # r feeds the argmax broadcast AND the witness re-filter;
        # distinct-score grain — pin it so the block pipeline runs once
        .transform(pin)
    )
    best = F.broadcast(
        r.agg(F.max(F.struct(F.col("j_num"), (-F.col("score_sum")).alias("ns"))).alias("b"))
        .select(F.col("b.j_num").alias("bj"), (-F.col("b.ns")).alias("bscore"))
    )
    return (
        r.crossJoin(best)
        .where((F.col("j_num") == F.col("bj")) & (F.col("score_sum") == F.col("bscore")))
        .selectExpr(
            "score_sum AS threshold",
            "tp AS n_pos",
            "tq AS n_neg",
            f"{sp_rat6('p_above', 'tp')} AS tpr",
            f"{sp_rat6('q_above', 'tq')} AS fpr",
            f"{sp_rat6('j_num', 'cast(tp as decimal(38,0)) * tq')} AS youden_j",
        )
    )


def stats_youden_j_sql() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {X.dk_tokens('text')} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(toks) AS x FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id,
               (coalesce(lang, '') = 'en') AS is_pos,
               sum({_clf_weight_dk('x')})::BIGINT AS score_sum
        FROM tok GROUP BY doc_id, lang
    ), vc AS (
        SELECT score_sum, sum(is_pos::INT)::BIGINT AS p,
               sum((NOT is_pos)::INT)::BIGINT AS q
        FROM s GROUP BY score_sum
    ), r AS (
        SELECT score_sum,
               sum(p) OVER () AS tp, sum(q) OVER () AS tq,
               (sum(p) OVER () -
                coalesce(sum(p) OVER (ORDER BY score_sum
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                   AS p_above,
               (sum(q) OVER () -
                coalesce(sum(q) OVER (ORDER BY score_sum
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                   AS q_above
        FROM vc
    ), j AS (
        SELECT score_sum, tp, tq, p_above, q_above,
               (p_above * tq - q_above * tp)::BIGINT AS j_num
        FROM r
    ), best AS (
        SELECT (max({{'j': j_num, 'ns': -score_sum}})).j AS bj,
               -(max({{'j': j_num, 'ns': -score_sum}})).ns AS bscore
        FROM j
    )
    SELECT score_sum AS threshold, tp::BIGINT AS n_pos, tq::BIGINT AS n_neg,
           {dk_rat6('p_above', 'tp')} AS tpr,
           {dk_rat6('q_above', 'tq')} AS fpr,
           {dk_rat6('j_num', 'tp::HUGEINT * tq')} AS youden_j
    FROM j CROSS JOIN best
    WHERE j_num = bj AND score_sum = bscore
    """


def pack_boundary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing fragmentation audit over pack_sequences' layout: how
    many documents SPAN a chunk boundary (their attention window gets
    cut), the span distribution, and the padding waste in the final
    partial chunk — the quality metrics that decide whether the chunk
    size fits the corpus' length profile.

    Reuses the pack layout's numbers WITHOUT re-deriving the
    three-level prefix sum as a separate physical pass: the global
    offsets come from the same bounded-window construction, then ONE
    aggregation computes the audit. All exact integers. NULL/empty
    docs pack nothing (both engines).
    """
    packed = pack_sequences(spark, sf_dir)
    C = PACK_CHUNK
    agg = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            (F.col("last_chunk") > F.col("first_chunk")).cast("bigint")
        ).alias("n_spanning"),
        F.sum(F.col("last_chunk") - F.col("first_chunk")).alias("n_cuts"),
        F.max("last_chunk").alias("max_chunk"),
    )
    return agg.selectExpr(
        "n_docs",
        "total_tokens",
        f"(max_chunk + 1) AS n_chunks",
        "n_spanning",
        f"{sp_rat6('n_spanning', 'n_docs')} AS share_spanning",
        "n_cuts",
        f"((max_chunk + 1) * {C} - total_tokens) AS pad_tokens",
        f"{sp_rat6('total_tokens', f'(max_chunk + 1) * {C}')} AS fill_ratio",
    )


def pack_boundary_stats_sql() -> str:
    C = PACK_CHUNK
    return f"""
    WITH toks AS (
        SELECT doc_id, len({X.dk_tokens('text')}) AS n_tokens FROM documents
    ), nz AS (
        SELECT * FROM toks WHERE n_tokens > 0
    ), cum AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS global_offset
        FROM nz
    ), spans AS (
        SELECT n_tokens,
               global_offset // {C} AS first_chunk,
               (global_offset + n_tokens - 1) // {C} AS last_chunk
        FROM cum
    )
    SELECT count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           (max(last_chunk) + 1)::BIGINT AS n_chunks,
           sum((last_chunk > first_chunk)::INT)::BIGINT AS n_spanning,
           {dk_rat6("sum((last_chunk > first_chunk)::INT)::BIGINT", "count(*)")}
               AS share_spanning,
           sum(last_chunk - first_chunk)::BIGINT AS n_cuts,
           ((max(last_chunk) + 1) * {C} - sum(n_tokens))::BIGINT AS pad_tokens,
           {dk_rat6("sum(n_tokens)::BIGINT", f"(max(last_chunk) + 1) * {C}")}
               AS fill_ratio
    FROM spans
    """


BRIER_CLAMP = 20  # score clamps into [-20, 20] -> p on the 1/40 lattice


def stats_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the hashed linear classifier as an is-English
    probability forecast — mean squared error of p against the 0/1
    label, with the climatological reference p̄(1−p̄) and the skill
    score 1 − Brier/ref — the CALIBRATION-sensitive quality number
    beside stats_auc_classifier's pure ranking AUC (a classifier can
    rank perfectly and still forecast badly).

    Probability = (clamp(score, ±20) + 20)/40 — a 1/40-lattice rational
    — so Σ(40p − 40y)² is an exact BIGINT and Brier, base rate, ref and
    skill are PURE integer rationals (integer-exact HALF_UP, repo
    round-boundary rule; skill cross-multiplies to stay exact). NULL
    lang is a negative (coalesce); token-less docs carry no score (both
    engines).
    """
    scored = classifier_scores(_tokens_df(spark, sf_dir), extra_cols=("lang",))
    c = BRIER_CLAMP
    s = scored.selectExpr(
        f"least(greatest(score_sum, {-c}), {c}) + {c} AS p40",
        "(coalesce(lang, '') = 'en') AS is_pos",
    )
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_pos").cast("bigint")).alias("k"),
        F.sum(
            F.expr(
                f"cast(p40 - (CASE WHEN is_pos THEN {2 * c} ELSE 0 END)"
                f" as decimal(38,0))"
                f" * (p40 - (CASE WHEN is_pos THEN {2 * c} ELSE 0 END))"
            )
        ).alias("se40"),
    )
    m2 = (2 * c) * (2 * c)
    brier_p, brier_q = "se40", f"{m2} * cast(n as decimal(38,0))"
    # ref = k(n−k)/n²; skill = 1 − brier/ref = (ref − brier)/ref
    # cross-multiplied: (m2·k(n−k)·n − se40·n²)/(m2·k(n−k)·n)
    kq = "cast(k as decimal(38,0)) * (n - k)"
    skill_p = f"({m2} * {kq} * n - cast(se40 as decimal(38,0)) * n * n)"
    skill_q = f"({m2} * {kq} * n)"
    return agg.selectExpr(
        "n AS n_docs",
        "k AS n_positive",
        f"{sp_rat6('k', 'n')} AS base_rate",
        f"{sp_rat6(brier_p, brier_q)} AS brier",
        f"{sp_rat6(kq, 'cast(n as decimal(38,0)) * n')} AS brier_ref",
        f"{sp_rat6(skill_p, skill_q)} AS brier_skill",
    )


def stats_brier_score_sql() -> str:
    c = BRIER_CLAMP
    m2 = (2 * c) * (2 * c)
    kq = "k::HUGEINT * (n - k)"
    skill_p = f"({m2} * {kq} * n - se40::HUGEINT * n * n)"
    skill_q = f"({m2} * {kq} * n)"
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {X.dk_tokens('text')} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(toks) AS x FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id,
               least(greatest(sum({_clf_weight_dk('x')})::BIGINT, {-c}), {c})
                   + {c} AS p40,
               (coalesce(lang, '') = 'en') AS is_pos
        FROM tok GROUP BY doc_id, lang
    ), agg AS (
        SELECT count(*)::BIGINT AS n,
               sum(is_pos::INT)::BIGINT AS k,
               sum((p40 - CASE WHEN is_pos THEN {2 * c} ELSE 0 END)::HUGEINT
                   * (p40 - CASE WHEN is_pos THEN {2 * c} ELSE 0 END)) AS se40
        FROM s
    )
    SELECT n AS n_docs, k AS n_positive,
           {dk_rat6('k', 'n')} AS base_rate,
           {dk_rat6('se40', f'{m2} * n::HUGEINT')} AS brier,
           {dk_rat6(kq, 'n::HUGEINT * n')} AS brier_ref,
           {dk_rat6(skill_p, skill_q)} AS brier_skill
    FROM agg
    """


GAINS_BUCKETS = 10


def stats_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-decile gains/lift table for the hashed is-English
    classifier — positives captured per decile, cumulative capture and
    cumulative lift vs random — THE model-evaluation table a ranking
    deployment reads (top-decile lift 3 = the top 10% by score hold 3x
    their share of English); the threshold-free view beside
    stats_auc_classifier's single number.

    SCALE SHAPE (no global per-row sort): the corpus collapses to
    DISTINCT-SCORE counts, the cumulative-below term comes from
    ``below_sums`` (the two-level block prefix), and each score group
    maps to decile ceil(10·(N−below)/N) — cutoff semantics (ties stay
    together; a per-row ntile would single-task the corpus, measured
    3.5x at the 100x probe before this rewrite). Every output is a
    PURE integer rational — integer-exact HALF_UP (round-boundary
    rule). NULL lang is a negative; token-less docs carry no score
    (both engines).
    """
    scored = classifier_scores(_tokens_df(spark, sf_dir), extra_cols=("lang",))
    s = scored.select(
        "score_sum",
        (F.coalesce(F.col("lang"), F.lit("")) == "en").cast("bigint").alias(
            "y"
        ),
    )
    # the distinct-score table is tiny but its LINEAGE (token fold over
    # the corpus) is expensive and has four consumers — materialize once
    vc = (
        s.groupBy("score_sum")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("k"))
        .transform(pin)
    )
    tot = F.broadcast(
        vc.agg(F.sum("n").alias("tot_n"), F.sum("k").alias("tot_k"))
    )
    j = (
        below_sums(vc, "score_sum", below=F.col("n"))
        .crossJoin(tot)
        .withColumn(
            "decile",
            F.expr(
                f"(({GAINS_BUCKETS} * (tot_n - below) + tot_n - 1) div tot_n)"
            ),
        )
    )
    g = j.groupBy("decile").agg(
        F.sum("n").alias("n"),
        F.sum("k").alias("k"),
        F.max("tot_n").alias("tot_n"),
        F.max("tot_k").alias("tot_k"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    out = g.withColumn("cum_n", F.sum("n").over(wc)).withColumn(
        "cum_k", F.sum("k").over(wc)
    )
    return out.selectExpr(
        "decile",
        "n AS n_docs",
        "k AS n_positive",
        f"{sp_rat6('k', 'n')} AS positive_rate",
        f"{sp_rat6('cum_k', 'tot_k')} AS cum_capture",
        f"""{sp_rat6(
            'cast(cum_k as decimal(38,0)) * tot_n',
            'cast(tot_k as decimal(38,0)) * cum_n',
        )} AS cum_lift""",
    ).orderBy("decile")


def stats_gains_table_sql() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {X.dk_tokens('text')} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(toks) AS x FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id, sum({_clf_weight_dk('x')})::BIGINT AS score_sum,
               (coalesce(lang, '') = 'en')::INT AS y
        FROM tok GROUP BY doc_id, lang
    ), vc AS (
        SELECT score_sum, count(*)::BIGINT AS n, sum(y)::BIGINT AS k
        FROM s GROUP BY 1
    ), cum AS (
        SELECT n, k,
               coalesce(sum(n) OVER (ORDER BY score_sum
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below,
               sum(n) OVER ()::BIGINT AS tot_n,
               sum(k) OVER ()::BIGINT AS tot_k
        FROM vc
    ), d AS (
        SELECT (({GAINS_BUCKETS} * (tot_n - below) + tot_n - 1) // tot_n)::BIGINT
                   AS decile,
               n, k, tot_n, tot_k
        FROM cum
    ), g AS (
        SELECT decile, sum(n)::BIGINT AS n, sum(k)::BIGINT AS k,
               max(tot_n)::BIGINT AS tot_n, max(tot_k)::BIGINT AS tot_k
        FROM d GROUP BY 1
    ), c AS (
        SELECT decile, n, k, tot_n, tot_k,
               sum(n) OVER (ORDER BY decile
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_n,
               sum(k) OVER (ORDER BY decile
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_k
        FROM g
    )
    SELECT decile, n AS n_docs, k AS n_positive,
           {dk_rat6('k', 'n')} AS positive_rate,
           {dk_rat6('cum_k', 'tot_k')} AS cum_capture,
           {dk_rat6("cum_k::HUGEINT * tot_n", "tot_k::HUGEINT * cum_n")}
               AS cum_lift
    FROM c ORDER BY decile
    """


def corpus_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF-style preference-pair construction: per source, the
    highest- vs lowest-scoring document under the hashed quality
    classifier (chosen/rejected with the score margin) — the
    pair-mining step that turns a scalar quality signal into
    preference-training data; deterministic ties (doc_id) so the SAME
    pairs regenerate on every run and engine.

    ONE score pass (the classifier_scores library path), a SOURCES-
    bounded min/max-struct argmax collapse — no per-source sort, no
    window over the corpus; the margin is an exact integer. Sources
    with fewer than 2 scored docs cannot form a pair (dropped, both
    engines). NULL text carries no score.
    """
    scored = classifier_scores(
        _tokens_df(spark, sf_dir), extra_cols=("source",)
    ).select(
        F.coalesce(F.col("source"), F.lit("<null>")).alias("source"),
        "doc_id",
        "score_sum",
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.struct("score_sum", (-F.col("doc_id")).alias("nd"))).alias(
            "best"
        ),
        F.min(F.struct("score_sum", F.col("doc_id").alias("d"))).alias(
            "worst"
        ),
    )
    return (
        agg.where(F.col("n_docs") >= 2)
        .selectExpr(
            "source",
            "n_docs",
            "(-best.nd) AS chosen_doc_id",
            "best.score_sum AS chosen_score",
            "worst.d AS rejected_doc_id",
            "worst.score_sum AS rejected_score",
            "best.score_sum - worst.score_sum AS margin",
        )
        .orderBy("source")
    )


def corpus_preference_pairs_sql() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, coalesce(source, '<null>') AS source,
               {X.dk_tokens('text')} AS toks
        FROM documents
    ), tok AS (
        SELECT doc_id, source, unnest(toks) AS x FROM t WHERE len(toks) > 0
    ), s AS (
        SELECT doc_id, source,
               sum({_clf_weight_dk('x')})::BIGINT AS score_sum
        FROM tok GROUP BY doc_id, source
    ), agg AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               max({{'s': score_sum, 'nd': -doc_id}}) AS best,
               min({{'s': score_sum, 'd': doc_id}}) AS worst
        FROM s GROUP BY source
    )
    SELECT source, n_docs,
           (-(best.nd))::BIGINT AS chosen_doc_id,
           best.s AS chosen_score,
           worst.d::BIGINT AS rejected_doc_id,
           worst.s AS rejected_score,
           (best.s - worst.s)::BIGINT AS margin
    FROM agg WHERE n_docs >= 2
    ORDER BY source
    """


CURRICULUM_PHASES = 4


def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-phase assignment census: documents ordered by a
    difficulty proxy (whitespace token count) and cut into
    CURRICULUM_PHASES quartile phases — the "easy-first" schedule a
    curriculum-training run feeds the dataloader, reported as phase
    sizes, token budgets and difficulty boundaries (phase 1 = shortest
    quartile). The assignment must be deterministic and re-derivable at
    any scale, so the cuts are EXACT quartiles from the BOUNDED
    distinct-length histogram (cumulative-count rank lookup + the ×4
    lattice interpolation — never percentile() over raw corpus rows,
    never a global ntile) and ties go to the earlier phase in both engines.

    One map-side difficulty pass + 1-row cut broadcast + a
    PHASES-bounded rollup; token shares integer-exact HALF_UP.
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        F.expr("size(regexp_extract_all(text, '\\\\S+', 0))")
        .cast("bigint")
        .alias("n_tokens")
    ).where(
        # NULL text has no difficulty — excluded from the curriculum in
        # BOTH engines (a NULL group would shift histogram ranks vs the
        # NULL-skipping quantile identity)
        F.col("n_tokens").isNotNull()
    # docs feeds the histogram AND the phase rollup — unpinned, the
    # documents scan + difficulty tokenize ran per copy (6 scans). One
    # bigint per doc: pin it; tokenize runs ONCE.
    ).transform(pin)
    # exact quartile cuts WITHOUT percentile() over the raw corpus (its
    # aggregation buffer grows with row count — a 100 TB hazard): the
    # distinct-length histogram is bounded by max document length, and
    # quantile_cont's linear interpolation at quartiles lives on the ×4
    # integer lattice — cut4 = 4·v_lo + rem·(v_hi − v_lo) with
    # pos4 = (n−1)·q, idx = pos4 div 4, rem = pos4 mod 4, v_rank from
    # cumulative counts on the bounded table. Identical to
    # round(quantile_cont·4) by construction.
    vc = docs.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # vc feeds the row total AND the rank lookup; distinct-length
    # grain — pin it
    vc = vc.withColumn(
        "below", F.coalesce(F.sum("c").over(w_cum), F.lit(0))
    ).transform(pin)
    nrow = vc.agg(F.sum("c").alias("n"))
    j = vc.crossJoin(F.broadcast(nrow))
    rank_aggs = []
    for q in range(1, CURRICULUM_PHASES):
        rank_aggs += [
            F.expr(
                f"min(CASE WHEN (n - 1) * {q} div 4 >= below"
                f" AND (n - 1) * {q} div 4 < below + c"
                f" THEN n_tokens END)"
            ).alias(f"vlo{q}"),
            F.expr(
                f"min(CASE WHEN (n - 1) * {q} div 4 + 1 >= below"
                f" AND (n - 1) * {q} div 4 + 1 < below + c"
                f" THEN n_tokens END)"
            ).alias(f"vhi{q}"),
        ]
    cuts = F.broadcast(
        j.agg(F.max("n").alias("n"), *rank_aggs).selectExpr(
            *[
                f"(4 * vlo{q} + ((n - 1) * {q} % 4)"
                f" * (coalesce(vhi{q}, vlo{q}) - vlo{q})) AS c{q}4"
                for q in range(1, CURRICULUM_PHASES)
            ]
        )
    )
    phase = F.lit(1)
    for q in range(1, CURRICULUM_PHASES):
        # quartiles interpolate on the 1/4 lattice: 4*cut is an exact
        # integer, so the phase compare is pure integer arithmetic
        phase = F.when(4 * F.col("n_tokens") > F.col(f"c{q}4"), q + 1).otherwise(
            phase
        )
    g = (
        docs.crossJoin(cuts)
        .withColumn("phase", phase.cast("int"))
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        # g feeds the token total AND the final shares;
        # PHASES-bounded — pin it
        .transform(pin)
    )
    tot = F.broadcast(g.agg(F.sum("n_tokens").alias("t_tok")))
    return (
        g.crossJoin(tot)
        .selectExpr(
            "phase",
            "n_docs",
            "n_tokens",
            "min_tokens",
            "max_tokens",
            f"{sp_rat6('n_tokens', 't_tok')} AS token_share",
        )
        .orderBy("phase")
    )


def corpus_curriculum_order_sql() -> str:
    qs = ", ".join(
        f"round(quantile_cont(n_tokens, {q / CURRICULUM_PHASES}) * 4)::BIGINT"
        f" AS c{q}4"
        for q in range(1, CURRICULUM_PHASES)
    )
    case = "CASE "
    for q in range(CURRICULUM_PHASES - 1, 0, -1):
        case += f"WHEN 4 * n_tokens > c{q}4 THEN {q + 1} "
    case += "ELSE 1 END"
    return f"""
    WITH d AS (
        SELECT len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens
        FROM documents
        WHERE text IS NOT NULL
    ), cuts AS (
        SELECT {qs} FROM d
    ), g AS (
        SELECT {case} AS phase,
               count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS n_tokens,
               min(n_tokens)::BIGINT AS min_tokens,
               max(n_tokens)::BIGINT AS max_tokens
        FROM d CROSS JOIN cuts
        GROUP BY 1
    ), tot AS (
        SELECT sum(n_tokens)::BIGINT AS t_tok FROM g
    )
    SELECT phase, n_docs, n_tokens, min_tokens, max_tokens,
           {dk_rat6('n_tokens', 't_tok')} AS token_share
    FROM g CROSS JOIN tot
    ORDER BY phase
    """


KFOLD_K = 5


def corpus_kfold_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation split census: every document assigned to
    one of KFOLD_K folds by the content-stable portable hash
    (hash32('fold:' || doc_id) % K — the split_train_holdout
    discipline: stable under repartitioning, row order, corpus growth),
    with the balance audit a CV run signs off on — per-fold doc/token
    counts, doc share, and the English-share drift that flags a
    lopsided fold before it burns a training run.

    Pure map-side assignment, ONE K-row bounded aggregation; shares
    integer-exact HALF_UP. NULL lang counts as non-en; NULL text
    contributes zero tokens (coalesce, both engines).
    """
    h = X.sp_hash32("cast(doc_id as string)", "fold")
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        F.expr(f"({h}) % {KFOLD_K}").alias("fold"),
        F.expr(
            "coalesce(size(regexp_extract_all(text, '\\\\S+', 0)), 0)"
        ).cast("bigint").alias("n_tokens"),
        (F.coalesce(F.col("lang"), F.lit("")) == "en").cast("bigint").alias("is_en"),
    )
    g = docs.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("is_en").alias("n_en"),
    )
    tot = F.broadcast(g.agg(F.sum("n_docs").alias("t_docs")))
    return (
        g.crossJoin(tot)
        .selectExpr(
            "fold",
            "n_docs",
            "n_tokens",
            "n_en",
            f"{sp_rat6('n_docs', 't_docs')} AS doc_share",
            f"{sp_rat6('n_en', 'n_docs')} AS en_share",
        )
        .orderBy("fold")
    )


def corpus_kfold_splits_sql() -> str:
    h = X.dk_hash32("doc_id::varchar", "fold")
    return f"""
    WITH d AS (
        SELECT ({h}) % {KFOLD_K} AS fold,
               coalesce(len(regexp_extract_all(text, '\\S+')), 0)::BIGINT
                   AS n_tokens,
               (coalesce(lang, '') = 'en')::INT AS is_en
        FROM documents
    ), g AS (
        SELECT fold, count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS n_tokens,
               sum(is_en)::BIGINT AS n_en
        FROM d GROUP BY 1
    ), tot AS (
        SELECT sum(n_docs)::BIGINT AS t_docs FROM g
    )
    SELECT fold, n_docs, n_tokens, n_en,
           {dk_rat6('n_docs', 't_docs')} AS doc_share,
           {dk_rat6('n_en', 'n_docs')} AS en_share
    FROM g CROSS JOIN tot
    ORDER BY fold
    """


LM_SMOOTH_V_SEED = "fold"  # reuse of the stable-hash namespace pattern


def corpus_lm_holdout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM holdout perplexity per source — the eval-side
    complement to corpus_bigram_lm's training counts and
    corpus_perplexity_filter's scoring filter: train add-one-smoothed
    bigram probabilities on the TRAIN split (the split_train_holdout
    content-hash, so train/holdout never depend on row order), score
    every HOLDOUT bigram as ln((c+1)/(head_total+V)), and report
    per-source cross-entropy, perplexity and the unseen-bigram (OOV)
    rate — the go/no-go number an n-gram quality filter ships with.

    Scale shape: bigram counts are ONE (w1, w2) shuffle on the train
    slice; holdout bigrams LEFT-join that table on the same key (miss ⇒
    c = 0); V (distinct train heads) rides a 1-row broadcast. OOV rate
    is integer-exact HALF_UP; cross-entropy/perplexity pass through ln
    (irrational — plain round). NULL text tokenizes empty (no bigrams,
    both engines).
    """
    h = X.sp_hash32("cast(doc_id as string)", "split")
    lo = SPLIT_CUTS[0]
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        F.coalesce(F.col("source"), F.lit("<null>")).alias("source"),
        F.expr(X.sp_tokens("text")).alias("t"),
        (F.expr(f"({h}) % 1000") < lo).alias("is_train"),
    )
    pair_expr = (
        "transform(slice(t, 1, size(t) - 1),"
        " (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))"
    )
    # pairs feeds the train LM AND the holdout probe (one
    # tokenize/explode pass pinned — the corpus_perplexity_filter
    # discipline); big and heads each feed two consumers. Pin all three;
    # the corpus tokenizes ONCE and the LM aggregates build once.
    pairs = docs.where("size(t) >= 2").select(
        "source", "is_train", F.explode(F.expr(pair_expr)).alias("p")
    ).select("source", "is_train", "p.w1", "p.w2").transform(pin)
    train = pairs.where("is_train")
    big = (
        train.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    heads = (
        big.groupBy("w1")
        .agg(F.sum("c").alias("head_total"))
        .transform(pin)
    )
    v = F.broadcast(heads.agg(F.count(F.lit(1)).alias("v")))
    hold = (
        pairs.where("NOT is_train")
        .join(big, ["w1", "w2"], "left")
        .join(heads, ["w1"], "left")
        .crossJoin(v)
        .select(
            "source",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            F.coalesce(F.col("head_total"), F.lit(0)).alias("ht"),
            "v",
        )
    )
    g = hold.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum((F.col("c") == 0).cast("bigint")).alias("n_unseen"),
        F.sum(
            F.expr("ln(cast(ht + v as double) / cast(c + 1 as double))")
        ).alias("nll"),
    )
    return g.selectExpr(
        "source",
        "n_bigrams",
        "n_unseen",
        f"{sp_rat6('n_unseen', 'n_bigrams')} AS oov_rate",
        "round(nll / n_bigrams, 6) AS cross_entropy_nats",
        "round(exp(nll / n_bigrams), 4) AS perplexity",
    ).orderBy("source")


def corpus_lm_holdout_ppl_sql() -> str:
    h = X.dk_hash32("doc_id::varchar", "split")
    lo = SPLIT_CUTS[0]
    return f"""
    WITH docs AS (
        SELECT coalesce(source, '<null>') AS source,
               {X.dk_tokens('text')} AS t,
               (({h}) % 1000 < {lo}) AS is_train
        FROM documents
    ), pairs AS (
        SELECT source, is_train,
               t[i] AS w1, t[i + 1] AS w2
        FROM docs, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    ), big AS (
        SELECT w1, w2, count(*)::BIGINT AS c FROM pairs WHERE is_train
        GROUP BY 1, 2
    ), heads AS (
        SELECT w1, sum(c)::BIGINT AS head_total FROM big GROUP BY 1
    ), v AS (
        SELECT count(*)::BIGINT AS v FROM heads
    ), hold AS (
        SELECT p.source,
               coalesce(b.c, 0)::BIGINT AS c,
               coalesce(h2.head_total, 0)::BIGINT AS ht,
               v.v
        FROM pairs p
        LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        LEFT JOIN heads h2 ON p.w1 = h2.w1
        CROSS JOIN v
        WHERE NOT p.is_train
    ), g AS (
        SELECT source, count(*)::BIGINT AS n_bigrams,
               sum((c = 0)::INT)::BIGINT AS n_unseen,
               sum(ln((ht + v)::DOUBLE / (c + 1)::DOUBLE)) AS nll
        FROM hold GROUP BY 1
    )
    SELECT source, n_bigrams, n_unseen,
           {dk_rat6('n_unseen', 'n_bigrams')} AS oov_rate,
           round(nll / n_bigrams, 6) AS cross_entropy_nats,
           round(exp(nll / n_bigrams), 4) AS perplexity
    FROM g ORDER BY source
    """


# --------------------------------------------------------------------------
# context-length planning, temporal & leakage-safe splits (round 8)
# --------------------------------------------------------------------------

PACK_CANDIDATE_LENS = (128, 256, 512, 1024)   # candidate context lengths
SPLIT_TEMPORAL_PERMILLE = 900                 # train share of events (exact)


def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning table: for each candidate training
    context length L, the padding overhead of pad-to-L batching
    (every doc padded to ⌈n/L⌉·L) versus the sequence count of
    concat-and-chop packing (pack_sequences' regime) — the one-pass
    audit that picks L before a packing run commits 100 TB of compute.

    Scale shape: the doc-grain token counts expand ×|LENS| MAP-SIDE
    (explode over a 4-element literal array — no join, no extra scan)
    and partial aggregation collapses to |LENS| rows per partition
    before the single 4-key shuffle. All counts are exact integers;
    the overhead ratio is an integer permille (integer-exact HALF_UP,
    cast BIGINT both engines — the r7 type-surface rule).
    """
    lens = ", ".join(str(c) for c in PACK_CANDIDATE_LENS)
    docs = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.size("t").alias("n_tokens"))
        .where("n_tokens > 0")
    )
    per = docs.select(
        "n_tokens", F.explode(F.expr(f"array({lens})")).alias("ctx_len")
    )
    agg = per.groupBy("ctx_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            F.expr("((n_tokens + ctx_len - 1) div ctx_len) * ctx_len")
        ).alias("padded_tokens"),
    )
    return agg.selectExpr(
        "cast(ctx_len as bigint) AS ctx_len",
        "n_docs",
        "total_tokens",
        "padded_tokens",
        "cast("
        + sp_units("padded_tokens - total_tokens", "padded_tokens", 3)
        + " as bigint) AS pad_waste_permille",
        "(total_tokens + ctx_len - 1) div ctx_len AS packed_chunks",
    ).orderBy("ctx_len")


def pack_efficiency_sql() -> str:
    vals = ", ".join(f"({c})" for c in PACK_CANDIDATE_LENS)
    return f"""
    WITH toks AS (
        SELECT len({X.dk_tokens('text')}) AS n_tokens FROM documents
    ), nz AS (
        SELECT * FROM toks WHERE n_tokens > 0
    ), per AS (
        SELECT n_tokens, ctx_len
        FROM nz CROSS JOIN (VALUES {vals}) AS lens(ctx_len)
    ), agg AS (
        SELECT ctx_len, count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS total_tokens,
               sum(((n_tokens + ctx_len - 1) // ctx_len) * ctx_len)::BIGINT
                   AS padded_tokens
        FROM per GROUP BY ctx_len
    )
    SELECT ctx_len::BIGINT AS ctx_len, n_docs, total_tokens, padded_tokens,
           ({dk_units("padded_tokens - total_tokens", "padded_tokens", 3)})::BIGINT
               AS pad_waste_permille,
           ((total_tokens + ctx_len - 1) // ctx_len)::BIGINT AS packed_chunks
    FROM agg ORDER BY ctx_len
    """


def split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/holdout split of the event stream with a leakage
    audit: the cutoff day is the FIRST day whose cumulative event count
    reaches the train share (an exact integer rule — 1000·cum ≥
    share·total — never a float percentile), train is every day ≤
    cutoff, and the audit counts users seen on BOTH sides (the
    entity-overlap a temporal split must report before anyone reads
    holdout metrics as out-of-time generalization).

    Scale shape: the cumulative rule runs on the DAYS-grain table
    (calendar-bounded window); the cutoff re-enters the plan as a 1-row
    broadcast (seed-stripe discipline, no driver round-trip); the user
    audit is one user-grain aggregate keyed on user_id. All exact
    integers; the holdout share is an integer permille.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            F.col("ts").cast("date").alias("day"),
            "user_id",
        )
    )
    # days feeds the cumulative rule AND the total — unpinned, its
    # events scan ran twice (3 total with the user-side pass).
    # DAYS-bounded, so pin; events is scanned twice (cutoff derivation
    # + user audit, the two-pass floor).
    days = (
        ev.groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(pin)
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = days.withColumn("cum", F.sum("cnt").over(w))
    tot = F.broadcast(days.agg(F.sum("cnt").alias("total")))
    cutoff = F.broadcast(
        cum.crossJoin(tot)
        .where(F.expr(f"1000 * cum >= {SPLIT_TEMPORAL_PERMILLE} * total"))
        .agg(F.min("day").alias("cutoff_day"))
    )
    sides = ev.crossJoin(cutoff).select(
        "user_id",
        "cutoff_day",
        (F.col("day") <= F.col("cutoff_day")).alias("in_train"),
    )
    users = sides.groupBy("user_id").agg(
        F.max("cutoff_day").alias("cutoff_day"),
        F.sum(F.col("in_train").cast("bigint")).alias("n_train_u"),
        F.sum((~F.col("in_train")).cast("bigint")).alias("n_hold_u"),
    )
    agg = users.agg(
        F.max("cutoff_day").alias("cutoff_day"),
        F.sum("n_train_u").alias("n_train"),
        F.sum("n_hold_u").alias("n_holdout"),
        F.sum(F.expr("cast(n_train_u > 0 as bigint)")).alias("train_users"),
        F.sum(F.expr("cast(n_hold_u > 0 as bigint)")).alias("holdout_users"),
        F.sum(
            F.expr("cast(n_train_u > 0 AND n_hold_u > 0 as bigint)")
        ).alias("leak_users"),
    )
    return agg.selectExpr(
        "cutoff_day",
        "n_train",
        "n_holdout",
        "train_users",
        "holdout_users",
        "leak_users",
        "cast("
        + sp_units("n_holdout", "n_train + n_holdout", 3)
        + " as bigint) AS holdout_permille",
    )


def split_temporal_sql() -> str:
    return f"""
    WITH ev AS (
        SELECT ts::DATE AS day, user_id FROM events WHERE ts IS NOT NULL
    ), days AS (
        SELECT day, count(*)::BIGINT AS cnt FROM ev GROUP BY day
    ), cum AS (
        SELECT day, sum(cnt) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            (SELECT sum(cnt) FROM days) AS total
        FROM days
    ), cutoff AS (
        SELECT min(day) AS cutoff_day FROM cum
        WHERE 1000 * cum >= {SPLIT_TEMPORAL_PERMILLE} * total
    ), users AS (
        SELECT user_id, max(cutoff_day) AS cutoff_day,
               sum((day <= cutoff_day)::INT)::BIGINT AS n_train_u,
               sum((day > cutoff_day)::INT)::BIGINT AS n_hold_u
        FROM ev CROSS JOIN cutoff GROUP BY user_id
    ), agg AS (
        SELECT max(cutoff_day) AS cutoff_day,
               sum(n_train_u)::BIGINT AS n_train,
               sum(n_hold_u)::BIGINT AS n_holdout,
               sum((n_train_u > 0)::INT)::BIGINT AS train_users,
               sum((n_hold_u > 0)::INT)::BIGINT AS holdout_users,
               sum((n_train_u > 0 AND n_hold_u > 0)::INT)::BIGINT AS leak_users
        FROM users
    )
    SELECT cutoff_day, n_train, n_holdout, train_users, holdout_users,
           leak_users,
           ({dk_units("n_holdout", "n_train + n_holdout", 3)})::BIGINT
               AS holdout_permille
    FROM agg
    """


SPLIT_PREFIX_LEN = 120   # dedup_prefix_family's family key length


def split_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment: hash-split documents by their
    NEAR-DUP FAMILY key (min doc_id of the shared-prefix family,
    dedup_prefix_family's grouping) instead of per-document, so no
    family ever straddles train/holdout — the decontamination rule that
    keeps a holdout document's near-twin out of train. Reports the
    audit a reviewer asks for: how many multi-doc families the NAIVE
    per-document split straddles versus the family-keyed split (always
    0), and how many documents the family rule reassigns.

    Scale shape: one shuffle on the prefix hash builds families; the
    family key re-joins doc-grain on the same key (no second shuffle of
    the corpus — AQE reuses the partitioning); both split decisions are
    map-side integer hash comparisons (split_train_holdout's stable
    permille rule, same cut). All exact integers.
    """
    lo = SPLIT_CUTS[0]
    h_doc = X.sp_hash32("cast(doc_id as string)", "split")
    h_fam = X.sp_hash32("cast(fam_key as string)", "split")
    # docs feeds fams AND the join probe, and j feeds BOTH audit
    # aggregates — unpinned, the documents scan + prefix-md5 ran 4x in
    # one plan and the family join twice. Pin both doc-grain tables
    # (two narrow columns / six integer-ish columns): the fact is
    # scanned once, the hash and the join each computed once.
    docs = (
        scatter(spark, load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.md5(F.expr(f"substring(text, 1, {SPLIT_PREFIX_LEN})")).alias(
                "pfx_hash"
            ),
        )
        .transform(pin)
    )
    fams = docs.groupBy("pfx_hash").agg(
        F.min("doc_id").alias("fam_key"),
        F.count(F.lit(1)).alias("fam_size"),
    )
    j = docs.join(fams, "pfx_hash").selectExpr(
        "doc_id",
        "pfx_hash",
        "fam_key",
        "fam_size",
        f"cast(({h_doc}) % 1000 >= {lo} as int) AS naive_hold",
        f"cast(({h_fam}) % 1000 >= {lo} as int) AS fam_hold",
    ).transform(pin)
    fam_audit = j.groupBy("pfx_hash").agg(
        F.max("fam_size").alias("fam_size"),
        F.countDistinct("naive_hold").alias("naive_sides"),
        F.countDistinct("fam_hold").alias("fam_sides"),
    )
    a1 = fam_audit.agg(
        F.count(F.lit(1)).alias("n_families"),
        F.sum(F.expr("cast(fam_size >= 2 as bigint)")).alias(
            "n_multi_families"
        ),
        F.sum(
            F.expr("cast(fam_size >= 2 AND naive_sides > 1 as bigint)")
        ).alias("naive_straddling"),
        F.sum(
            F.expr("cast(fam_size >= 2 AND fam_sides > 1 as bigint)")
        ).alias("fam_straddling"),
    )
    a2 = j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("cast(fam_hold as bigint)")).alias("holdout_docs"),
        F.sum(F.expr("cast(naive_hold <> fam_hold as bigint)")).alias(
            "docs_reassigned"
        ),
    )
    return a1.crossJoin(F.broadcast(a2)).select(
        "n_docs",
        "n_families",
        "n_multi_families",
        "naive_straddling",
        "fam_straddling",
        "holdout_docs",
        "docs_reassigned",
    )


def split_dedup_aware_sql() -> str:
    lo = SPLIT_CUTS[0]
    h_doc = X.dk_hash32("doc_id::varchar", "split")
    h_fam = X.dk_hash32("fam_key::varchar", "split")
    return f"""
    WITH docs AS (
        SELECT doc_id, md5(substr(text, 1, {SPLIT_PREFIX_LEN})) AS pfx_hash
        FROM documents
    ), fams AS (
        SELECT pfx_hash, min(doc_id) AS fam_key, count(*)::BIGINT AS fam_size
        FROM docs GROUP BY pfx_hash
    ), j AS (
        SELECT doc_id, docs.pfx_hash, fam_key, fam_size,
               (({h_doc}) % 1000 >= {lo})::INT AS naive_hold,
               (({h_fam}) % 1000 >= {lo})::INT AS fam_hold
        FROM docs JOIN fams USING (pfx_hash)
    ), fam_audit AS (
        SELECT pfx_hash, max(fam_size) AS fam_size,
               count(DISTINCT naive_hold) AS naive_sides,
               count(DISTINCT fam_hold) AS fam_sides
        FROM j GROUP BY pfx_hash
    ), a1 AS (
        SELECT count(*)::BIGINT AS n_families,
               sum((fam_size >= 2)::INT)::BIGINT AS n_multi_families,
               sum((fam_size >= 2 AND naive_sides > 1)::INT)::BIGINT
                   AS naive_straddling,
               sum((fam_size >= 2 AND fam_sides > 1)::INT)::BIGINT
                   AS fam_straddling
        FROM fam_audit
    ), a2 AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(fam_hold)::BIGINT AS holdout_docs,
               sum((naive_hold <> fam_hold)::INT)::BIGINT AS docs_reassigned
        FROM j
    )
    SELECT n_docs, n_families, n_multi_families, naive_straddling,
           fam_straddling, holdout_docs, docs_reassigned
    FROM a1 CROSS JOIN a2
    """


def sample_downweight_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup by sampling weight: instead of DROPPING near-dup
    family members (dedup_prefix_family's hard rule), every document is
    weighted 1/family_size so each family contributes ONE document's
    worth of probability mass to the training sampler — the SemDeDup /
    soft-dedup alternative that keeps intra-family variation available
    while removing the duplication bias. Emits the per-source audit:
    raw vs effective (weighted) document and char mass, and the
    effective-mass permille the downweighting leaves.

    Exactness: each doc's weight is the integer micro-unit
    HALF_UP(10⁶/fam_size) and its char mass HALF_UP(10⁶·n_chars/
    fam_size) — exact BIGINT sums on both engines, never a float sum.
    Shape: one shuffle on the prefix hash builds family sizes, the
    doc-grain re-join rides the same key, the audit is one source-grain
    aggregate (bounded by the source catalog).
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.expr("substring(text, 1, 120)")).alias("pfx_hash"),
    )
    fams = docs.groupBy("pfx_hash").agg(
        F.count(F.lit(1)).alias("fam_size")
    )
    j = docs.join(fams, "pfx_hash").selectExpr(
        "source",
        "n_chars",
        "fam_size",
        "cast(" + sp_units("1", "fam_size") + " as bigint) AS w_micro",
        "cast("
        + sp_units("cast(n_chars as decimal(38,0))", "fam_size")
        + " as bigint) AS chars_micro",
    )
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("cast(fam_size >= 2 as bigint)")).alias("n_dup_docs"),
        F.sum("n_chars").alias("raw_chars"),
        F.sum("w_micro").alias("eff_docs_micro"),
        F.sum("chars_micro").alias("eff_chars_micro"),
    )
    return agg.selectExpr(
        "source",
        "n_docs",
        "n_dup_docs",
        "raw_chars",
        "eff_docs_micro",
        "eff_chars_micro",
        "cast("
        + sp_units(
            "cast(eff_chars_micro as decimal(38,0))",
            "cast(raw_chars as decimal(38,0)) * 1000000",
            3,
        )
        + " as bigint) AS eff_mass_permille",
    ).orderBy("source")


def sample_downweight_duplicates_sql() -> str:
    return f"""
    WITH docs AS (
        SELECT doc_id, source, n_chars,
               md5(substr(text, 1, 120)) AS pfx_hash
        FROM documents
    ), fams AS (
        SELECT pfx_hash, count(*)::BIGINT AS fam_size FROM docs GROUP BY 1
    ), j AS (
        SELECT source, n_chars, fam_size,
               ({dk_units("1", "fam_size")})::BIGINT AS w_micro,
               ({dk_units("n_chars::HUGEINT", "fam_size")})::BIGINT
                   AS chars_micro
        FROM docs JOIN fams USING (pfx_hash)
    ), agg AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum((fam_size >= 2)::INT)::BIGINT AS n_dup_docs,
               sum(n_chars)::BIGINT AS raw_chars,
               sum(w_micro)::BIGINT AS eff_docs_micro,
               sum(chars_micro)::BIGINT AS eff_chars_micro
        FROM j GROUP BY source
    )
    SELECT source, n_docs, n_dup_docs, raw_chars, eff_docs_micro,
           eff_chars_micro,
           ({dk_units("eff_chars_micro::HUGEINT", "raw_chars::HUGEINT * 1000000", 3)})::BIGINT
               AS eff_mass_permille
    FROM agg ORDER BY source
    """


QUALITY_TAUS = (500, 600, 650, 700, 750, 800)   # alpha-ratio permille cuts


def corpus_quality_mix_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold yield curve: for each candidate alpha-ratio
    cut τ (permille), the documents and tokens a Gopher-style gate
    (n_tokens ≥ 10 AND alpha_ratio ≥ τ) keeps — the curve whose knee
    picks the quality threshold BEFORE a 100 TB filter run commits to
    one number (the corpus_funnel report shows one gate; this shows
    the alternative gates side by side).

    Exactness: the gate is the INTEGER comparison 1000·alpha ≥
    τ·n_chars (never a float ratio at the cut — the r5 round-half
    lesson); every output is an exact integer or integer permille.
    Shape: one doc-grain pass computes (alpha, n_chars, n_tokens), the
    ×|TAUS| fan-out is a map-side literal explode with partial
    aggregation to |TAUS| rows per partition, totals enter as a 1-row
    broadcast, and the τ spine LEFT-joins so empty cuts report zeros.
    """
    taus = ", ".join(str(t) for t in QUALITY_TAUS)
    d = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        F.length("text").alias("n_chars_actual"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("alpha"),
        F.expr(f"size({X.sp_tokens('text')})").alias("n_tokens"),
    )
    per = d.select(
        "n_chars_actual",
        "alpha",
        "n_tokens",
        F.explode(F.expr(f"array({taus})")).alias("tau_permille"),
    ).where(
        F.expr(
            "n_tokens >= 10 AND 1000 * alpha >= tau_permille * n_chars_actual"
        )
    )
    kept = per.groupBy("tau_permille").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )
    tot = F.broadcast(
        d.agg(
            F.count(F.lit(1)).alias("n_docs_total"),
            F.sum("n_tokens").alias("tokens_total"),
        )
    )
    spine = tot.select(
        F.explode(F.expr(f"array({taus})")).alias("tau_permille"),
        "n_docs_total",
        "tokens_total",
    )
    return (
        spine.join(F.broadcast(kept), "tau_permille", "left")
        .selectExpr(
            "cast(tau_permille as bigint) AS tau_permille",
            "coalesce(n_docs_kept, 0) AS n_docs_kept",
            "coalesce(tokens_kept, 0) AS tokens_kept",
            # nullif guard: an empty corpus has zero totals — shares are
            # NULL then, not a DIVIDE_BY_ZERO crash (round-9 empty-input
            # axis); non-empty values unchanged
            "1000 * coalesce(n_docs_kept, 0) div nullif(n_docs_total, 0)"
            " AS docs_share_permille",
            "1000 * coalesce(tokens_kept, 0) div nullif(tokens_total, 0)"
            " AS tokens_share_permille",
        )
        .orderBy("tau_permille")
    )


def corpus_quality_mix_curve_sql() -> str:
    vals = ", ".join(f"({t})" for t in QUALITY_TAUS)
    return f"""
    WITH d AS (
        SELECT length(text) AS n_chars_actual,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len({X.dk_tokens('text')}) AS n_tokens
        FROM documents
    ), per AS (
        SELECT n_tokens, tau_permille
        FROM d CROSS JOIN (VALUES {vals}) t(tau_permille)
        WHERE n_tokens >= 10
          AND 1000 * alpha >= tau_permille * n_chars_actual
    ), kept AS (
        SELECT tau_permille, count(*)::BIGINT AS n_docs_kept,
               sum(n_tokens)::BIGINT AS tokens_kept
        FROM per GROUP BY 1
    ), tot AS (
        SELECT count(*)::BIGINT AS n_docs_total,
               sum(n_tokens)::BIGINT AS tokens_total
        FROM d
    )
    SELECT s.tau_permille::BIGINT AS tau_permille,
           coalesce(n_docs_kept, 0)::BIGINT AS n_docs_kept,
           coalesce(tokens_kept, 0)::BIGINT AS tokens_kept,
           (1000 * coalesce(n_docs_kept, 0) // nullif(n_docs_total, 0))::BIGINT
               AS docs_share_permille,
           (1000 * coalesce(tokens_kept, 0) // nullif(tokens_total, 0))::BIGINT
               AS tokens_share_permille
    FROM (VALUES {vals}) s(tau_permille)
    LEFT JOIN kept ON kept.tau_permille = s.tau_permille
    CROSS JOIN tot
    ORDER BY s.tau_permille
    """


COMMON_TOKEN_TOP_K = 100       # corpus-dominant token set size
COMMON_GATE_PERMILLE = 800     # drop docs whose tokens are >=80% dominant


def filter_common_token_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-token dominance gate: drop documents whose token stream
    is ≥COMMON_GATE_PERMILLE‰ made of the corpus's TOP-K most frequent
    tokens — the C4-style boilerplate screen that catches navigation
    chrome, cookie banners and template glue which pass length and
    alpha-ratio gates (every word is a real, common word; the DOCUMENT
    carries no information). Emits the per-source audit: docs dropped,
    tokens dropped, drop share.

    Scale shape: the dominant set is a plan-derived TOP-K (sort+limit
    on the token-frequency table — K rows at any corpus size) BROADCAST
    to the exploded token stream (map-side hash join, partial agg back
    to doc grain); the gate is the integer comparison 1000·n_common ≥
    τ·n_tokens (no float ratio at the cut). One token-grain shuffle for
    the frequency table, one doc-grain aggregate, one bounded source
    rollup.
    """
    toks = _tokens_df(spark, sf_dir).select(
        "doc_id", "source", F.explode("t").alias("tok")
    )
    top = F.broadcast(
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(COMMON_TOKEN_TOP_K)
        .select("tok", F.lit(1).alias("is_common"))
    )
    per_doc = (
        toks.join(top, "tok", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.expr("coalesce(is_common, 0)")).alias("n_common"),
        )
        .withColumn(
            "dropped",
            F.expr(
                f"1000 * n_common >= {COMMON_GATE_PERMILLE} * n_tokens"
            ),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("cast(dropped as bigint)")).alias("docs_dropped"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.expr("CASE WHEN dropped THEN n_tokens ELSE 0 END")).alias(
                "tokens_dropped"
            ),
        )
        .selectExpr(
            "source",
            "n_docs",
            "docs_dropped",
            "total_tokens",
            "tokens_dropped",
            "1000 * docs_dropped div n_docs AS drop_share_permille",
        )
        .orderBy("source")
    )


def filter_common_token_gate_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, source, unnest({X.dk_tokens('text')}) AS tok
        FROM documents
    ), top AS (
        SELECT tok, 1 AS is_common FROM (
            SELECT tok, count(*)::BIGINT AS freq FROM toks GROUP BY tok
            ORDER BY freq DESC, tok LIMIT {COMMON_TOKEN_TOP_K}
        )
    ), per_doc AS (
        SELECT doc_id, source, count(*)::BIGINT AS n_tokens,
               sum(coalesce(is_common, 0))::BIGINT AS n_common
        FROM toks LEFT JOIN top USING (tok)
        GROUP BY doc_id, source
    ), gated AS (
        SELECT source, n_tokens,
               (1000 * n_common >= {COMMON_GATE_PERMILLE} * n_tokens)
                   AS dropped
        FROM per_doc
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(dropped::INT)::BIGINT AS docs_dropped,
           sum(n_tokens)::BIGINT AS total_tokens,
           sum(CASE WHEN dropped THEN n_tokens ELSE 0 END)::BIGINT
               AS tokens_dropped,
           (1000 * sum(dropped::INT) // count(*))::BIGINT
               AS drop_share_permille
    FROM gated GROUP BY source ORDER BY source
    """
