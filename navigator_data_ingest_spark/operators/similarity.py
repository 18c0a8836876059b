"""Similarity search over embedding columns.

  bruteforce — exact top-k cosine: query set broadcast against the full
               corpus, window-ranked per query. The corpus side never
               shuffles; the rank windows on the (small) result of the
               broadcast join.
  lsh        — random-hyperplane LSH: each vector gets a sign-bit bucket
               computed map-side from deterministic pseudo-random
               hyperplanes; candidates come from bucket equality only.
               At 100 TB the bucket becomes the partition key and only
               bucket-local candidates are scored.

Hyperplane components and all dot products are deterministic left folds
(functions/exprs.py) so the DuckDB oracles reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions import exprs as X
from navigator_data_ingest_spark.functions.exact import (
    dk_rat6,
    sp_rat6,
)
from navigator_data_ingest_spark.sources.tables import load_table, pin, scatter

EMB_DIM = 64
TOP_K = 5
# Bounded query stripe: vec_id % qmod == 0 selects query vectors, with
# qmod = max(QUERY_MOD_MIN, n // QUERY_TARGET) derived from the corpus
# count. A FIXED modulus makes the query set 1% OF THE CORPUS — the
# broadcast side (and the np scorer's driver collect) then grows
# linearly with data, a scale-killer at 100x. Deriving the modulus caps
# the stripe at ~QUERY_TARGET vectors at any corpus size (the same
# bounded-by-derivation discipline as IVF's K_CENTROIDS and
# dedup_recall_report's sample stripe).
QUERY_MOD_MIN = 100  # small-corpus floor (n <= 800 keeps the old stripe)
QUERY_TARGET = 8     # asymptotic query-set size
N_PLANES = 6
PLANE_SEED = 7


def query_stripe_sql() -> str:
    """DuckDB predicate for the bounded query stripe (modulus derived
    from the BASE embeddings count, even when striping a derived CTE —
    the Spark side counts the same base table)."""
    return (
        f"vec_id % greatest({QUERY_MOD_MIN}, "
        f"(SELECT count(*) FROM embeddings) // {QUERY_TARGET}) = 0"
    )


def _bounded_mod(base: DataFrame, divisor: int, floor_min: int, alias: str) -> DataFrame:
    """1-row broadcast modulus = max(floor_min, count(base) // divisor).

    Plan-side (a broadcast scalar aggregate feeding a cross join), NOT a
    driver-side ``.count()``: the count job runs inside the consumer's
    own plan, so building the operator's DataFrame triggers no Spark
    job. Truncating cast == floor for the non-negative count, matching
    DuckDB's ``//``.
    """
    return F.broadcast(
        base.groupBy()
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.greatest(
                F.lit(floor_min).cast("bigint"),
                (F.col("_n") / F.lit(divisor)).cast("bigint"),
            ).alias(alias)
        )
    )


def query_stripe(df: DataFrame, base: DataFrame) -> DataFrame:
    """Rows of ``df`` on the bounded query stripe (vec_id % qmod == 0)."""
    m = _bounded_mod(base, QUERY_TARGET, QUERY_MOD_MIN, "_qmod")
    return df.crossJoin(m).where(F.col("vec_id") % F.col("_qmod") == 0).drop("_qmod")


def centroid_stripe(df: DataFrame, base: DataFrame) -> DataFrame:
    """Rows of ``df`` on the bounded centroid-seed stripe
    (vec_id % max(1, n // K_CENTROIDS) == 1) — IVF's deterministic
    "training" seed set, kept BOUNDED as the corpus grows."""
    m = _bounded_mod(base, K_CENTROIDS, 1, "_cmod")
    return df.crossJoin(m).where(F.col("vec_id") % F.col("_cmod") == 1).drop("_cmod")


def _cos(a: str, b: str, dim: int | None = EMB_DIM):
    # fixed-dim by default: sp_fold_dot unrolls into a codegen-able
    # left-associated sum (bit-identical to the fold and to DuckDB's
    # list_reduce); pass dim=None for the any-dimensionality library
    # path (interpreted fold, same order)
    dot = F.expr(X.sp_fold_dot(a, b, dim))
    na = F.sqrt(F.expr(X.sp_fold_dot(a, a, dim)))
    nb = F.sqrt(F.expr(X.sp_fold_dot(b, b, dim)))
    return dot / (na * nb)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: any (vec_id, embedding) corpus vs any
    (query_id, qvec) query set (the ANN baseline). The query set
    broadcasts; the corpus side never shuffles; the rank windows on the
    (small) result of the broadcast join. ``dim=None`` keeps the
    any-dimensionality dynamic fold (library path); registry callers
    pass EMB_DIM for the unrolled codegen form."""
    joined = corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    cos = _cos("qvec", "embedding", dim)
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        joined.select("query_id", "vec_id", cos.alias("_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "vec_id", F.round(F.col("_cos"), 6).alias("cos_sim"), "rank"
        )
        .orderBy("query_id", "rank")
    )


def sim_search_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: every bounded-stripe vector queries the
    embeddings table (query set ~QUERY_TARGET rows at any scale)."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw)
    # the query side is BROADCAST, so routing it through the scatter
    # repartition only inserted an Exchange inside the broadcast build
    # (the collect gathers every partition anyway). Stripe the raw
    # relation instead — same rows, one less exchange.
    q = query_stripe(raw, raw).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return cosine_topk(e, q, TOP_K, dim=EMB_DIM)


def _plane_const(p: int, i: int) -> float:
    """Hyperplane p's component at 1-based index i: pseudo-random in
    [-1, 1] from the shared md5-derived 32-bit hash that the DuckDB
    oracle evaluates in SQL, evaluated here in Python. The
    hash input is fully determined by (p, i), so the double can be
    embedded as a literal — Catalyst would constant-fold the md5
    expression to this exact value anyway, but 384 folded md5 nodes
    cost real analysis/codegen time on every query build."""
    import hashlib as _hl

    h = int(_hl.md5(f"{PLANE_SEED}:p{p}d{i - 1}".encode()).hexdigest()[:8], 16)
    return ((h % 2001) - 1000) / 1000.0


def _bucket_expr(vec: str) -> str:
    """Sign-bit bucket: bit p set iff dot(vec, plane_p) > 0.

    Unrolled over (plane, dim) with LITERAL indices: each plane
    component's md5-derived pseudo-random value becomes a constant
    expression Catalyst folds at plan time, and the remaining per-row
    work is a codegen-able multiply-add chain — the lambda form
    recomputed 6 x 64 md5 hashes PER ROW in interpreted eval. Same
    left-to-right association, so values are unchanged.
    """
    plane_dots = []
    for p in range(N_PLANES):
        terms = [
            f"cast(element_at({vec}, {i}) as double)"
            f" * ({_plane_const(p, i)!r})"
            for i in range(1, EMB_DIM + 1)
        ]
        plane_dots.append("(" + " + ".join(terms) + ")")
    bits = [
        f"CASE WHEN {plane_dots[p]} > 0 THEN cast({1 << p} as bigint)"
        f" ELSE cast(0 as bigint) END"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(bits) + ")"


def _lsh_topk(e: DataFrame, q: DataFrame) -> DataFrame:
    """Bucket-local ANN top-k over a bucketed corpus ``e`` (vec_id,
    embedding, bucket) and query set ``q`` (query_id, qvec, qbucket) —
    the shared body of sim_search_lsh and sim_search_recall_report (the
    latter passes a PINNED query stripe so the stripe scan runs once)."""
    joined = e.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    cos = _cos("qvec", "embedding")
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        joined.select("query_id", "vec_id", F.col("bucket"), cos.alias("_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "vec_id", "bucket",
            F.round(F.col("_cos"), 6).alias("cos_sim"), "rank",
        )
        .orderBy("query_id", "rank")
    )


def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: candidates share the query's hyperplane sign bucket."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).withColumn(
        "bucket", F.expr(_bucket_expr("embedding"))
    )
    q = (
        query_stripe(e, raw)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.col("bucket").alias("qbucket"),
        )
    )
    return _lsh_topk(e, q)


K_CENTROIDS = 40  # bounded centroid count — the IVF scale invariant
NPROBE = 2


def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantize to centroid cells, probe NPROBE.

    Deterministic "training": every (vec_id % mod == 1) vector seeds a
    centroid, with ``mod = max(1, n // K_CENTROIDS)`` so the centroid
    count stays BOUNDED as the corpus grows (a real pipeline would
    k-means; the index/search structure is identical). A corpus-scaling
    centroid count would make the n x K scoring pass O(n^2/mod) — the
    20x scale probe caught exactly that regression. The count that
    resolves the modulus is a plan-side 1-row broadcast aggregate
    (``centroid_stripe``) — building the DataFrame runs no driver job.

    Cell assignment is a map-side ``min(struct)`` argmax collapse (the
    emb_kmeans pattern): the shuffle carries ONE row per vector, never
    the n x K scored grid — a ranking window over the grid would
    shuffle K rows per vector just to discard K-1. Only the probe side
    (the bounded query stripe) pays a ranking window, on
    its own |queries| x K grid; candidate scoring then touches only
    probed cells — at scale the cell id is the partition key and each
    query scans ~NPROBE/K of the corpus.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw)
    # the centroid side is BROADCAST — stripe the raw relation so the
    # broadcast build carries no scatter Exchange; PIN the
    # ≤K_CENTROIDS-row stripe because BOTH the cell assignment and the
    # probe ranking broadcast it (unpinned, each copy was its own
    # full-corpus stripe pass).
    cents = (
        centroid_stripe(raw, raw)
        .select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
        )
        .transform(pin)
    )
    ccos = _cos("embedding", "cvec")
    assign = (
        e.join(F.broadcast(cents))
        .select("vec_id", "embedding", "centroid_id", ccos.alias("_ccos"))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_ccos")).alias("neg"),
                    F.col("centroid_id").alias("cid"),
                    F.col("embedding").alias("emb"),
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.emb").alias("embedding"),
            F.col("m.cid").alias("cell"),
        )
    )
    cw = Window.partitionBy("vec_id").orderBy(F.desc("_ccos"), F.asc("centroid_id"))
    probe = (
        query_stripe(e, raw)
        .join(F.broadcast(cents))
        .select("vec_id", "embedding", "centroid_id", ccos.alias("_ccos"))
        .withColumn("crn", F.row_number().over(cw))
        .where(F.col("crn") <= NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.col("centroid_id").alias("cell"),
        )
    )
    cand = assign.join(
        F.broadcast(probe),
        (assign["cell"] == probe["cell"]) & (assign["vec_id"] != probe["query_id"]),
    )
    cos = _cos("qvec", "embedding")
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        cand.select("query_id", "vec_id", assign["cell"], cos.alias("_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "vec_id", "cell",
            F.round(F.col("_cos"), 6).alias("cos_sim"), "rank",
        )
        .orderBy("query_id", "rank")
    )


QUANT_BITS = 127  # int8 symmetric quantization


def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column.

    The storage/ANN-speed trick for billion-vector corpora: per-vector
    scale = max|x| / 127, codes = round_half_up(x / scale). Integer
    half-up arithmetic is spelled out (floor(x + 0.5) on a scaled
    double) so the DuckDB oracle is bit-identical; reconstruction error
    is reported as a deterministic left-fold max of |x - code*scale|.
    """
    e = scatter(spark, load_table(spark, sf_dir, "embeddings"))
    absmax = "aggregate(embedding, cast(0.0 as double), (m, x) -> greatest(m, abs(cast(x as double))))"
    scale = f"(({absmax}) / {QUANT_BITS}.0)"
    codes = (
        f"transform(embedding, x -> cast(floor(cast(x as double) / {scale} + 0.5) as bigint))"
    )
    max_err = (
        f"aggregate(zip_with(embedding, {codes}, (x, q) -> "
        f"abs(cast(x as double) - q * {scale})), "
        f"cast(0.0 as double), (m, d) -> greatest(m, d))"
    )
    return (
        e.where(F.expr(f"{absmax} > 0"))
        .select(
            "vec_id",
            "label",
            F.round(F.expr(scale), 6).alias("scale"),
            F.expr(f"aggregate({codes}, 0L, (a, q) -> a + q)").alias("code_sum"),
            F.expr(f"aggregate({codes}, 0L, (a, q) -> greatest(a, abs(q)))")
            .alias("max_code"),
            F.round(F.expr(max_err), 6).alias("max_abs_err"),
        )
        .orderBy("vec_id")
    )


def sim_search_bruteforce_np_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized exact top-k: numpy scoring + local-top-k merge.

    The PRODUCTION path for brute-force ANN at scale (the fold-based
    ``sim_search_bruteforce`` is the bit-exact oracle twin): the query
    matrix broadcasts to every task, each Arrow batch scores with one
    matmul, only the per-batch top-k survives (k x q rows per batch,
    not n x q), and a final window merges the local winners. This
    SCORED form (with the float ``cos_sim`` column, whose ulps depend
    on numpy's pairwise-summation order) is the pytest surface: the
    test gate asserts ids, ranks AND cosines against the fold twin.
    The registered ``sim_search_bruteforce_np`` projects it to the
    integer identity columns the driver can hash against a SQL oracle.
    """
    import numpy as np
    import pandas as pd

    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw)
    # ONE job: the stripe modulus resolves inside this collect's own
    # plan, and the bounded stripe keeps the collected query matrix
    # ~QUERY_TARGET rows at any corpus size (the broadcast below is the
    # production pattern — queries to every task, corpus never moves)
    q_rows = (
        # this side is COLLECTED — striping the raw relation drops
        # the scatter Exchange from the collect job.
        query_stripe(raw, raw)
        .select("vec_id", "embedding")
        .collect()
    )
    if not q_rows:
        # filter-to-zero robustness (round-9 empty-input axis): an empty
        # query stripe must yield an empty result, not an np.stack crash
        return spark.createDataFrame(
            [], "query_id bigint, vec_id bigint, cos_sim double, rank int"
        )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    qm = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in q_rows])
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, qn))

    def _score(batches):
        ids, queries = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            xn = x / np.linalg.norm(x, axis=1, keepdims=True)
            s = xn @ queries.T  # batch x q
            vids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_c = [], [], []
            for j, qid in enumerate(ids):
                col = s[:, j].copy()
                col[vids == qid] = -np.inf  # exclude self
                k = min(TOP_K, len(col))
                # the per-batch cut must use the same key as the global
                # window (round 6dp + ties kept), NOT the raw cosine:
                # two candidates equal at the emitted 6dp grain but a
                # ulp apart raw could straddle the k boundary, and
                # argpartition on raw would keep the higher ulp while
                # the oracle's (round DESC, vec_id ASC) rank keeps the
                # lower vec_id (r10 ADVICE). Cut on the quantized value
                # with every boundary tie retained — plus a 2-quanta
                # slack that absorbs np.round (half-even) vs Spark
                # round() (HALF_UP) single-quantum disagreements — and
                # let the global window apply the final TOP_K.
                colq = np.round(col, 6)
                kth_val = -np.partition(-colq, k - 1)[k - 1]
                # isfinite drops the -inf self marker: a batch with < k
                # non-self rows (the n = 1 corpus is the extreme) must
                # not leak a phantom (qid, qid) row the SQL oracle's
                # vec_id <> query_id join never produces
                top = np.flatnonzero(
                    np.isfinite(col) & (colq >= kth_val - 2e-6)
                )
                out_q.extend([qid] * len(top))
                out_v.extend(vids[top])
                out_c.extend(col[top])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_v, "cos": out_c}
            )

    local = e.select("vec_id", "embedding").mapInPandas(
        _score, schema="query_id bigint, vec_id bigint, cos double"
    )
    # rank on the QUANTIZED cosine (round 6dp, the emitted grain) with
    # the vec_id tie-break — an ulp-level near-tie between numpy-matmul
    # and SQL-fold cosines then resolves identically in both engines by
    # construction (r9 ADVICE); the oracle ranks on round(c, 6) too
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "vec_id",
            F.round("cos", 6).alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def sim_search_bruteforce_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certifiable projection of the numpy brute-force path
    (VERDICT r8 #2): the full vectorized pipeline runs, but the hashed
    surface is the INTEGER identity columns (query_id, vec_id, rank) —
    invariant under the ~1e-15 float-summation ulps that separate a
    numpy matmul from a SQL fold (measured: ids, ranks and even
    round(cos,6) agree exactly with the DuckDB fold oracle at
    sf0.001/sf0.01). The DuckDB oracle recomputes exact fold top-k and
    projects the same three columns; pytest keeps pinning the float
    cosines via ``sim_search_bruteforce_np_scored``.
    """
    return sim_search_bruteforce_np_scored(spark, sf_dir).select(
        "query_id", "vec_id", "rank"
    )


def label_centroids(
    df: DataFrame, dim: int, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid of a vector column WITHOUT row explosion:
    (label_col, centroid array<double>). ``dim`` is the vector length,
    passed explicitly so no driver-side peek at the data is needed.

    One shuffle on ~|labels| groups; each dimension is its own JVM-side
    partial aggregate (the posexplode alternative shuffles dim× the
    corpus).
    """
    per_dim = [F.avg(F.col(vec_col).getItem(i)).alias(f"d{i}") for i in range(dim)]
    return df.groupBy(label_col).agg(*per_dim).select(
        label_col, F.array(*[F.col(f"d{i}") for i in range(dim)]).alias("centroid")
    )


def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, WITHOUT row explosion.

    The naive plan posexplodes 64× the corpus before aggregating; at
    100 TB that's a 64× shuffle. Instead each dimension is its own
    ``avg(embedding[i])`` aggregate — 64 JVM-side partial aggs over the
    unexploded rows, one shuffle on ~|labels| groups — and only the
    10-row result is posexploded for presentation.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    return (
        label_centroids(emb, EMB_DIM)
        .select("label", F.posexplode("centroid").alias("pos", "c"))
        .select("label", F.col("pos").cast("int").alias("pos"), F.round("c", 6).alias("c"))
        .orderBy("label", "pos")
    )


KMEANS_K = 4
KMEANS_ITERS = 2


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means over the embedding
    column — the corpus-clustering primitive (domain discovery, dedup
    blocking, mixture balancing) expressed in pure DataFrame ops.

    Determinism (so a SQL oracle can replay it): seeds are the K
    lowest ``vec_id`` vectors (cid = rank by vec_id), exactly
    KMEANS_ITERS assignment/update rounds, argmin ties broken by cid.
    All arithmetic is cast to double FIRST (float->double is exact, so
    Spark and the oracle see identical inputs).

    Scale shape per iteration: the K-row centroid table is a literal
    crossJoin (broadcast — K rows), the argmin is a
    ``min(struct(dist2, cid))`` groupBy on vec_id whose partial
    aggregation collapses the K candidate rows MAP-SIDE (the shuffle
    carries ~n rows, not K*n), and the centroid update reuses the
    explosion-free per-dim ``avg(e[i])`` pattern from emb_centroids —
    64 JVM partial aggs, one K-group shuffle. No iteration reads the
    corpus more than once; nothing is collected to the driver.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    w = Window.orderBy("vec_id")
    # K rows — the one intentionally-serial window (bounded input: LIMIT K)
    centroids = (
        emb.orderBy("vec_id")
        .limit(KMEANS_K)
        .select((F.row_number().over(w) - 1).alias("cid"), F.col("e").alias("c"))
    )

    dist2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).alias("dist2")

    assigned = None
    for _ in range(KMEANS_ITERS):
        scored = emb.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "e", "cid", dist2
        )
        assigned = (
            scored.groupBy("vec_id")
            .agg(
                F.min(F.struct("dist2", "cid")).alias("m"),
                F.first("e").alias("e"),
            )
            .select("vec_id", "e", F.col("m.cid").alias("cid"), F.col("m.dist2").alias("dist2"))
            # each round's assignment feeds BOTH the centroid update and
            # (on the last round) the final rollup — pinned so
            # the shared subtree computes once and the plan stays flat
            # across iterations (same pattern as dedup connected comps)
            .transform(pin)
        )
        centroids = (
            assigned.groupBy("cid")
            .agg(*[F.avg(F.col("e").getItem(i)).alias(f"d{i}") for i in range(EMB_DIM)])
            .select("cid", F.array(*[F.col(f"d{i}") for i in range(EMB_DIM)]).alias("c"))
        )

    # centroids is now the post-final-update set (one update past the
    # last assignment) — reported as the result centroids
    centroid_sums = centroids.select(
        "cid", F.aggregate("c", F.lit(0.0), lambda a, x: a + x).alias("centroid_sum")
    )
    return (
        assigned.join(F.broadcast(centroid_sums), "cid")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("dist2"), 6).alias("inertia"),
            F.round(F.first("centroid_sum"), 6).alias("centroid_sum"),
        )
        .select(F.col("cid").cast("int").alias("cluster_id"), "n_members", "inertia", "centroid_sum")
        .orderBy("cluster_id")
    )


PQ_M = 8                      # subspaces
PQ_DSUB = EMB_DIM // PQ_M     # dims per subspace
PQ_K = 16                     # codebook entries per subspace


def _pq_dist(s: int) -> str:
    """Left-fold squared L2 distance over subspace ``s`` of e vs c."""
    off = s * PQ_DSUB
    d = (
        f"(cast(element_at(e, cast({off} + i as int)) as double) - "
        f"cast(element_at(c, cast({off} + i as int)) as double))"
    )
    return (
        f"aggregate(sequence(1, {PQ_DSUB}), cast(0.0 as double), "
        f"(acc, i) -> acc + {d} * {d})"
    )


def emb_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: the billion-vector memory trick (a 64-dim
    float vector compresses to 8 one-byte codes, 32x) behind IVF-PQ
    indexes. Each vector's 8 subspaces are assigned to the nearest of
    16 per-subspace codebook entries; the code tuple plus the summed
    per-subspace residual (the ADC reconstruction error) is emitted.

    Deterministic "training" (so a SQL oracle can replay it): the
    codebook entry j of subspace s is the s-th slice of the vector with
    the (j+1)-lowest vec_id — a real pipeline k-means each subspace;
    the assignment/scale structure is identical. Scale shape: the
    16-row codebook broadcasts; each vector meets 16 candidate rows
    whose 8 per-subspace distances collapse MAP-SIDE via
    ``min(struct(dist, code))`` partial aggregation — the shuffle
    carries ~n rows (one per vector), never n x 16. Ties break on the
    lower code id; all arithmetic is an explicit left fold, bit-equal
    across engines.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    emb = scatter(spark, raw).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    w = Window.orderBy("vec_id")
    # the 16-row codebook is a bounded limit — build it from the RAW
    # relation (same cast) so the broadcast side carries no scatter
    # Exchange; identical rows (vec_id order, same projection).
    codebook = (
        raw.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .orderBy("vec_id")
        .limit(PQ_K)
        .select((F.row_number().over(w) - 1).alias("j"), F.col("e").alias("c"))
    )
    # distances in a PROJECTION below the aggregate: the agg's partial-
    # aggregation code then compiles over 8 simple double columns
    # instead of 8 inlined fold expressions (an order-of-magnitude
    # smaller generated stage; the fold lambdas are interpreted either
    # way)
    scored = emb.crossJoin(F.broadcast(codebook)).select(
        "vec_id",
        "j",
        *[F.expr(_pq_dist(s)).alias(f"d{s}") for s in range(PQ_M)],
    )
    mins = scored.groupBy("vec_id").agg(
        *[
            F.min(F.struct(F.col(f"d{s}").alias("d"), F.col("j").alias("j")))
            .alias(f"m{s}")
            for s in range(PQ_M)
        ]
    )
    codes = F.concat_ws(",", *[F.col(f"m{s}.j").cast("string") for s in range(PQ_M)])
    err = F.col("m0.d")
    for s in range(1, PQ_M):
        err = err + F.col(f"m{s}.d")
    return mins.select(
        "vec_id",
        codes.alias("codes"),
        F.round(err, 6).alias("recon_err"),
    ).orderBy("vec_id")


def emb_pq_sql() -> str:
    def dist(s: int) -> str:
        off = s * PQ_DSUB
        d = f"(e.embedding[{off} + i]::double - s.c[{off} + i]::double)"
        return (
            f"list_reduce(list_transform(generate_series(1, {PQ_DSUB}), "
            f"i -> {d} * {d}), (x, y) -> x + y)"
        )

    dists = ", ".join(f"{dist(s)} AS d{s}" for s in range(PQ_M))
    mins = ", ".join(
        f"min({{'d': d{s}, 'j': j}}) AS m{s}" for s in range(PQ_M)
    )
    codes = " || ',' || ".join(f"m{s}.j::varchar" for s in range(PQ_M))
    err = " + ".join(f"m{s}.d" for s in range(PQ_M))
    return f"""
    WITH seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
        FROM embeddings
        QUALIFY row_number() OVER (ORDER BY vec_id) <= {PQ_K}
    ), scored AS (
        SELECT e.vec_id, s.j, {dists}
        FROM embeddings e, seeds s
    ), mins AS (
        SELECT vec_id, {mins}
        FROM scored GROUP BY vec_id
    )
    SELECT vec_id, {codes} AS codes, round({err}, 6) AS recon_err
    FROM mins ORDER BY vec_id
    """


def sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over PQ-compressed vectors with asymmetric distance
    computation (ADC): queries stay full-precision, candidates are
    represented ONLY by their reconstructed codebook slices — the
    scoring model of IVF-PQ indexes, where the corpus fits in memory at
    32x compression and distances are approximate.

    The reconstruction rides the SAME single aggregation that assigns
    codes (``min(struct(dist, code, slice))`` — the winning slice is
    carried, not re-joined), so the corpus meets the 16-row codebook
    once and shuffles once. Queries broadcast; squared-L2 ADC scores
    rank per query with deterministic (distance, vec_id) tie-break.
    Every fold is left-ordered — the DuckDB oracle replays it exactly.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    emb = scatter(spark, raw).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    w = Window.orderBy("vec_id")
    # bounded codebook limit reads the RAW relation (same cast) — no
    # scatter Exchange under the broadcast build; identical 16 rows.
    codebook = (
        raw.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .orderBy("vec_id")
        .limit(PQ_K)
        .select((F.row_number().over(w) - 1).alias("j"), F.col("e").alias("c"))
    )
    scored = emb.crossJoin(F.broadcast(codebook)).select(
        "vec_id",
        "j",
        *[F.expr(_pq_dist(s)).alias(f"d{s}") for s in range(PQ_M)],
        *[
            F.slice("c", s * PQ_DSUB + 1, PQ_DSUB).alias(f"s{s}")
            for s in range(PQ_M)
        ],
    )
    mins = scored.groupBy("vec_id").agg(
        *[
            F.min(
                F.struct(
                    F.col(f"d{s}").alias("d"),
                    F.col("j").alias("j"),
                    F.col(f"s{s}").alias("s"),
                )
            ).alias(f"m{s}")
            for s in range(PQ_M)
        ]
    )
    recon = mins.select(
        "vec_id",
        F.concat(*[F.col(f"m{s}.s") for s in range(PQ_M)]).alias("recon"),
    )
    # broadcast side — stripe raw (same cast) so the broadcast build
    # carries no scatter Exchange.
    q = query_stripe(
        raw.select("vec_id", F.col("embedding").cast("array<double>").alias("e")),
        raw,
    ).select(F.col("vec_id").alias("query_id"), F.col("e").alias("qvec"))
    adc = (
        f"aggregate(sequence(1, {EMB_DIM}), cast(0.0 as double), (acc, i) -> "
        "acc + (element_at(qvec, cast(i as int)) - element_at(recon, cast(i as int)))"
        " * (element_at(qvec, cast(i as int)) - element_at(recon, cast(i as int))))"
    )
    rw = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("vec_id"))
    return (
        recon.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.expr(adc).alias("_adc"))
        .withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "vec_id",
            F.round("_adc", 6).alias("adc_dist2"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def sim_search_pq_adc_sql() -> str:
    def dist(s: int) -> str:
        off = s * PQ_DSUB
        d = f"(e.embedding[{off} + i]::double - s.c[{off} + i]::double)"
        return (
            f"list_reduce(list_transform(generate_series(1, {PQ_DSUB}), "
            f"i -> {d} * {d}), (x, y) -> x + y)"
        )

    dists = ", ".join(f"{dist(s)} AS d{s}" for s in range(PQ_M))
    slices = ", ".join(
        f"list_transform(generate_series({s * PQ_DSUB} + 1, {(s + 1) * PQ_DSUB}), "
        f"i -> s.c[i]::double) AS s{s}"
        for s in range(PQ_M)
    )
    mins = ", ".join(
        f"min({{'d': d{s}, 'j': j, 's': s{s}}}) AS m{s}" for s in range(PQ_M)
    )
    recon = " || ".join(f"m{s}.s" for s in range(PQ_M))
    return f"""
    WITH seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
        FROM embeddings
        QUALIFY row_number() OVER (ORDER BY vec_id) <= {PQ_K}
    ), scored AS (
        SELECT e.vec_id, s.j, {dists}, {slices}
        FROM embeddings e, seeds s
    ), mins AS (
        SELECT vec_id, {mins}
        FROM scored GROUP BY vec_id
    ), recon AS (
        SELECT vec_id, {recon} AS r FROM mins
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
        WHERE {query_stripe_sql()}
    ), adc AS (
        SELECT q.query_id, c.vec_id,
               list_reduce(list_transform(generate_series(1, {EMB_DIM}),
                   i -> (q.qvec[i]::double - c.r[i]) * (q.qvec[i]::double - c.r[i])),
                   (x, y) -> x + y) AS a
        FROM recon c, q WHERE c.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id, a,
               row_number() OVER (PARTITION BY query_id ORDER BY a, vec_id) AS rank
        FROM adc
    )
    SELECT query_id, vec_id, round(a, 6) AS adc_dist2, rank::int AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


def sim_search_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality certification: per query, how much of the EXACT
    top-k does the LSH index recover, and how many candidates did it
    have to score to get there? The recall/candidate-count pair is the
    number every ANN deployment tunes against (more planes -> fewer
    candidates, lower recall) — computed IN-QUERY so the oracle
    certifies the measurement itself, not just the index.

    Plan shape: the exact top-k is the broadcast-scored baseline, the
    LSH side scores bucket-local candidates only, and both are
    per-query bounded (k rows each) before the final join — the report
    join is metadata-sized. recall_permille is integer arithmetic.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).withColumn(
        "bucket", F.expr(_bucket_expr("embedding"))
    )
    # the query stripe fed the exact baseline, the candidate count AND
    # the composed LSH ranking — each copy a full corpus pass to find
    # ~QUERY_TARGET rows (9 embeddings scans in the plan). Pin the
    # bounded stripe once and pass it into the shared _lsh_topk body
    # instead of re-deriving everything through sim_search_lsh: corpus
    # passes drop 6+ -> 3 (baseline scoring, candidate screen, LSH
    # ranking).
    q = (
        query_stripe(e, raw)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.col("bucket").alias("qbucket"),
        )
        .transform(pin)
    )
    bf = cosine_topk(e.select("vec_id", "embedding"),
                     q.select("query_id", "qvec"), TOP_K, dim=EMB_DIM)
    cand_counts = (
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    lsh = _lsh_topk(e, q).select(
        "query_id", F.col("vec_id").alias("lsh_vec")
    )
    overlap = (
        bf.join(
            lsh,
            (bf["query_id"] == lsh["query_id"]) & (bf["vec_id"] == lsh["lsh_vec"]),
            "left",
        )
        .groupBy(bf["query_id"].alias("query_id"))
        .agg(F.count("lsh_vec").alias("n_overlap"))
    )
    return (
        overlap.join(cand_counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_overlap",
            F.expr(f"n_overlap * 1000 div {TOP_K}").alias("recall_permille"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup: cluster, then drop within-cluster near-dups)
# --------------------------------------------------------------------------

SEM_TAU = 0.3  # within-cell cosine threshold for "semantic duplicate"


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse-cluster the
    embedding space, then drop the later member of every within-cell
    near-duplicate pair (cosine >= SEM_TAU, keep-lowest-vec_id).

    Candidate generation composes THREE bounding levers:

    1. EXACT-PAYLOAD COLLAPSE first (the production funnel's opening
       stage): vectors group by identical embedding, and everything
       expensive — the n x K centroid scoring, the bucket fold, the
       64-term cosine verify — runs once per DISTINCT payload. On a
       duplicate-heavy corpus (the 100x explosion probe: every vector
       replicated 100x) the old per-member plan verified C(100,2)
       cosines per group; collapsed, one rep pair carries them all and
       per-member results come back by integer arithmetic. Cosine is a
       pure function of the embedding, so the collapse is EXACT — the
       DuckDB oracle is unchanged.
    2. The IVF centroid cell (bounded K — the same deterministic
       seeding as sim_search_ivf), refined by
    3. the hyperplane sign bucket, so the rep pair join keys on
       (cell, bucket) and in-cell candidate sets shrink by 2^N_PLANES.
       At 100 TB the knob is N_PLANES: each added plane halves expected
       cell population for one more fold component per rep.

    Output is the per-vector keep/drop audit (``n_near`` = earlier
    near-dups that caused the drop): member b's count = over every
    group g' whose rep is near b's rep (same (cell, bucket), cosine >=
    SEM_TAU; b's own group counts via its self-pair, cosine 1), the
    number of g' members with a smaller vec_id — a members x near-rel x
    members integer join whose row count is the true near-pair count
    (the output's own lower bound), with map-side partial counting.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    # exact-payload groups: one shuffle on the embedding, gid = lowest
    # member id; reps are the gid rows (they carry the payload once).
    # the partition key is (xxhash64(embedding), embedding) — the
    # hash is a pure function of the array, so the groups are identical,
    # but the window's sort comparator decides on the 8-byte hash first
    # and touches the 64-double array comparison only for hash-equal
    # rows. No scatter() before the window: its hash exchange
    # reshuffles whatever partitioning the scan arrives with, and there
    # is no compute-heavy map work between scan and exchange.
    gw = Window.partitionBy(F.xxhash64("embedding"), "embedding")
    members = (
        raw.select("vec_id", "embedding")
        .withColumn("gid", F.min("vec_id").over(gw))
        # reused by the rep pipeline, both sides of the count join and
        # the final audit join — pin the grouped pass
        .transform(pin)
    )
    # the pin inherits AQE's coalesced partitioning — at toy scale that
    # is ONE partition, which would serialize the reps x K scoring fold
    # on a single core; scatter() spreads the codegen'd fold over the
    # default parallelism.
    reps = scatter(
        spark,
        members.where(F.col("vec_id") == F.col("gid")).select("gid", "embedding"),
    )
    # broadcast side — stripe the raw relation so the broadcast build
    # (and the checkpointed assign plan) carries no scatter Exchange.
    cents = centroid_stripe(raw, raw).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    ccos = _cos("embedding", "cvec")
    # argmax(cos) per rep as a map-side min(struct) partial aggregate
    # (the emb_kmeans pattern): the shuffle carries ONE row per rep,
    # not the reps x K scored grid a ranking window would shuffle; the
    # (-cos, centroid_id) struct order equals the (cos DESC, id ASC)
    # window rank, and embedding rides as payload (gids are unique, so
    # the comparison never reaches it)
    assign = (
        reps.join(F.broadcast(cents))
        .select("gid", "embedding", "centroid_id", ccos.alias("_ccos"))
        .groupBy("gid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_ccos")).alias("neg"),
                    F.col("centroid_id").alias("cid"),
                    F.col("embedding").alias("emb"),
                )
            ).alias("m")
        )
        # bucket + rep norm materialized THROUGH the checkpoint in ONE
        # projection (each chained withColumn re-analyzes the whole
        # giant-fold tree; m.emb substitutes into the folds exactly as
        # the former embedding alias did): the pair stage's cosine then
        # divides by stored norms instead of re-inlining two more
        # 64-term chains per pair (keeps its codegen unit small)
        .select(
            "gid",
            F.col("m.emb").alias("embedding"),
            F.col("m.cid").alias("cell"),
            F.expr(_bucket_expr("m.emb")).alias("bucket"),
            F.sqrt(F.expr(X.sp_fold_dot("m.emb", "m.emb", EMB_DIM))).alias("nrm"),
        )
        # the near-rel self-join reads it twice and the audit join once;
        # pin the (1-row-per-rep) result so the reps x K scoring pass
        # runs once, not three times
        .transform(pin)
    )
    ga = assign.select(
        F.col("gid").alias("gid_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("nrm_a"),
        "cell",
        "bucket",
    )
    gb = assign.select(
        F.col("gid").alias("gid_b"),
        F.col("embedding").alias("eb_"),
        F.col("nrm").alias("nrm_b"),
        F.col("cell").alias("cell_b"),
        F.col("bucket").alias("bucket_b"),
    )
    pcos = F.expr(X.sp_fold_dot("ea", "eb_", EMB_DIM)) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    # ordered near relation over rep pairs, INCLUDING the self pair
    # (cos(rep, rep) = 1 >= tau covers within-group duplicates): which
    # groups contribute earlier-id members to b's count
    near_rel = (
        ga.join(
            gb,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("bucket") == F.col("bucket_b")),
        )
        .where(pcos >= SEM_TAU)
        .select("gid_a", "gid_b")
    )
    # per-member expansion: pure integer join (no vector payloads), its
    # cardinality the true near-pair count, counted with partial aggs
    mb = members.select(F.col("vec_id").alias("vec_b"), F.col("gid").alias("gid_b"))
    ma = members.select(F.col("vec_id").alias("vec_a"), F.col("gid").alias("gid_a"))
    counts = (
        mb.join(near_rel, "gid_b")
        .join(ma, "gid_a")
        .where(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_b")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return (
        members.join(
            assign.select("gid", "cell", "bucket"), "gid"
        )
        .join(counts, members["vec_id"] == counts["vec_b"], "left")
        .select(
            "vec_id",
            "cell",
            "bucket",
            F.col("n_near").isNotNull().alias("dropped"),
            F.coalesce(F.col("n_near"), F.lit(0)).cast("bigint").alias("n_near"),
        )
        .orderBy("vec_id")
    )


def dedup_semantic_sql() -> str:
    def plane(p: str, i: str) -> str:
        key = f"'p' || {p}::varchar || 'd' || ({i} - 1)::varchar"
        return f"(({X.dk_hash32(key, PLANE_SEED)} % 2001) - 1000) / 1000.0"

    bucket = (
        f"list_sum(list_transform(generate_series(0, {N_PLANES - 1}), p -> "
        f"CASE WHEN list_reduce(list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> embedding[i]::double * ({plane('p', 'i')})), (x, y) -> x + y) > 0 "
        f"THEN (1::bigint << p) ELSE 0::bigint END))::bigint"
    )
    ccos = (
        f"{X.dk_fold_dot('e.embedding', 'c.cvec', EMB_DIM)} / "
        f"(sqrt({X.dk_fold_dot('e.embedding', 'e.embedding', EMB_DIM)}) * "
        f"sqrt({X.dk_fold_dot('c.cvec', 'c.cvec', EMB_DIM)}))"
    )
    pcos = (
        f"{X.dk_fold_dot('a.embedding', 'b.embedding', EMB_DIM)} / "
        f"(sqrt({X.dk_fold_dot('a.embedding', 'a.embedding', EMB_DIM)}) * "
        f"sqrt({X.dk_fold_dot('b.embedding', 'b.embedding', EMB_DIM)}))"
    )
    return f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings
        WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // {K_CENTROIDS}) = 1
    ), scored AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {ccos} DESC, c.centroid_id) AS crn
        FROM embeddings e CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, embedding, centroid_id AS cell FROM scored WHERE crn = 1
    ), ab AS (
        SELECT vec_id, embedding, cell, {bucket} AS bucket FROM assign
    ), near AS (
        SELECT b.vec_id AS vec_b, count(*)::bigint AS n_near
        FROM ab a JOIN ab b
          ON a.cell = b.cell AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {pcos} >= {SEM_TAU}
        GROUP BY b.vec_id
    )
    SELECT ab.vec_id, ab.cell, ab.bucket,
           near.vec_b IS NOT NULL AS dropped,
           coalesce(near.n_near, 0)::bigint AS n_near
    FROM ab LEFT JOIN near ON ab.vec_id = near.vec_b
    ORDER BY ab.vec_id
    """


# --------------------------------------------------------------------------
# matryoshka (prefix-dimension) ANN with recall audit
# --------------------------------------------------------------------------

MRL_DIM = 16  # truncated prefix dimensionality


def emb_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval audit: score every
    query's top-k twice — full EMB_DIM cosine (ground truth) and cosine
    on the FIRST MRL_DIM components only (the cheap prefix an
    MRL-trained embedding makes usable) — and report recall@k of the
    truncated ranking per query.

    This is the shrink-the-vectors storage/speed lever (complementing
    int8 quantization and PQ): a 4x dimension cut divides scan cost and
    memory by 4, and the recall column is the number that decides
    whether the cheap index serves first-stage retrieval. Both scoring
    passes broadcast the bounded query set against the corpus (the
    declared exact-baseline shape); prefix cosine uses the same
    unrolled left-associated chain at MRL_DIM, so the DuckDB oracle
    replays it exactly.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw)
    # broadcast side — stripe raw, no scatter Exchange inside the
    # broadcast build. The stripe feeds BOTH scoring passes — unpinned,
    # each was its own full-corpus stripe scan. Bounded (~QUERY_TARGET
    # rows): pin it.
    q = query_stripe(raw, raw).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).transform(pin)
    full = cosine_topk(e, q, TOP_K, dim=EMB_DIM).select(
        "query_id", F.col("vec_id").alias("full_vec")
    )
    joined = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    tcos = _cos("qvec", "embedding", MRL_DIM)
    tw = Window.partitionBy("query_id").orderBy(F.desc("_tcos"), F.asc("vec_id"))
    trunc = (
        joined.select("query_id", "vec_id", tcos.alias("_tcos"))
        .withColumn("rank", F.row_number().over(tw))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("trunc_vec"))
    )
    return (
        full.join(
            trunc,
            (full["query_id"] == trunc["query_id"])
            & (full["full_vec"] == trunc["trunc_vec"]),
            "left",
        )
        .groupBy(full["query_id"].alias("query_id"))
        .agg(F.count("trunc_vec").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.expr(f"n_overlap * 1000 div {TOP_K}").alias("recall_permille"),
        )
        .orderBy("query_id")
    )


def emb_matryoshka_sql() -> str:
    def cosd(a: str, b: str, dim: int) -> str:
        return (
            f"{X.dk_fold_dot(a, b, dim)} / "
            f"(sqrt({X.dk_fold_dot(a, a, dim)}) * sqrt({X.dk_fold_dot(b, b, dim)}))"
        )

    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {query_stripe_sql()}
    ), fullr AS (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   {cosd('q.qvec', 'e.embedding', EMB_DIM)} DESC, e.vec_id) AS rank
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ), full_top AS (
        SELECT query_id, vec_id FROM fullr WHERE rank <= {TOP_K}
    ), truncr AS (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   {cosd('q.qvec', 'e.embedding', MRL_DIM)} DESC, e.vec_id) AS rank
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ), trunc_top AS (
        SELECT query_id, vec_id FROM truncr WHERE rank <= {TOP_K}
    )
    SELECT f.query_id, count(t.vec_id)::bigint AS n_overlap,
           (count(t.vec_id) * 1000 // {TOP_K})::bigint AS recall_permille
    FROM full_top f LEFT JOIN trunc_top t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id
    GROUP BY f.query_id ORDER BY f.query_id
    """


# --------------------------------------------------------------------------
# binary (sign-bit) embedding codes + hamming retrieval
# --------------------------------------------------------------------------

def _sign_word_expr(vec: str, lo: int) -> str:
    """32 sign bits (dims lo..lo+31, 1-based) as a non-negative bigint."""
    bits = [
        f"CASE WHEN cast(element_at({vec}, {lo + j}) as double) > 0"
        f" THEN cast({1 << j} as bigint) ELSE cast(0 as bigint) END"
        for j in range(32)
    ]
    return "(" + " + ".join(bits) + ")"


def emb_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary embedding retrieval — the 64x compression endpoint of the
    vector-shrinking family (int8 = 4x, PQ = 32x, MRL prefix = 4x):
    each vector becomes its 64 sign bits, packed into two 32-bit words,
    and similarity is the integer hamming distance (two XOR+popcount
    ops per pair — the reason binary codes serve first-stage retrieval
    at billions of vectors).

    Codes are map-side unrolled chains (codegen); the query set
    broadcasts against the corpus codes (the declared exact-baseline
    shape; the scale path buckets on code prefixes exactly like
    mm_phash_neardup's banding). All-integer, so the DuckDB oracle is
    arithmetic-identical with no float caveats.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).select(
        "vec_id",
        F.expr(_sign_word_expr("embedding", 1)).alias("w_lo"),
        F.expr(_sign_word_expr("embedding", 33)).alias("w_hi"),
    )
    q = query_stripe(e, raw).select(
        F.col("vec_id").alias("query_id"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    ham = F.expr("bit_count(w_lo ^ q_lo) + bit_count(w_hi ^ q_hi)")
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    return (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ham.cast("int").alias("hamming"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def emb_binary_hamming_sql() -> str:
    def word(vec: str, lo: int) -> str:
        bits = " + ".join(
            f"CASE WHEN {vec}[{lo + j}]::double > 0"
            f" THEN {1 << j}::bigint ELSE 0::bigint END"
            for j in range(32)
        )
        return "(" + bits + ")"

    return f"""
    WITH codes AS (
        SELECT vec_id,
               {word('embedding', 1)} AS w_lo,
               {word('embedding', 33)} AS w_hi
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi
        FROM codes WHERE {query_stripe_sql()}
    ), scored AS (
        SELECT q.query_id, c.vec_id,
               (bit_count(xor(c.w_lo, q.q_lo))
                + bit_count(xor(c.w_hi, q.q_hi)))::int AS hamming
        FROM codes c, q WHERE c.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id, hamming,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, hamming, rank::int AS rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


# --------------------------------------------------------------------------
# label purity of the embedding space (representation-quality metric)
# --------------------------------------------------------------------------

PURITY_K = 5


def emb_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity@k of the embedding space — the representation-
    quality sanity metric (do nearest neighbors share the query's
    label?) run before trusting embeddings for clustering or dedup.

    Neighbors come from the BINARY sign-bit codes (emb_binary_hamming's
    two packed words): integer XOR+popcount distance makes the all-
    pairs scoring a codegen-able integer pass, and ties break
    deterministically on vec_id. Per-label purity aggregates the
    per-vector neighbor votes in integer permille; the 1-row overall
    summary rides along as label='∅all'.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).select(
        "vec_id",
        "label",
        F.expr(_sign_word_expr("embedding", 1)).alias("w_lo"),
        F.expr(_sign_word_expr("embedding", 33)).alias("w_hi"),
    )
    # bounded probe set (the derived-modulus id-stripe discipline)
    q = query_stripe(e, raw).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    ham = F.expr("bit_count(w_lo ^ q_lo) + bit_count(w_hi ^ q_hi)")
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    votes = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            "vec_id",
            (F.col("label") == F.col("q_label")).cast("long").alias("same"),
            ham.cast("int").alias("hamming"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PURITY_K)
        .groupBy("query_id", "q_label")
        .agg(F.sum("same").alias("n_same"))
        # votes feeds the per-label AND overall aggregates — unpinned,
        # the corpus kNN join + window ran twice. Bounded at |stripe|
        # rows: pin it.
        .transform(pin)
    )
    per_label = votes.groupBy(F.col("q_label").cast("string").alias("label")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_same").alias("n_same"),
    )
    overall = votes.groupBy().agg(
        F.count(F.lit(1)).alias("n_queries"), F.sum("n_same").alias("n_same")
    ).select(F.lit("∅all").alias("label"), "n_queries", "n_same")
    return (
        per_label.unionByName(overall)
        .withColumn(
            "purity_permille",
            F.expr(f"n_same * 1000 div (n_queries * {PURITY_K})"),
        )
        .orderBy("label")
    )


def emb_label_purity_sql() -> str:
    def word(vec: str, lo: int) -> str:
        bits = " + ".join(
            f"CASE WHEN {vec}[{lo + j}]::double > 0"
            f" THEN {1 << j}::bigint ELSE 0::bigint END"
            for j in range(32)
        )
        return "(" + bits + ")"

    return f"""
    WITH codes AS (
        SELECT vec_id, label,
               {word('embedding', 1)} AS w_lo,
               {word('embedding', 33)} AS w_hi
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, label AS q_label,
               w_lo AS q_lo, w_hi AS q_hi
        FROM codes WHERE {query_stripe_sql()}
    ), ranked AS (
        SELECT q.query_id, q.q_label,
               CASE WHEN c.label = q.q_label THEN 1 ELSE 0 END AS same,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY bit_count(xor(c.w_lo, q.q_lo))
                            + bit_count(xor(c.w_hi, q.q_hi)), c.vec_id)
                   AS rank
        FROM codes c, q WHERE c.vec_id <> q.query_id
    ), votes AS (
        SELECT query_id, q_label, sum(same)::bigint AS n_same
        FROM ranked WHERE rank <= {PURITY_K}
        GROUP BY query_id, q_label
    ), per_label AS (
        SELECT q_label::varchar AS label, count(*)::bigint AS n_queries,
               sum(n_same)::bigint AS n_same
        FROM votes GROUP BY q_label
        UNION ALL
        SELECT '∅all', count(*)::bigint, sum(n_same)::bigint FROM votes
    )
    SELECT label, n_queries, n_same,
           (n_same * 1000 // (n_queries * {PURITY_K}))::bigint
               AS purity_permille
    FROM per_label ORDER BY label
    """


# --------------------------------------------------------------------------
# top principal direction via fixed-iteration power method
# --------------------------------------------------------------------------

PCA_POWER_ITERS = 2


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by the power
    method on the (uncentered) Gram matrix — the representation-
    collapse diagnostic (one direction soaking up the variance says the
    embeddings have degenerated) and the first step of any spectral
    whitening/compression pass, expressed as pure DataFrame ops.

    Determinism (so a SQL oracle can replay it): the start vector is
    the constant unit vector (every component 1/8 at EMB_DIM=64),
    exactly PCA_POWER_ITERS multiply-normalize rounds, no centering.
    Per iteration: s_i = <x_i, v> is an unrolled left-associated fold
    (codegen) against the 1-row broadcast v; u_j = sum_i s_i * x_ij is
    EMB_DIM partial aggregates collapsing map-side into ONE row (the
    emb_centroids explosion-free pattern — never a 64x posexplode of
    the corpus); v' = u/||u|| stays a 1-row array. Nothing touches the
    driver; each iteration reads the corpus once. The eigenvalue
    estimate is ||u|| of the final round (v entering it is unit).
    """
    raw = load_table(spark, sf_dir, "embeddings")
    # persist the scattered projection once before the loop: every
    # power iteration reads `e`, and without the cache each iteration
    # re-ran the parquet scan and scatter()'s full-corpus repartition.
    # persist, not pin, keeps lineage, so lost blocks are recomputed;
    # iteration 1 fills the cache, later iterations read it.
    e = (
        scatter(spark, raw)
        .select(F.col("embedding").cast("array<double>").alias("e"))
        .persist()
    )
    v0 = "array(" + ", ".join(["cast(1.0/8.0 as double)"] * EMB_DIM) + ")"
    vdf = spark.range(1).select(F.expr(v0).alias("v"))
    # every per-dimension expression is assembled as ONE selectExpr
    # string, not EMB_DIM Column objects: the Column form cost ~190 py4j
    # round-trips per iteration (~1.3 s of driver time each). Same
    # expressions, same plan.
    nrm_expr = (
        "sqrt(" + " + ".join(f"u{j} * u{j}" for j in range(EMB_DIM)) + ")"
    )
    varr_expr = (
        "array(" + ", ".join(f"u{j} / nrm" for j in range(EMB_DIM)) + ")"
    )
    for _ in range(PCA_POWER_ITERS):
        scored = e.crossJoin(F.broadcast(vdf.select("v"))).select(
            "e", F.expr(X.sp_fold_dot("e", "v", EMB_DIM)).alias("s")
        )
        u = scored.selectExpr(
            *[f"sum(s * e[{j}]) AS u{j}" for j in range(EMB_DIM)]
        )
        vdf = (
            u.selectExpr("*", f"{nrm_expr} AS nrm")
            .selectExpr(f"{varr_expr} AS v", "nrm")
            # plan barrier between iterations (the emb_kmeans pattern):
            # without it projection collapse inlines the 64-term norm
            # into every array slot and the next round's fold multiplies
            # the expression tree again — the optimizer OOMs before any
            # job runs.
            .transform(pin)
        )
    return (
        vdf.select(F.posexplode("v").alias("pos", "loading"), "nrm")
        # nrm is non-NULL on any nonempty corpus (embeddings are dense),
        # so this filter is vacuous except on EMPTY input, where the
        # global-agg chain leaves a NULL norm and 64 NULL loadings that
        # the oracle's group-by-of-nothing never emits — the r11
        # empty-allowlist shape retired by this formulation.
        .where(F.col("nrm").isNotNull())
        .select(
            F.col("pos").cast("int").alias("pos"),
            F.round("loading", 6).alias("loading"),
            F.round("nrm", 6).alias("eigenvalue"),
        )
        .orderBy("pos")
    )


def emb_pca_power_sql() -> str:
    v0 = ", ".join(["(1.0/8.0)::double"] * EMB_DIM)
    return f"""
    WITH e AS (
        SELECT list_transform(embedding, x -> x::double) AS e FROM embeddings
    ), v0 AS (
        SELECT j, ([{v0}])[j] AS vj
        FROM unnest(generate_series(1, {EMB_DIM})) AS g(j)
    ), s1 AS (
        SELECT e, (SELECT sum(e[v.j] * v.vj) FROM v0 v) AS s FROM e
    ), u1 AS (
        SELECT j, sum(s * e[j]) AS uj
        FROM s1, unnest(generate_series(1, {EMB_DIM})) AS g(j)
        GROUP BY j
    ), n1 AS (
        SELECT sqrt(sum(uj * uj)) AS nrm FROM u1
    ), v1 AS (
        SELECT j, uj / (SELECT nrm FROM n1) AS vj FROM u1
    ), s2 AS (
        SELECT e.e, (SELECT sum(e.e[v.j] * v.vj) FROM v1 v) AS s FROM e
    ), u2 AS (
        SELECT j, sum(s * e[j]) AS uj
        FROM s2, unnest(generate_series(1, {EMB_DIM})) AS g(j)
        GROUP BY j
    ), n2 AS (
        SELECT sqrt(sum(uj * uj)) AS nrm FROM u2
    )
    SELECT (j - 1)::int AS pos,
           round(uj / (SELECT nrm FROM n2), 6) AS loading,
           round((SELECT nrm FROM n2), 6) AS eigenvalue
    FROM u2 ORDER BY pos
    """


# --------------------------------------------------------------------------
# diagonal-Mahalanobis embedding outliers (corpus-hygiene diagnostic)
# --------------------------------------------------------------------------

OUTLIER_Z2 = 96.0  # sum of 64 squared z-scores; chi2(64) mean is 64


def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector diagonal-Mahalanobis outlier score: standardize every
    dimension by the corpus mean/std, report the squared-z sum and an
    outlier verdict — the cheap embedding-hygiene pass (dead encoders,
    corrupted rows, wrong-modality vectors land in the tail) run before
    trusting a corpus for clustering/dedup/retrieval.

    Moments use EXPLICIT sums (sx, sxx, n -> sd = sqrt((sxx - sx^2/n) /
    (n-1))) rather than a builtin stddev, so both engines compose the
    same arithmetic from the same per-dim sums. Scale shape: EMB_DIM x
    2 map-side partial aggregates collapse to ONE stats row (the
    emb_centroids explosion-free pattern), the mu/sd arrays broadcast
    back, and the per-vector score is an unrolled left-associated
    64-term chain inside codegen. The plan reads the corpus twice, each
    read behind its own round-robin exchange: once for the stats row
    and once for the scores. The two reads project different columns,
    so AQE cannot reuse one exchange for both.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    stats = e.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[F.sum(F.col("e").getItem(j)).alias(f"sx{j}") for j in range(EMB_DIM)],
        *[
            F.sum(F.col("e").getItem(j) * F.col("e").getItem(j)).alias(f"sxx{j}")
            for j in range(EMB_DIM)
        ],
    )
    mu = F.array(*[F.col(f"sx{j}") / F.col("n") for j in range(EMB_DIM)])
    # a dimension's std is undefined with n < 2 or zero deviation: NULL
    # element, which NULL-propagates through the z² chain to a NULL
    # score in BOTH engines — never an ANSI crash. At n = 1 the
    # discriminant is exactly 0 (single term, no summation-order
    # dependence).
    sd = F.array(
        *[
            F.when(
                (F.col("n") >= 2)
                & (
                    F.col(f"sxx{j}")
                    - F.col(f"sx{j}") * F.col(f"sx{j}") / F.col("n")
                    > 0
                ),
                F.sqrt(
                    (
                        F.col(f"sxx{j}")
                        - F.col(f"sx{j}") * F.col(f"sx{j}") / F.col("n")
                    )
                    / (F.col("n") - 1)
                ),
            )
            for j in range(EMB_DIM)
        ]
    )
    musd = F.broadcast(stats.select(mu.alias("mu"), sd.alias("sd")))
    term = (
        "((element_at(e, {i}) - element_at(mu, {i})) / element_at(sd, {i}))"
        " * ((element_at(e, {i}) - element_at(mu, {i})) / element_at(sd, {i}))"
    )
    z2 = "(" + " + ".join(term.format(i=i) for i in range(1, EMB_DIM + 1)) + ")"
    return (
        e.crossJoin(musd)
        .select(
            "vec_id",
            F.round(F.expr(z2), 6).alias("z2"),
            # compare on the ROUNDED value: the raw sum's last ulps
            # depend on partition merge order, and a vector straddling
            # the threshold would flip the boolean across engines/runs
            (F.round(F.expr(z2), 6) > OUTLIER_Z2).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


def emb_outlier_zscore_sql() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> x::double) AS e
        FROM embeddings
    ), dims AS (
        SELECT j, sum(e[j]) AS sx, sum(e[j] * e[j]) AS sxx,
               count(*)::double AS n
        FROM e, unnest(generate_series(1, {EMB_DIM})) AS g(j)
        GROUP BY j
    ), lists AS (
        SELECT list(sx / n ORDER BY j) AS mu,
               list(CASE WHEN n >= 2 AND (sxx - sx * sx / n) > 0 THEN
                        sqrt((sxx - sx * sx / n) / (n - 1)) END
                    ORDER BY j) AS sd
        FROM dims
    ), scored AS (
        SELECT vec_id,
               list_reduce(list_transform(generate_series(1, {EMB_DIM}),
                   j -> ((e.e[j] - l.mu[j]) / l.sd[j])
                        * ((e.e[j] - l.mu[j]) / l.sd[j])),
                   (x, y) -> x + y) AS z2
        FROM e, lists l
    )
    SELECT vec_id, round(z2, 6) AS z2, round(z2, 6) > {OUTLIER_Z2} AS is_outlier
    FROM scored ORDER BY vec_id
    """


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (sign matrix, norm distortion)
# --------------------------------------------------------------------------

JL_OUT_DIM = 8  # projected dimensionality (64 -> 8, 8x compression)


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix [JL_OUT_DIM][EMB_DIM] from md5
    parity — generated once in Python and baked as literals into BOTH
    engines' expression text, so cross-engine agreement is by
    construction (no engine hash in the hot path)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl:{j}:{i}".encode()).digest()[-1] % 2 == 0 else -1
            for i in range(EMB_DIM)
        ]
        for j in range(JL_OUT_DIM)
    ]


def _jl_chain(col: str, signs: list[int], *, dk: bool) -> str:
    """±element_at chain for one output dim — pure add/subtract, fully
    inside whole-stage codegen (no lambda fold)."""
    terms = []
    for i, s in enumerate(signs, start=1):
        ref = f"{col}[{i}]::double" if dk else f"cast(element_at({col}, {i}) as double)"
        terms.append(f"{'+' if s > 0 else '-'} {ref}")
    return "(0.0 " + " ".join(terms) + ")"


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign-matrix projection (64 -> 8 dims) with
    per-vector norm-distortion audit — the dimensionality-reduction
    step in front of ANN indexing at 100 TB, where storing full-width
    vectors for the coarse index is the cost driver, plus the check
    that the projection preserved geometry (E[||y||^2 · d / k] =
    ||x||^2 for a ±1 matrix).

    Entirely map-side: the ±1 matrix is Python-literal constants
    compiled into 8 add/subtract chains (no broadcast, no lambda
    folds, no shuffle before the final sort); distortion is
    (||y||^2 · d) / (k · ||x||^2). One corpus read per vector row.
    """
    signs = _jl_signs()
    e = scatter(spark, load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").alias("e")
    )
    chains = [_jl_chain("e", row, dk=False) for row in signs]
    norm_out = "(" + " + ".join(f"{c} * {c}" for c in chains) + ")"
    norm_in = "(" + " + ".join(
        f"cast(element_at(e, {i}) as double) * cast(element_at(e, {i}) as double)"
        for i in range(1, EMB_DIM + 1)
    ) + ")"
    return (
        e.select(
            "vec_id",
            F.round(F.expr(norm_in), 6).alias("norm_in"),
            F.round(F.expr(norm_out), 6).alias("norm_out"),
            F.round(
                F.expr(
                    f"case when {norm_in} = 0.0 then null else "
                    f"{norm_out} * {EMB_DIM}.0 / ({JL_OUT_DIM}.0 * {norm_in}) end"
                ),
                6,
            ).alias("distortion"),
        )
        .orderBy("vec_id")
    )


def emb_random_projection_sql() -> str:
    signs = _jl_signs()
    chains = [_jl_chain("e", row, dk=True) for row in signs]
    y_cols = ", ".join(f"{c} AS y{j}" for j, c in enumerate(chains))
    norm_out = "(" + " + ".join(f"y{j} * y{j}" for j in range(JL_OUT_DIM)) + ")"
    norm_in = "(" + " + ".join(
        f"e[{i}]::double * e[{i}]::double" for i in range(1, EMB_DIM + 1)
    ) + ")"
    return f"""
    WITH base AS (
        SELECT vec_id, embedding AS e FROM embeddings
    ), proj AS (
        SELECT vec_id, {norm_in} AS ni, {y_cols} FROM base
    )
    SELECT vec_id,
           round(ni, 6) AS norm_in,
           round({norm_out}, 6) AS norm_out,
           round(CASE WHEN ni = 0.0 THEN NULL
                      ELSE {norm_out} * {EMB_DIM}.0
                           / ({JL_OUT_DIM}.0 * ni) END, 6) AS distortion
    FROM proj ORDER BY vec_id
    """


# --------------------------------------------------------------------------
# kNN pseudo-labeling (semi-supervised label propagation over buckets)
# --------------------------------------------------------------------------

KNN_LABEL_K = 3


def corpus_knn_pseudo_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised pseudo-labeling with a built-in accuracy audit:
    the even-id half of the corpus keeps its trusted label, every
    odd-id vector takes the majority label of its K nearest SAME-BUCKET
    labeled neighbors (hyperplane LSH buckets, exact cosine rank inside
    the bucket), and the held-back true label scores the result — the
    data-labeling loop (label a seed set, propagate, audit) that turns
    an embedding corpus into training data.

    Scale shape: the unlabeled side is HALF THE CORPUS, so unlike the
    bounded-query ANN ops nothing broadcasts — candidates come from a
    bucket-key shuffle equijoin (both sides partitioned by bucket), the
    top-K rank windows on query_id (WindowGroupLimit prunes per
    partition), and the vote is a (query, label) count argmax via
    min(struct). Unlabeled vectors with no same-bucket labeled
    neighbor are reported with a NULL pseudo-label via the final left
    join (at production bucket widths that sliver feeds a second,
    wider-probe pass).
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).withColumn("bucket", F.expr(_bucket_expr("embedding")))
    labeled = e.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nvec"),
        F.col("label").alias("nbr_label"),
        "bucket",
    )
    unlabeled = e.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("true_label"),
        F.col("bucket").alias("qbucket"),
    )
    cos = _cos("qvec", "nvec", EMB_DIM)
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("nbr_id"))
    topk = (
        unlabeled.join(labeled, F.col("qbucket") == F.col("bucket"))
        .select("query_id", "nbr_id", "nbr_label", cos.alias("_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_LABEL_K)
    )
    votes = (
        topk.groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_votes").alias("c"), (-F.col("nbr_label")).alias("nl")
                )
            ).alias("m")
        )
        .select(
            "query_id",
            (-F.col("m.nl")).alias("pseudo_label"),
            F.col("m.c").alias("n_votes"),
        )
    )
    return (
        unlabeled.select("query_id", "true_label")
        .join(votes, "query_id", "left")
        .select(
            "query_id",
            "true_label",
            "pseudo_label",
            F.coalesce(F.col("n_votes"), F.lit(0)).alias("n_votes"),
            (F.col("pseudo_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


def emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening (mean-center + unit-variance scale) of
    the embedding column — the preprocessing step that makes cosine /
    dot-product retrieval comparable across dimensions with wildly
    different scales (and the diagonal special case of ZCA whitening).

    The 64 per-dimension (mean, sd) stats are ONE pass of 128 JVM-side
    partial aggregates over the unexploded rows (the emb_centroids
    idiom — no 64× posexplode shuffle), broadcast back as a 1-row
    table resolved inside the plan. Output is the per-vector whitened
    L2 norm² and max |w| (the audit columns a retrieval deployment
    tracks), rounded once; the corpus never explodes.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stats = F.broadcast(
        emb.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                a
                for i in range(EMB_DIM)
                for a in (
                    F.sum(F.col("embedding").getItem(i).cast("double")).alias(f"sx{i}"),
                    F.sum(
                        F.col("embedding").getItem(i).cast("double")
                        * F.col("embedding").getItem(i).cast("double")
                    ).alias(f"sxx{i}"),
                )
            ],
        )
    )
    def w(i: int) -> str:
        mu = f"(sx{i} / n)"
        sd = f"sqrt((sxx{i} - sx{i} * sx{i} / n) / (n - 1.0))"
        return f"((cast(embedding[{i}] as double) - {mu}) / {sd})"

    norm2 = " + ".join(f"{w(i)} * {w(i)}" for i in range(EMB_DIM))
    wmax = "greatest(" + ", ".join(f"abs({w(i)})" for i in range(EMB_DIM)) + ")"
    # whitening is undefined with n < 2 or ANY zero-deviation dimension
    # (round-10 single-row probe): ONE whole-row guard via least() over
    # the 64 discriminants, evaluated BEFORE any division — NULL audit
    # columns, not an ANSI crash; identical guard both engines
    wdef = (
        "(n >= 2 AND least("
        + ", ".join(f"(sxx{i} - sx{i} * sx{i} / n)" for i in range(EMB_DIM))
        + ") > 0)"
    )
    return (
        emb.crossJoin(stats)
        .selectExpr(
            "vec_id",
            f"CASE WHEN {wdef} THEN round({norm2}, 6) END AS w_norm2",
            f"CASE WHEN {wdef} THEN round({wmax}, 6) END AS w_absmax",
        )
        .orderBy("vec_id")
    )


def emb_whitening_sql() -> str:
    stat_cols = ", ".join(
        f"sum(embedding[{i + 1}]::DOUBLE) AS sx{i}, "
        f"sum(embedding[{i + 1}]::DOUBLE * embedding[{i + 1}]::DOUBLE) AS sxx{i}"
        for i in range(EMB_DIM)
    )

    def w(i: int) -> str:
        mu = f"(sx{i} / n)"
        sd = f"sqrt((sxx{i} - sx{i} * sx{i} / n) / (n - 1.0))"
        return f"((embedding[{i + 1}]::DOUBLE - {mu}) / {sd})"

    norm2 = " + ".join(f"{w(i)} * {w(i)}" for i in range(EMB_DIM))
    wmax = "greatest(" + ", ".join(f"abs({w(i)})" for i in range(EMB_DIM)) + ")"
    wdef = (
        "(n >= 2 AND least("
        + ", ".join(f"(sxx{i} - sx{i} * sx{i} / n)" for i in range(EMB_DIM))
        + ") > 0)"
    )
    return f"""
    WITH stats AS (
        SELECT count(*)::BIGINT AS n, {stat_cols} FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN {wdef} THEN round({norm2}, 6) END AS w_norm2,
           CASE WHEN {wdef} THEN round({wmax}, 6) END AS w_absmax
    FROM embeddings CROSS JOIN stats
    ORDER BY vec_id
    """


DIST_HIST_STRIDES = [1, 7, 49]
DIST_HIST_BINS = 20


def emb_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution audit over deterministic stride
    pairs (i, i+1), (i, i+7), (i, i+49) — the embedding-collapse /
    anisotropy diagnostic: a healthy space shows a broad similarity
    histogram, a collapsed one piles up near 1. Three shifted
    integer-key EQUIJOINS give ~3n bounded pairs (never all-pairs);
    the cosine is the unrolled fixed-dim fold (exact cross-engine) and
    the histogram is a 20-bin floor bucketing of ROUNDED similarity.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # the three stride equijoins each scanned the corpus twice (6 scans,
    # 3 joins). One exploded shifted-probe side (3 rows per vector,
    # stride-tagged) turns them into ONE equijoin on vec_id — 2 scans,
    # one join; the per-pair cosine expression and the (stride, pair)
    # multiset are unchanged.
    shifted = ", ".join(
        f"struct(vec_id - {k} AS vec_id, {k} AS stride)"
        for k in DIST_HIST_STRIDES
    )
    probes = e.selectExpr(
        f"inline(array({shifted}))", "embedding AS eb"
    )
    pairs = (
        e.alias("a")
        .join(probes, "vec_id")
        .selectExpr(
            "stride",
            f"round({X.sp_fold_dot('embedding', 'eb', EMB_DIM)} "
            f"/ (sqrt({X.sp_fold_dot('embedding', 'embedding', EMB_DIM)}) "
            f"* sqrt({X.sp_fold_dot('eb', 'eb', EMB_DIM)})), 6) AS cos",
        )
    )
    binned = pairs.selectExpr(
        "stride",
        f"least({DIST_HIST_BINS - 1}, greatest(0, "
        f"cast(floor((cos + 1.0) / 2.0 * {DIST_HIST_BINS}) as int))) AS bin",
    )
    return (
        binned.groupBy("stride", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("stride", "bin")
    )


def emb_distance_histogram_sql() -> str:
    sel = []
    for k in DIST_HIST_STRIDES:
        sel.append(f"""
        SELECT {k} AS stride,
               round({X.dk_fold_dot('a.embedding', 'b.embedding', EMB_DIM)}
                     / (sqrt({X.dk_fold_dot('a.embedding', 'a.embedding', EMB_DIM)})
                        * sqrt({X.dk_fold_dot('b.embedding', 'b.embedding', EMB_DIM)})), 6)
                   AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + {k}
        """)
    u = " UNION ALL ".join(sel)
    return f"""
    WITH pairs AS ({u}),
    binned AS (
        SELECT stride,
               least({DIST_HIST_BINS - 1}, greatest(0,
                   floor((cos + 1.0) / 2.0 * {DIST_HIST_BINS})::INT)) AS bin
        FROM pairs
    )
    SELECT stride, bin, count(*)::BIGINT AS n_pairs
    FROM binned GROUP BY 1, 2 ORDER BY stride, bin
    """


# --------------------------------------------------------------------------
# hubness diagnostic (k-occurrence skew of the neighbor graph)
# --------------------------------------------------------------------------

def emb_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness diagnostic over the exact top-k neighbor lists: the
    k-occurrence histogram — for each count k, how many vectors appear
    in exactly k of the query stripe's top-K lists. High-dimensional
    embedding spaces concentrate retrievals onto a few "hub" vectors
    (k-occurrence distribution skews right); this table is the standard
    audit before trusting nearest-neighbor pseudo-labels or dedup
    verdicts built on those lists.

    Composes sim_search_bruteforce (bounded query stripe × corpus, the
    declared exact baseline): one groupBy(vec_id) over its K×|stripe|
    output rows, one bounded re-agg to the histogram, the stripe size
    on a 1-row broadcast. Integers end-to-end.
    """
    # bf feeds BOTH the occurrence aggregation and the n_queries count;
    # without a pin the ENTIRE bruteforce composition (corpus scan,
    # broadcast scoring, top-k window) executed twice — the plan held
    # two copies of the subtree. bf is bounded at K x |stripe| (~40)
    # rows at ANY corpus size, so the lazy checkpoint is a constant-size
    # artifact.
    bf = (
        sim_search_bruteforce(spark, sf_dir)
        .select("query_id", "vec_id")
        .transform(pin)
    )
    nq = F.broadcast(
        bf.agg(F.countDistinct("query_id").alias("n_queries"))
    )
    occ = bf.groupBy("vec_id").agg(F.count(F.lit(1)).alias("k_occ"))
    return (
        occ.groupBy("k_occ")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("example_vec"),
        )
        .crossJoin(nq)
        .select(
            F.col("k_occ").cast("bigint").alias("k_occurrence"),
            "n_vectors",
            "example_vec",
            "n_queries",
        )
        .orderBy("k_occurrence")
    )


# --------------------------------------------------------------------------
# embedding isotropy audit (one-pass, no pair enumeration)
# --------------------------------------------------------------------------

def emb_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space in ONE unexploded pass:
    the exact mean pairwise cosine over all n(n−1)/2 pairs of
    normalized vectors via the sum-vector identity
    E[cos] = (‖Σu‖² − n) / (n(n−1)) — no pair join EXISTS in the plan —
    plus the per-dimension variance spread (max/min ratio) of the
    normalized components. Anisotropic ("cone-shaped") embedding spaces
    break cosine thresholds and IVF cell balance; this is the audit
    run before trusting dedup_embedding_cosine / sim_search_* settings.

    64 JVM-side partial aggregates (the emb_centroids idiom) build the
    sum vector and per-dim moments map-side; the row norm is the
    unrolled fixed-dim fold shared with every similarity oracle.
    """
    dot = X.sp_fold_dot("embedding", "embedding", EMB_DIM)
    e = scatter(spark, load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", F.expr(f"sqrt({dot})")
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(1, EMB_DIM + 1):
        u = f"(embedding[{i - 1}] / nrm)"
        aggs.append(F.expr(f"sum({u})").alias(f"s{i}"))
        aggs.append(F.expr(f"sum({u} * {u})").alias(f"ss{i}"))
    g = e.agg(*aggs)
    ssq = " + ".join(f"s{i} * s{i}" for i in range(1, EMB_DIM + 1))
    vars_ = [
        f"(ss{i} / n - (s{i} / n) * (s{i} / n))" for i in range(1, EMB_DIM + 1)
    ]
    vmax = "greatest(" + ", ".join(vars_) + ")"
    vmin = "least(" + ", ".join(vars_) + ")"
    # no pairs with n < 2 (the identity divides by n(n−1)); the ratio
    # needs a strictly positive min variance (exactly 0 at n = 1 — a
    # single normalized vector has zero spread in every dim). Round-10
    # single-row probe: NULL, not an ANSI crash; both engines.
    # "+ 0.0" drops the IEEE -0.0 a tiny negative variance residue
    # leaves after DuckDB's sign-preserving round() (round-11 all-ties
    # axis: identical vectors); the ratio guard compares the ROUNDED
    # min variance (repo float rule) so an engine-dependent residue
    # sign can't define the ratio on one engine only.
    return g.selectExpr(
        "n AS n_vectors",
        f"CASE WHEN n >= 2 THEN "
        f"round((({ssq}) - n) / (n * (n - 1.0)), 6) END AS mean_pairwise_cos",
        f"round({vmax}, 6) + 0.0 AS dim_var_max",
        f"round({vmin}, 6) + 0.0 AS dim_var_min",
        f"CASE WHEN round({vmin}, 6) > 0 THEN "
        f"round({vmax} / {vmin}, 2) END AS dim_var_ratio",
    )


def emb_isotropy_sql() -> str:
    dot = X.dk_fold_dot("embedding", "embedding", EMB_DIM)
    cols = []
    for i in range(1, EMB_DIM + 1):
        u = f"(embedding[{i}]::DOUBLE / nrm)"
        cols.append(f"sum({u}) AS s{i}")
        cols.append(f"sum({u} * {u}) AS ss{i}")
    ssq = " + ".join(f"s{i} * s{i}" for i in range(1, EMB_DIM + 1))
    vars_ = [
        f"(ss{i} / n - (s{i} / n) * (s{i} / n))" for i in range(1, EMB_DIM + 1)
    ]
    vmax = "greatest(" + ", ".join(vars_) + ")"
    vmin = "least(" + ", ".join(vars_) + ")"
    return f"""
    WITH e AS (
        SELECT embedding, sqrt({dot}) AS nrm FROM embeddings
    ), g AS (
        SELECT count(*)::BIGINT AS n, {", ".join(cols)} FROM e
    )
    SELECT n AS n_vectors,
           CASE WHEN n >= 2 THEN
               round((({ssq}) - n) / (n * (n - 1.0)), 6)
           END AS mean_pairwise_cos,
           round({vmax}, 6) + 0.0 AS dim_var_max,
           round({vmin}, 6) + 0.0 AS dim_var_min,
           CASE WHEN round({vmin}, 6) > 0 THEN
               round({vmax} / {vmin}, 2) END AS dim_var_ratio
    FROM g
    """


def emb_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example triplet mining over the labeled embedding corpus:
    for each bounded-stripe anchor, the HARDEST POSITIVE (same-label
    vector with the LOWEST cosine) and the HARDEST NEGATIVE (different-
    label vector with the HIGHEST cosine), the triplet margin, and the
    violation flag (negative at least as close as positive) — the
    mining pass that feeds contrastive/metric-learning fine-tuning.

    Scale shape: the anchor set broadcasts (sim_search_bruteforce's
    bounded stripe), the corpus never shuffles; extremum cosines come
    from ONE map-side conditional min/max per anchor, and the witness
    ids from a join-back on FLOOR-micro-unit cosine equality (floor of
    the same unrolled left-fold dot product is exact and
    engine-identical — round(...,6) was exposed to the Spark/DuckDB
    round-half-boundary class) with min(vec_id) as the tie-break. Two corpus
    passes total, no window over the broadcast product. NULL rule: a
    NULL label is neither a positive nor a negative (dropped from both
    sides, both engines).
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).where(F.col("label").isNotNull())
    # broadcast side — stripe the raw (filtered) relation, no
    # scatter Exchange inside the broadcast build.
    q = query_stripe(
        raw.where(F.col("label").isNotNull()), raw
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("alabel"),
    )
    cand = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "alabel",
            "vec_id",
            (F.col("label") == F.col("alabel")).alias("is_pos"),
            # FLOOR micro-units, not round(...,6): floor on a double is
            # exact and engine-identical, so the witness identity and
            # the emitted extremum cosines can never hit the
            # round-half-boundary class (repo round-boundary rule)
            F.floor(_cos("qvec", "embedding", EMB_DIM) * 1_000_000)
            .cast("bigint")
            .alias("c6u"),
        )
    )
    # r12 (guide §2.4/§1.2 — don't compute things twice): extremum AND
    # witness id collapse into ONE aggregation via min/max-of-struct.
    # min(struct(c6u, vec_id)) over positives = (lowest cosine, then
    # lowest vec_id among its ties) — exactly the old pos_u + the
    # join-back's min(vec_id) witness; max(struct(c6u, -vec_id)) over
    # negatives = (highest cosine, then lowest vec_id among ties, as
    # -vec_id maximizes where vec_id minimizes). The previous shape ran
    # the expensive broadcast-cosine pass TWICE (once for extrema, once
    # for the witness join-back) plus two broadcast joins; rows emitted
    # are value-identical (NULL extremum ⇒ NULL witness, both forms),
    # so the DuckDB oracle is unchanged.
    ext = cand.groupBy("query_id", "alabel").agg(
        F.min(
            F.when(
                F.col("is_pos"),
                F.struct(F.col("c6u").alias("c6u"), F.col("vec_id").alias("vid")),
            )
        ).alias("p"),
        F.max(
            F.when(
                ~F.col("is_pos"),
                F.struct(F.col("c6u").alias("c6u"), (-F.col("vec_id")).alias("nv")),
            )
        ).alias("n"),
    )
    return (
        ext.selectExpr(
            "query_id",
            "alabel AS anchor_label",
            "p.vid AS pos_id",
            "(cast(p.c6u as double) / 1000000.0) AS pos_cos",
            "-n.nv AS neg_id",
            "(cast(n.c6u as double) / 1000000.0) AS neg_cos",
            "(cast(n.c6u - p.c6u as double) / 1000000.0) AS margin",
            "n.c6u >= p.c6u AS violation",
        )
        .orderBy("query_id")
    )


def emb_triplet_mining_sql() -> str:
    dot_qe = X.dk_fold_dot("q.qvec", "e.embedding", EMB_DIM)
    dot_qq = X.dk_fold_dot("q.qvec", "q.qvec", EMB_DIM)
    dot_ee = X.dk_fold_dot("e.embedding", "e.embedding", EMB_DIM)
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec, label AS alabel
        FROM embeddings WHERE {query_stripe_sql()} AND label IS NOT NULL
    ), cand AS (
        SELECT q.query_id, q.alabel, e.vec_id,
               (e.label = q.alabel) AS is_pos,
               floor(({dot_qe} / (sqrt({dot_qq}) * sqrt({dot_ee})))
                     * 1000000)::BIGINT AS c6u
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
        WHERE e.label IS NOT NULL
    ), ext AS (
        SELECT query_id, alabel,
               min(CASE WHEN is_pos THEN c6u END) AS pos_u,
               max(CASE WHEN NOT is_pos THEN c6u END) AS neg_u
        FROM cand GROUP BY 1, 2
    ), ids AS (
        SELECT cand.query_id,
               min(CASE WHEN is_pos THEN vec_id END)::BIGINT AS pos_id,
               min(CASE WHEN NOT is_pos THEN vec_id END)::BIGINT AS neg_id
        FROM cand JOIN ext ON cand.query_id = ext.query_id
        WHERE (is_pos AND c6u = pos_u)
           OR (NOT is_pos AND c6u = neg_u)
        GROUP BY 1
    )
    SELECT ext.query_id, alabel AS anchor_label, pos_id,
           (pos_u::DOUBLE / 1000000.0) AS pos_cos,
           neg_id,
           (neg_u::DOUBLE / 1000000.0) AS neg_cos,
           ((neg_u - pos_u)::DOUBLE / 1000000.0) AS margin,
           neg_u >= pos_u AS violation
    FROM ext JOIN ids ON ext.query_id = ids.query_id
    ORDER BY ext.query_id
    """


def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette score per label over the
    embedding corpus — the cluster-quality audit (a = distance to own
    centroid, b = nearest OTHER centroid, s = (b−a)/max(a,b)) that
    says whether the label structure is separable before anyone trains
    on it; the quality companion to emb_label_purity's kNN vote.

    Scale shape: per-label centroids use the explosion-free per-dim
    ``avg(e[i])`` pattern (64 JVM partial aggs, emb_centroids idiom),
    the L-row centroid table broadcasts against the corpus (never a
    corpus shuffle), and per-vector a/b collapse MAP-SIDE as
    conditional min/max — the full silhouette's O(n²) pair sum is
    exactly what this formulation avoids at 100 TB. Cross-engine float
    rule: centroid components round at 6 dp BEFORE distances, the
    distance rounds at 6 dp before the min/ratio, so every comparison
    sees identical operands in both engines. NULL rule: NULL label is
    not a cluster (dropped both engines).
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
    )
    per_dim = [
        F.round(F.avg(F.col("embedding").getItem(i)), 6).alias(f"d{i}")
        for i in range(EMB_DIM)
    ]
    cent = (
        emb.groupBy(F.col("label").alias("clabel"))
        .agg(*per_dim)
        .select("clabel", F.array(*[F.col(f"d{i}") for i in range(EMB_DIM)]).alias("c"))
    )
    diff2 = " + ".join(
        f"(cast(element_at(embedding, {i}) as double) - element_at(c, {i}))"
        f" * (cast(element_at(embedding, {i}) as double) - element_at(c, {i}))"
        for i in range(1, EMB_DIM + 1)
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(f"round(sqrt({diff2}), 6)").alias("d"),
    )
    ab = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d"))).alias("b"),
    )
    # a/b are discrete 6-dp values, so their MEAN can land exactly on a
    # round-half boundary (seen at sf0.01) — sum them as exact integer
    # micro-units and divide once, so both engines round the same double
    s = ab.selectExpr(
        "label",
        "cast(round(a * 1000000) as bigint) AS a6",
        "cast(round(b * 1000000) as bigint) AS b6",
        "(b - a) / greatest(a, b) AS s",
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.expr(sp_rat6("sum(a6)", "count(1) * 1000000")).alias("mean_intra"),
            F.expr(sp_rat6("sum(b6)", "count(1) * 1000000")).alias(
                "mean_nearest_other"
            ),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


def emb_silhouette_sql() -> str:
    diff2 = " + ".join(
        f"(e.embedding[{i}]::DOUBLE - c.c[{i}])"
        f" * (e.embedding[{i}]::DOUBLE - c.c[{i}])"
        for i in range(1, EMB_DIM + 1)
    )
    return f"""
    WITH e AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE label IS NOT NULL
    ), x AS (
        SELECT label AS clabel,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS v
        FROM e
    ), cd AS (
        SELECT clabel, pos, round(avg(v), 6) AS cv
        FROM x GROUP BY 1, 2
    ), c AS (
        SELECT clabel, list(cv ORDER BY pos) AS c FROM cd GROUP BY 1
    ), scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               round(sqrt({diff2}), 6) AS d
        FROM e CROSS JOIN c
    ), ab AS (
        SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN d END) AS a,
               min(CASE WHEN clabel <> label THEN d END) AS b
        FROM scored GROUP BY 1, 2
    )
    SELECT label, count(*)::BIGINT AS n_vectors,
           {dk_rat6("sum(round(a * 1000000)::BIGINT)::BIGINT",
                    "count(*) * 1000000")} AS mean_intra,
           {dk_rat6("sum(round(b * 1000000)::BIGINT)::BIGINT",
                    "count(*) * 1000000")} AS mean_nearest_other,
           round(avg((b - a) / greatest(a, b)), 6) AS mean_silhouette
    FROM ab GROUP BY label ORDER BY label
    """


def emb_dim_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension label relevance (correlation ratio η² =
    between-label / total variance) over the embedding corpus — the
    feature-selection audit ("which dimensions actually separate the
    labels") that guides truncation (emb_matryoshka) and PQ codebook
    budgets (emb_pq); the per-dim ANOVA view beside emb_silhouette's
    whole-vector geometry.

    ONE corpus pass: per-label per-dim sums/counts via 64 JVM-side
    partial aggs (the emb_centroids explosion-free idiom), THEN the
    L-row result posexplodes to the bounded (label × dim) grid where
    between/total variances assemble — the corpus is never exploded
    and never shuffled wider than L rows. η² is a ratio of double
    moments whose operands are identical cross-engine up to summation
    order (round 6). NULL rule: NULL label is not a group (dropped
    both engines).
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select("label", F.col("embedding").cast("array<double>").alias("e"))
    )
    sums = [F.sum(F.col("e").getItem(i)).alias(f"s{i}") for i in range(EMB_DIM)]
    sqs = [
        F.sum(F.col("e").getItem(i) * F.col("e").getItem(i)).alias(f"q{i}")
        for i in range(EMB_DIM)
    ]
    per_label = emb.groupBy("label").agg(F.count(F.lit(1)).alias("nl"), *sums, *sqs)
    grid = per_label.select(
        "label",
        "nl",
        F.posexplode(
            F.arrays_zip(
                F.array(*[F.col(f"s{i}") for i in range(EMB_DIM)]).alias("s"),
                F.array(*[F.col(f"q{i}") for i in range(EMB_DIM)]).alias("q"),
            )
        ).alias("dim", "sq"),
    ).select(
        "label", "nl", "dim", F.col("sq.s").alias("s"), F.col("sq.q").alias("q")
    )
    out = grid.groupBy("dim").agg(
        F.sum("nl").alias("n"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum(F.expr("s * s / nl")).alias("bss_raw"),
    )
    # total SS = qt - st^2/n ; between SS = bss_raw - st^2/n
    # η² is undefined with zero total SS (n = 1 gives qt = st²/n
    # exactly — a single value, no summation-order dependence):
    # NULL, not an ANSI crash (round-10 single-row probe), both engines
    return (
        out.selectExpr(
            "cast(dim as int) AS dim",
            "CASE WHEN (qt - st * st / n) > 0 THEN "
            "round((bss_raw - st * st / n) / (qt - st * st / n), 6) END"
            " AS eta2",
            "round(st / n, 6) AS mean_val",
        )
        .orderBy("dim")
    )


def emb_dim_relevance_sql() -> str:
    return """
    WITH e AS (
        SELECT label, embedding FROM embeddings WHERE label IS NOT NULL
    ), x AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding)::DOUBLE AS v
        FROM e
    ), per_label AS (
        SELECT label, dim, count(*)::BIGINT AS nl,
               sum(v) AS s, sum(v * v) AS q
        FROM x GROUP BY 1, 2
    ), agg AS (
        SELECT dim, sum(nl)::BIGINT AS n, sum(s) AS st, sum(q) AS qt,
               sum(s * s / nl) AS bss_raw
        FROM per_label GROUP BY 1
    )
    SELECT dim::INT AS dim,
           CASE WHEN (qt - st * st / n) > 0 THEN
               round((bss_raw - st * st / n) / (qt - st * st / n), 6)
           END AS eta2,
           round(st / n, 6) AS mean_val
    FROM agg ORDER BY dim
    """


def emb_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-centroid distance map: euclidean distance between every
    label-centroid pair plus each label's nearest other label — the
    cluster-separation chart that says WHICH classes will confuse a
    classifier (emb_silhouette says whether; this says with whom).

    The corpus collapses ONCE to L centroid rows (explosion-free
    per-dim avgs); the L×L pair grid is a bounded broadcast self-join
    — at any corpus size the pair stage costs L², never n². Centroid
    components round at 6 dp before distances (identical operands
    cross-engine); each pair appears once (label_a < label_b). NULL
    rule: NULL label is not a cluster (both engines).
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select("label", "embedding")
    )
    per_dim = [
        F.round(F.avg(F.col("embedding").getItem(i)), 6).alias(f"d{i}")
        for i in range(EMB_DIM)
    ]
    cent = (
        emb.groupBy("label")
        .agg(*per_dim)
        .select("label", F.array(*[F.col(f"d{i}") for i in range(EMB_DIM)]).alias("c"))
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    diff2 = " + ".join(
        f"(element_at(ca, {i}) - element_at(cb, {i}))"
        f" * (element_at(ca, {i}) - element_at(cb, {i}))"
        for i in range(1, EMB_DIM + 1)
    )
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b")).select(
        "label_a",
        "label_b",
        F.expr(f"round(sqrt({diff2}), 6)").alias("dist"),
    )
    near = Window.partitionBy("label_a")
    return (
        pairs.withColumn("min_dist", F.min("dist").over(near))
        .withColumn("is_nearest", F.col("dist") == F.col("min_dist"))
        .drop("min_dist")
        .orderBy("label_a", "label_b")
    )


def emb_centroid_distances_sql() -> str:
    diff2 = " + ".join(
        f"(a.c[{i}] - b.c[{i}]) * (a.c[{i}] - b.c[{i}])"
        for i in range(1, EMB_DIM + 1)
    )
    return f"""
    WITH e AS (
        SELECT label, embedding FROM embeddings WHERE label IS NOT NULL
    ), x AS (
        SELECT label, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS v
        FROM e
    ), cd AS (
        SELECT label, pos, round(avg(v), 6) AS cv
        FROM x GROUP BY 1, 2
    ), c AS (
        SELECT label, list(cv ORDER BY pos) AS c FROM cd GROUP BY 1
    ), pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               round(sqrt({diff2}), 6) AS dist
        FROM c a JOIN c b ON a.label < b.label
    )
    SELECT label_a, label_b, dist,
           (dist = min(dist) OVER (PARTITION BY label_a)) AS is_nearest
    FROM pairs ORDER BY label_a, label_b
    """


def emb_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier evaluation over the labeled corpus:
    per-class precision/recall/F1 from the confusion counts, plus
    overall accuracy and the multiclass Matthews correlation — the
    standard ML-eval table, produced ENTIRELY in-plan (the L×L
    confusion grid is the only non-corpus intermediate).

    The corpus is scored in ONE pass against the broadcast L-row
    centroid table (emb_silhouette's shape); the predicted label is a
    map-side min(struct(rounded-distance, centroid-label)) — exact
    deterministic argmin on 6-dp operands. Every metric is a ratio of
    exact integer confusion counts (MCC's five terms included). NULL
    rule: NULL label is not a class (dropped both engines).
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
    )
    per_dim = [
        F.round(F.avg(F.col("embedding").getItem(i)), 6).alias(f"d{i}")
        for i in range(EMB_DIM)
    ]
    cent = (
        emb.groupBy(F.col("label").alias("clabel"))
        .agg(*per_dim)
        .select("clabel", F.array(*[F.col(f"d{i}") for i in range(EMB_DIM)]).alias("c"))
    )
    diff2 = " + ".join(
        f"(cast(element_at(embedding, {i}) as double) - element_at(c, {i}))"
        f" * (cast(element_at(embedding, {i}) as double) - element_at(c, {i}))"
        for i in range(1, EMB_DIM + 1)
    )
    pred = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            F.struct(
                F.expr(f"round(sqrt({diff2}), 6)").alias("d"),
                F.col("clabel").alias("cl"),
            ).alias("cand"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("cand").alias("best"))
        .select("label", F.col("best.cl").alias("pred"))
    )
    # conf feeds t, p, tp and the two global aggregates — unpinned, the
    # corpus scoring crossJoin ran 5x in one plan (12 embeddings scans).
    # The L x L confusion grid is bounded at any corpus size: pin it;
    # the corpus is scanned twice (centroids + scoring) total.
    conf = (
        pred.groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin)
    )
    t = conf.groupBy("label").agg(F.sum("n").alias("t_k"))
    p = conf.groupBy(F.col("pred").alias("_p")).agg(F.sum("n").alias("p_k"))
    glob = F.broadcast(
        conf.agg(
            F.sum("n").alias("s"),
            F.sum(F.when(F.col("label") == F.col("pred"), F.col("n"))).alias("corr"),
        ).crossJoin(
            t.join(p, t.label == F.col("_p"), "full")
            .agg(
                F.sum(F.expr("coalesce(t_k, 0) * coalesce(p_k, 0)")).alias("sum_tp"),
                F.sum(F.expr("coalesce(t_k, 0) * coalesce(t_k, 0)")).alias("sum_tt"),
                F.sum(F.expr("coalesce(p_k, 0) * coalesce(p_k, 0)")).alias("sum_pp"),
            )
        )
    )
    tp = conf.where(F.col("label") == F.col("pred")).select(
        "label", F.col("n").alias("tp")
    )
    per_class = (
        t.join(p, t.label == F.col("_p"), "left")
        .join(tp, "label", "left")
        .na.fill({"p_k": 0, "tp": 0})
    )
    mcc = (
        "((cast(corr as double) * s - sum_tp)"
        " / (sqrt(cast(s as double) * s - sum_pp)"
        " * sqrt(cast(s as double) * s - sum_tt)))"
    )
    # MCC is undefined when a single class owns every true (s² = Σt_k²)
    # or every predicted (s² = Σp_k²) label — EXACT integer
    # discriminants in decimal(38,0)/HUGEINT (round-10 single-row
    # probe): NULL, not an ANSI crash; identical guard both engines
    mcc_def = (
        "(cast(s as decimal(38,0)) * s > sum_tt"
        " AND cast(s as decimal(38,0)) * s > sum_pp)"
    )
    return (
        per_class.crossJoin(glob)
        .selectExpr(
            "label",
            "t_k AS n_true",
            "p_k AS n_pred",
            "tp AS n_correct",
            f"CASE WHEN p_k > 0 THEN {sp_rat6('tp', 'p_k')} END AS precision",
            f"{sp_rat6('tp', 't_k')} AS recall",
            f"CASE WHEN tp > 0 THEN {sp_rat6('2 * tp', 'p_k + t_k')} END AS f1",
            f"{sp_rat6('corr', 's')} AS accuracy",
            f"CASE WHEN {mcc_def} THEN round({mcc}, 6) END AS mcc",
        )
        .orderBy("label")
    )


def emb_confusion_metrics_sql() -> str:
    diff2 = " + ".join(
        f"(e.embedding[{i}]::DOUBLE - c.c[{i}])"
        f" * (e.embedding[{i}]::DOUBLE - c.c[{i}])"
        for i in range(1, EMB_DIM + 1)
    )
    mcc = (
        "((corr::DOUBLE * s - sum_tp)"
        " / (sqrt(s::DOUBLE * s - sum_pp) * sqrt(s::DOUBLE * s - sum_tt)))"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE label IS NOT NULL
    ), x AS (
        SELECT label AS clabel,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS v
        FROM e
    ), cd AS (
        SELECT clabel, pos, round(avg(v), 6) AS cv FROM x GROUP BY 1, 2
    ), c AS (
        SELECT clabel, list(cv ORDER BY pos) AS c FROM cd GROUP BY 1
    ), scored AS (
        SELECT e.vec_id, e.label,
               (min({{'d': round(sqrt({diff2}), 6), 'cl': c.clabel}})).cl AS pred
        FROM e CROSS JOIN c
        GROUP BY 1, 2
    ), conf AS (
        SELECT label, pred, count(*)::BIGINT AS n FROM scored GROUP BY 1, 2
    ), t AS (
        SELECT label, sum(n)::BIGINT AS t_k FROM conf GROUP BY 1
    ), p AS (
        SELECT pred AS _p, sum(n)::BIGINT AS p_k FROM conf GROUP BY 1
    ), gtot AS (
        SELECT (SELECT sum(n) FROM conf)::BIGINT AS s,
               (SELECT sum(n) FROM conf WHERE label = pred)::BIGINT AS corr,
               sum(coalesce(t_k, 0) * coalesce(p_k, 0))::BIGINT AS sum_tp,
               sum(coalesce(t_k, 0) * coalesce(t_k, 0))::BIGINT AS sum_tt,
               sum(coalesce(p_k, 0) * coalesce(p_k, 0))::BIGINT AS sum_pp
        FROM t FULL JOIN p ON label = _p
    ), tp AS (
        SELECT label, n AS tp FROM conf WHERE label = pred
    ), per_class AS (
        SELECT t.label, t_k, coalesce(p_k, 0)::BIGINT AS p_k,
               coalesce(tp, 0)::BIGINT AS tp
        FROM t LEFT JOIN p ON t.label = _p
        LEFT JOIN tp ON t.label = tp.label
    )
    SELECT label, t_k AS n_true, p_k AS n_pred, tp AS n_correct,
           CASE WHEN p_k > 0 THEN {dk_rat6('tp', 'p_k')} END AS precision,
           {dk_rat6('tp', 't_k')} AS recall,
           CASE WHEN tp > 0 THEN {dk_rat6('2 * tp', 'p_k + t_k')} END AS f1,
           {dk_rat6('corr', 's')} AS accuracy,
           CASE WHEN s::HUGEINT * s > sum_tt
                 AND s::HUGEINT * s > sum_pp THEN
               round({mcc}, 6) END AS mcc
    FROM per_class CROSS JOIN gtot
    ORDER BY label
    """


def emb_variance_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance spectrum with cumulative energy: dims
    ranked by variance, each one's share of total variance, the
    running cumulative share, and the is-90%-reached flag — the
    PCA-lite budget chart that says how many raw dimensions carry the
    signal (emb_pca_power finds the top DIRECTION; this prices the
    axis-aligned truncation emb_matryoshka would apply).

    ONE corpus pass of 64+64 JVM partial aggs (sums, sum-squares —
    the explosion-free idiom), then everything lives on the bounded
    64-row grid. Ranking sorts by ROUNDED variance with the dim index
    as tie-break, so both engines order identically; cumulative sums
    run over that pinned order. NULL-free by construction (embeddings
    are dense).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    sums = [F.sum(F.col("e").getItem(i)).alias(f"s{i}") for i in range(EMB_DIM)]
    sqs = [
        F.sum(F.col("e").getItem(i) * F.col("e").getItem(i)).alias(f"q{i}")
        for i in range(EMB_DIM)
    ]
    m = emb.groupBy().agg(F.count(F.lit(1)).alias("n"), *sums, *sqs)
    # vacuous on any nonempty corpus, but drops the global agg's 1
    # moment row when the corpus is EMPTY so the 64-row posexplode grid
    # vanishes like the oracle's unnest-of-nothing does — the r11
    # empty-allowlist shape retired by this formulation.
    m = m.where(F.col("n") >= 1)
    grid = m.select(
        "n",
        F.posexplode(
            F.arrays_zip(
                F.array(*[F.col(f"s{i}") for i in range(EMB_DIM)]).alias("s"),
                F.array(*[F.col(f"q{i}") for i in range(EMB_DIM)]).alias("q"),
            )
        ).alias("dim", "sq"),
    ).selectExpr(
        "cast(dim as int) AS dim",
        # sample variance needs n ≥ 2 (round-10 single-row probe):
        # NULL spectrum rows, not an ANSI crash; identical both engines.
        # "+ 0.0" drops the IEEE -0.0 a tiny negative residue leaves
        # after DuckDB's sign-preserving round() at an all-identical
        # corpus (round-11 all-ties axis).
        "CASE WHEN n >= 2 THEN "
        "round((sq.q - sq.s * sq.s / n) / (n - 1.0), 6) + 0.0 END AS variance",
    )
    wtot = Window.partitionBy()
    wrank = Window.orderBy(F.desc("variance"), F.asc("dim"))
    wcum = Window.orderBy(F.desc("variance"), F.asc("dim")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        grid.withColumn("total_var", F.sum("variance").over(wtot))
        .withColumn("rank", F.row_number().over(wrank))
        .withColumn(
            "cum_share",
            F.when(
                F.col("total_var") > 0,
                F.sum("variance").over(wcum) / F.col("total_var"),
            ),
        )
        .selectExpr(
            "rank",
            "dim",
            "variance",
            "CASE WHEN total_var > 0 THEN "
            "round(variance / total_var, 6) END AS var_share",
            "round(cum_share, 6) AS cum_share",
            "cum_share >= 0.9 AS reaches_90pct",
        )
        .orderBy("rank")
    )


def emb_variance_spectrum_sql() -> str:
    return """
    WITH x AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings
    ), grid AS (
        SELECT dim::INT AS dim,
               CASE WHEN count(*) >= 2 THEN
                   round((sum(v * v) - sum(v) * sum(v) / count(*))
                         / (count(*) - 1.0), 6) + 0.0 END AS variance
        FROM x GROUP BY 1
    ), ranked AS (
        SELECT dim, variance,
               sum(variance) OVER () AS total_var,
               row_number() OVER (ORDER BY variance DESC, dim) AS rank,
               CASE WHEN sum(variance) OVER () > 0 THEN
                   sum(variance) OVER (ORDER BY variance DESC, dim
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       / sum(variance) OVER () END AS cum_share
        FROM grid
    )
    SELECT rank, dim, variance,
           CASE WHEN total_var > 0 THEN
               round(variance / total_var, 6) END AS var_share,
           round(cum_share, 6) AS cum_share,
           cum_share >= 0.9 AS reaches_90pct
    FROM ranked ORDER BY rank
    """


def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalancing of the labeled embedding corpus:
    every label downsampled to the MINORITY class size by seeded-hash
    rank — the class-balanced training-set builder
    (corpus_sample_exact_k balances by EXACT COUNT per source; this
    balances by the data-derived minimum across classes).

    The minority size is a 1-row broadcast; per-label selection ranks
    on (seeded 32-bit hash, vec_id) inside label partitions (per-key
    windows, deterministic and replayed exactly by the oracle), and
    the output certifies the SELECTION by value: per label the kept
    count and the exact sum of kept vec_ids (the witness column —
    row-count equality can't hide a different pick). NULL label is not
    a class (both engines).
    """
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select("vec_id", "label")
        .withColumn("h", F.expr(X.sp_hash32("cast(vec_id as string)", "bal")))
    )
    m = F.broadcast(
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("nl"))
        .agg(F.min("nl").alias("m"))
    )
    w = Window.partitionBy("label").orderBy("h", "vec_id")
    kept = (
        e.withColumn("rk", F.row_number().over(w))
        .crossJoin(m)
        .where(F.col("rk") <= F.col("m"))
    )
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vec_id").alias("kept_id_sum"),
        )
        .orderBy("label")
    )


def sample_class_balance_sql() -> str:
    h = X.dk_hash32("vec_id::varchar", "bal")
    return f"""
    WITH e AS (
        SELECT vec_id, label, ({h}) AS h
        FROM embeddings WHERE label IS NOT NULL
    ), m AS (
        SELECT min(nl)::BIGINT AS m FROM (
            SELECT label, count(*)::BIGINT AS nl FROM e GROUP BY 1
        )
    ), kept AS (
        SELECT label, vec_id,
               row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rk
        FROM e
    )
    SELECT label, count(*)::BIGINT AS n_kept,
           sum(vec_id)::BIGINT AS kept_id_sum
    FROM kept CROSS JOIN m
    WHERE rk <= m
    GROUP BY label ORDER BY label
    """


def emb_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic dimension estimate (Facco et al.): over the
    bounded anchor stripe, d̂ = n / Σ ln(r₂/r₁) from each anchor's two
    nearest-neighbor distances — "how many dimensions does the data
    ACTUALLY occupy", the measurement behind emb_variance_spectrum's
    axis-aligned budget and emb_matryoshka's truncation choice.

    The stripe broadcasts against the corpus (sim_search_bruteforce's
    shape — the corpus never shuffles), r₁/r₂ come from ONE conditional
    min + struct-min pass per anchor on 6-dp-rounded distances
    (identical operands both engines), and the estimator folds over
    the ≤stripe rows. Anchors with r₁ = 0 (exact duplicates) drop —
    the standard two-NN discipline. NULL-free by construction.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).select("vec_id", "embedding")
    # broadcast side — stripe raw, no scatter Exchange inside the
    # broadcast build.
    q = query_stripe(raw, raw).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    diff2 = " + ".join(
        f"(cast(element_at(embedding, {i}) as double)"
        f" - cast(element_at(qvec, {i}) as double))"
        f" * (cast(element_at(embedding, {i}) as double)"
        f" - cast(element_at(qvec, {i}) as double))"
        for i in range(1, EMB_DIM + 1)
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.expr(f"round(sqrt({diff2}), 6)").alias("d")
    )
    # r2 = min distance strictly above r1 (ties at r1 mean r2 = r1,
    # which the ratio turns into ln(1) = 0 — drop those too).
    # the old nn-then-join shape scored the corpus TWICE (scored fed
    # both the min pass and the strictly-above pass). dense_rank <= 2
    # keeps exactly the rows carrying the two smallest DISTINCT
    # distances per query in ONE pass (WindowGroupLimit prunes
    # map-side); r1/r2 fall out as conditional mins, and the surviving
    # query set (has a second distinct distance, r1 > 0) is unchanged.
    dw = Window.partitionBy("query_id").orderBy("d")
    r2 = (
        scored.withColumn("dr", F.dense_rank().over(dw))
        .where(F.col("dr") <= 2)
        .groupBy("query_id")
        .agg(
            F.min(F.when(F.col("dr") == 1, F.col("d"))).alias("r1"),
            F.min(F.when(F.col("dr") == 2, F.col("d"))).alias("r2"),
        )
        .where(F.col("r2").isNotNull() & (F.col("r1") > 0))
    )
    agg = r2.agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.sum(F.expr("ln(r2 / r1)")).alias("s"),
    )
    return agg.selectExpr(
        "n_anchors",
        "round(s, 6) AS sum_log_ratio",
        "round(n_anchors / s, 4) AS intrinsic_dim",
    )


def emb_intrinsic_dim_sql() -> str:
    dot = " + ".join(
        f"(e.embedding[{i}]::DOUBLE - q.qvec[{i}]::DOUBLE)"
        f" * (e.embedding[{i}]::DOUBLE - q.qvec[{i}]::DOUBLE)"
        for i in range(1, EMB_DIM + 1)
    )
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {query_stripe_sql()}
    ), scored AS (
        SELECT q.query_id, round(sqrt({dot}), 6) AS d
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ), nn AS (
        SELECT query_id, min(d) AS r1 FROM scored GROUP BY 1
    ), r2t AS (
        SELECT scored.query_id, min(d) AS r2, max(r1) AS r1
        FROM scored JOIN nn ON scored.query_id = nn.query_id
        WHERE d > r1
        GROUP BY 1
        HAVING max(r1) > 0
    )
    SELECT count(*)::BIGINT AS n_anchors,
           round(sum(ln(r2 / r1)), 6) AS sum_log_ratio,
           round(count(*) / sum(ln(r2 / r1)), 4) AS intrinsic_dim
    FROM r2t
    """


def emb_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm bias audit per label: mean / sd of vector L2
    norms and the label-vs-global norm ratio — norm leakage (one class
    systematically longer) breaks cosine-vs-dot equivalence and skews
    margin-based training; the norm view beside emb_whitening's
    covariance treatment.

    Norms fold INSIDE each row (unrolled fixed-dim sum — no explode),
    per-label moments are one shuffle on ≤L groups, and the global
    mean is a 1-row broadcast. Norm values round at 6 dp before the
    moment pass so both engines aggregate identical operands. NULL
    label is not a class (both engines).
    """
    dot = X.sp_fold_dot("embedding", "embedding", EMB_DIM)
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select("label", F.expr(f"round(sqrt({dot}), 6)").alias("nrm"))
    )
    g = F.broadcast(
        e.agg(
            F.count(F.lit(1)).alias("gn"),
            F.sum(F.expr("cast(round(nrm * 1e6) as bigint)")).alias("gs6"),
        )
    )
    per = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cast(round(nrm * 1e6) as bigint)")).alias("s6"),
        F.sum(F.expr("nrm * nrm")).alias("q"),
    )
    mean = "(cast(s6 as double) / (n * 1e6))"
    var = f"((q - n * {mean} * {mean}) / (n - 1.0))"
    # mean_norm = s6/(n·1e6) and the ratio (s6·gn)/(n·gs6) are PURE
    # integer rationals — integer-exact HALF_UP (round-boundary rule)
    return (
        per.crossJoin(g)
        .selectExpr(
            "label",
            "n AS n_vectors",
            f"{sp_rat6('s6', 'n * 1000000')} AS mean_norm",
            # sd needs n ≥ 2 (round-10 single-row probe): NULL, not an
            # ANSI crash; identical guard both engines
            f"CASE WHEN n >= 2 THEN "
            f"round(sqrt(greatest({var}, 0.0)), 6) END AS sd_norm",
            f"""{sp_rat6(
                'cast(s6 as decimal(38,0)) * gn',
                'cast(n as decimal(38,0)) * gs6',
            )} AS norm_ratio_vs_global""",
        )
        .orderBy("label")
    )


def emb_norm_by_label_sql() -> str:
    dot = X.dk_fold_dot("embedding", "embedding", EMB_DIM)
    mean = "(s6::DOUBLE / (n * 1e6))"
    var = f"((q - n * {mean} * {mean}) / (n - 1.0))"
    return f"""
    WITH e AS (
        SELECT label, round(sqrt({dot}), 6) AS nrm
        FROM embeddings WHERE label IS NOT NULL
    ), g AS (
        SELECT count(*)::BIGINT AS gn,
               sum(round(nrm * 1e6)::BIGINT)::BIGINT AS gs6
        FROM e
    ), per AS (
        SELECT label, count(*)::BIGINT AS n,
               sum(round(nrm * 1e6)::BIGINT)::BIGINT AS s6,
               sum(nrm * nrm) AS q
        FROM e GROUP BY 1
    )
    SELECT label, n AS n_vectors,
           {dk_rat6('s6', 'n * 1000000')} AS mean_norm,
           CASE WHEN n >= 2 THEN
               round(sqrt(greatest({var}, 0.0)), 6) END AS sd_norm,
           {dk_rat6('s6::HUGEINT * gn', 'n::HUGEINT * gs6')}
               AS norm_ratio_vs_global
    FROM per CROSS JOIN g
    ORDER BY label
    """


LSH_TUNE_PLANES = (4, 6, 8)
LSH_TUNE_MAX = 8


def _bucket_expr_n(vec: str, n_planes: int) -> str:
    """The sim_search_lsh sign-bit bucket generalized to n_planes —
    same deterministic md5 plane family, unrolled literal components."""
    plane_dots = []
    for p in range(n_planes):
        terms = [
            f"cast(element_at({vec}, {i}) as double)"
            f" * ({_plane_const(p, i)!r})"
            for i in range(1, EMB_DIM + 1)
        ]
        plane_dots.append("(" + " + ".join(terms) + ")")
    bits = [
        f"CASE WHEN {plane_dots[p]} > 0 THEN cast({1 << p} as bigint)"
        f" ELSE cast(0 as bigint) END"
        for p in range(n_planes)
    ]
    return "(" + " + ".join(bits) + ")"


def emb_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-count tuning curve for the LSH index: candidate cost
    and recall@5 at 4 / 6 / 8 planes, swept in ONE job — the
    parameter-sweep-as-one-DAG pattern (no train/eval loop, no driver
    iteration): the 8-plane sign code is computed ONCE per vector,
    every narrower index is its BIT PREFIX (code mod 2^p), and the
    stripe×corpus pairs are SCORED ONCE (the exact-baseline pass) with
    each plane count a pure filter over that one scored table — the
    sweep adds zero extra scoring passes at any corpus size.

    Approx and exact both rank on 6-dp-rounded cosine with vec_id
    tie-break, so the top-5 SETS are identical cross-engine and recall
    is an exact integer ratio. Output: one row per plane count with
    candidate volume, mean bucket load and recall@5. NULL-free by
    construction.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw).select(
        "vec_id",
        "embedding",
        F.expr(_bucket_expr_n("embedding", LSH_TUNE_MAX)).alias("code"),
    )
    # q feeds the scored pass AND the n_queries count — unpinned, each
    # was its own full-corpus stripe scan. Bounded (~QUERY_TARGET
    # rows): pin it.
    q = query_stripe(e, raw).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("code").alias("qcode"),
    ).transform(pin)
    cos6 = F.round(_cos("qvec", "embedding", EMB_DIM), 6)
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "code", "qcode", cos6.alias("c6"))
        .transform(pin)
    )
    exact = (
        scored.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("c6"), F.asc("vec_id")
                )
            ),
        )
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id")
    )
    nq = F.broadcast(q.groupBy().agg(F.count(F.lit(1)).alias("n_queries")))
    outs = []
    for p in LSH_TUNE_PLANES:
        mod = 1 << p
        cand = scored.where(F.col("code") % mod == F.col("qcode") % mod)
        approx = (
            cand.withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("c6"), F.asc("vec_id")
                    )
                ),
            )
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id")
        )
        hits = approx.join(exact, ["query_id", "vec_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        stats = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        outs.append(
            stats.crossJoin(F.broadcast(hits))
            .crossJoin(nq)
            .selectExpr(
                f"{p} AS n_planes",
                "n_queries",
                "n_candidates",
                f"{sp_rat6('n_candidates', 'n_queries')} AS mean_candidates",
                f"{sp_rat6('n_hits', f'n_queries * {TOP_K}')} AS recall_at_5",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("n_planes")


def emb_lsh_tuning_sql(dk_bucket8: str, dk_dot_qe: str, dk_dot_qq: str, dk_dot_ee: str) -> str:
    per_p = []
    for p in LSH_TUNE_PLANES:
        mod = 1 << p
        per_p.append(f"""
    , cand{p} AS (
        SELECT query_id, vec_id, c6 FROM scored
        WHERE (code % {mod}) = (qcode % {mod})
    ), approx{p} AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY c6 DESC, vec_id) AS rank
            FROM cand{p}
        ) WHERE rank <= {TOP_K}
    ), out{p} AS (
        SELECT {p} AS n_planes,
               (SELECT count(*) FROM q)::BIGINT AS n_queries,
               (SELECT count(*) FROM cand{p})::BIGINT AS n_candidates,
               {dk_rat6(f'(SELECT count(*) FROM cand{p})',
                        '(SELECT count(*) FROM q)')} AS mean_candidates,
               {dk_rat6('(SELECT count(*) FROM approx' + str(p)
                        + ' a JOIN exact x ON a.query_id = x.query_id'
                          ' AND a.vec_id = x.vec_id)',
                        f'(SELECT count(*) FROM q) * {TOP_K}')} AS recall_at_5
    )""")
    unions = " UNION ALL ".join(f"SELECT * FROM out{p}" for p in LSH_TUNE_PLANES)
    return f"""
    WITH eb AS (
        SELECT vec_id, embedding, {dk_bucket8} AS code FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qvec, code AS qcode
        FROM eb WHERE {query_stripe_sql()}
    ), scored AS (
        SELECT q.query_id, e.vec_id, e.code, q.qcode,
               round({dk_dot_qe} / (sqrt({dk_dot_qq}) * sqrt({dk_dot_ee})), 6)
                   AS c6
        FROM eb e JOIN q ON e.vec_id <> q.query_id
    ), exact AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY c6 DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    ){''.join(per_p)}
    {unions} ORDER BY n_planes
    """


def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift between the two deterministic corpus
    halves (vec_id parity — the A/B a re-embedding run would produce):
    centroid L2 shift and centroid cosine — the distribution-shift
    tripwire that catches a silently retrained or re-normalized encoder
    before an ANN index built on half the corpus goes stale against the
    other half.

    TWO explosion-free per-dim avg passes (the emb_centroids idiom: 64
    JVM-side partial aggs per half, never an unnest), joined on the
    ≤L-row label axis; centroid components round at 6 dp BEFORE the
    distance folds so both engines difference identical operands, and
    the L2/cosine outputs pass through sqrt (irrational — plain round
    safe). NULL labels are not clusters (dropped both engines).
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding", (F.col("vec_id") % 2).alias("h"))
    )

    def centroid(half: int, pfx: str):
        return (
            emb.where(F.col("h") == half)
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).alias(f"{pfx}n"),
                *[
                    F.round(F.avg(F.col("embedding").getItem(i)), 6).alias(
                        f"{pfx}{i}"
                    )
                    for i in range(EMB_DIM)
                ],
            )
        )
    a = centroid(0, "a")
    b = centroid(1, "b").withColumnRenamed("label", "_l")
    j = a.join(F.broadcast(b), F.col("label") == F.col("_l"))
    l2 = " + ".join(f"(a{i} - b{i}) * (a{i} - b{i})" for i in range(EMB_DIM))
    dot = " + ".join(f"a{i} * b{i}" for i in range(EMB_DIM))
    na = " + ".join(f"a{i} * a{i}" for i in range(EMB_DIM))
    nb = " + ".join(f"b{i} * b{i}" for i in range(EMB_DIM))
    return (
        j.selectExpr(
            "label",
            "an AS n_half_a",
            "bn AS n_half_b",
            f"round(sqrt({l2}), 6) AS centroid_l2",
            f"round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) AS centroid_cos",
        )
        .orderBy("label")
    )


def emb_centroid_drift_sql() -> str:
    l2 = " + ".join(f"(a.c[{i}] - b.c[{i}]) * (a.c[{i}] - b.c[{i}])"
                    for i in range(1, EMB_DIM + 1))
    dot = " + ".join(f"a.c[{i}] * b.c[{i}]" for i in range(1, EMB_DIM + 1))
    na = " + ".join(f"a.c[{i}] * a.c[{i}]" for i in range(1, EMB_DIM + 1))
    nb = " + ".join(f"b.c[{i}] * b.c[{i}]" for i in range(1, EMB_DIM + 1))
    return f"""
    WITH e AS (
        SELECT vec_id, label, embedding, vec_id % 2 AS h
        FROM embeddings WHERE label IS NOT NULL
    ), x AS (
        SELECT label, h, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS v
        FROM e
    ), cd AS (
        SELECT label, h, pos, round(avg(v), 6) AS cv FROM x GROUP BY 1, 2, 3
    ), c AS (
        SELECT label, h, list(cv ORDER BY pos) AS c FROM cd GROUP BY 1, 2
    ), n AS (
        SELECT label, h, count(*)::BIGINT AS n FROM e GROUP BY 1, 2
    ), a AS (
        SELECT c.label, c.c, n.n FROM c JOIN n
          ON c.label = n.label AND c.h = n.h WHERE c.h = 0
    ), b AS (
        SELECT c.label, c.c, n.n FROM c JOIN n
          ON c.label = n.label AND c.h = n.h WHERE c.h = 1
    )
    SELECT a.label, a.n AS n_half_a, b.n AS n_half_b,
           round(sqrt({l2}), 6) AS centroid_l2,
           round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) AS centroid_cos
    FROM a JOIN b ON a.label = b.label
    ORDER BY a.label
    """


def emb_ivf_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-size census over sim_search_ivf's coarse quantizer: per
    centroid cell the vector count, corpus share, and the cell's
    imbalance factor vs the uniform K-way split — the index-planning
    audit (a hot cell makes every probe of it scan that fraction of the
    corpus) that is to IVF what dedup_bucket_stats is to LSH banding.

    Reuses the production assignment EXACTLY (bounded centroid stripe,
    map-side min-struct argmax — one row per vector into the shuffle),
    then a K-bounded rollup; share and imbalance (= n·K/total) are PURE
    integer rationals — integer-exact HALF_UP (round-boundary rule).
    """
    raw = load_table(spark, sf_dir, "embeddings")
    e = scatter(spark, raw)
    # broadcast side — stripe raw, no scatter Exchange inside the
    # broadcast build.
    cents = centroid_stripe(raw, raw).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    ccos = _cos("embedding", "cvec")
    assign = (
        e.join(F.broadcast(cents))
        .select("vec_id", "centroid_id", ccos.alias("_ccos"))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_ccos")).alias("neg"),
                    F.col("centroid_id").alias("cid"),
                )
            ).alias("m")
        )
        .select("vec_id", F.col("m.cid").alias("cell"))
    )
    # cells feeds the totals AND the final share rows — unpinned, the
    # corpus cell-assignment scoring ran twice. Bounded at K_CENTROIDS
    # rows: pin it.
    cells = (
        assign.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .transform(pin)
    )
    tot = F.broadcast(
        cells.agg(
            F.sum("n_vectors").alias("total"),
            F.count(F.lit(1)).alias("k_cells"),
        )
    )
    return (
        cells.crossJoin(tot)
        .selectExpr(
            "cell",
            "n_vectors",
            f"{sp_rat6('n_vectors', 'total')} AS share",
            f"""{sp_rat6(
                'cast(n_vectors as decimal(38,0)) * k_cells', 'total'
            )} AS imbalance""",
        )
        .orderBy("cell")
    )


def emb_ivf_cell_census_sql(dk_ccos: str) -> str:
    return f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings
        WHERE vec_id % greatest(1,
            (SELECT count(*) FROM embeddings) // {K_CENTROIDS}) = 1
    ), scored AS (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {dk_ccos} DESC, c.centroid_id) AS crn
        FROM embeddings e CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, centroid_id AS cell FROM scored WHERE crn = 1
    ), cells AS (
        SELECT cell, count(*)::BIGINT AS n_vectors FROM assign GROUP BY 1
    ), tot AS (
        SELECT sum(n_vectors)::BIGINT AS total,
               count(*)::BIGINT AS k_cells
        FROM cells
    )
    SELECT cell, n_vectors,
           {dk_rat6('n_vectors', 'total')} AS share,
           {dk_rat6('n_vectors::HUGEINT * k_cells', 'total')} AS imbalance
    FROM cells CROSS JOIN tot
    ORDER BY cell
    """


def emb_duplicate_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicate-embedding census — vectors identical after 6 dp
    component flooring, grouped by a portable md5 fingerprint — the
    "same vector stored twice" audit (re-ingested batches, identical
    zero/padding vectors) that runs BEFORE the expensive near-dup
    cosine pass (dedup_embedding_cosine) ever needs to: exact dupes are
    free to find and usually dominate.

    ONE fingerprint shuffle (md5 of the 6dp-floored component string —
    the portable-hash discipline, oracle replays it exactly), group
    sizes roll to a bounded size histogram with duplicate-rate shares
    (integer-exact HALF_UP). NULL embeddings carry no fingerprint
    (dropped both engines).
    """
    # floor() micro-units, not round(): Spark's shortest-repr HALF_UP
    # and DuckDB's binary round can disagree when a product's shortest
    # repr reads ".5" (r6 ADVICE) — floor of the identical IEEE product
    # is boundary-immune, and a fingerprint flip corrupts the WHOLE
    # group key, not one digit (the emb_triplet_mining idiom).
    fp = (
        "md5(array_join(transform(embedding,"
        " x -> cast(cast(floor(cast(x as double) * 1000000) as bigint)"
        " as string)), ','))"
    )
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .selectExpr(f"{fp} AS fp")
    )
    grp = e.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    hist = grp.groupBy("c").agg(F.count(F.lit(1)).alias("n_groups"))
    tot = F.broadcast(
        grp.agg(
            F.sum("c").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    return (
        hist.crossJoin(tot)
        .selectExpr(
            "c AS group_size",
            "n_groups",
            "(c * n_groups) AS n_vectors_in_size",
            f"{sp_rat6('c * n_groups', 'n_vectors')} AS vector_share",
            f"{sp_rat6('n_vectors - n_distinct', 'n_vectors')}"
            " AS corpus_dup_rate",
        )
        .orderBy("group_size")
    )


def emb_duplicate_vectors_sql() -> str:
    fp = (
        "md5(array_to_string(list_transform(embedding,"
        " x -> floor(x::DOUBLE * 1000000)::BIGINT::VARCHAR), ','))"
    )
    return f"""
    WITH e AS (
        SELECT {fp} AS fp FROM embeddings WHERE embedding IS NOT NULL
    ), grp AS (
        SELECT fp, count(*)::BIGINT AS c FROM e GROUP BY 1
    ), hist AS (
        SELECT c, count(*)::BIGINT AS n_groups FROM grp GROUP BY 1
    ), tot AS (
        SELECT sum(c)::BIGINT AS n_vectors, count(*)::BIGINT AS n_distinct
        FROM grp
    )
    SELECT c AS group_size, n_groups,
           (c * n_groups)::BIGINT AS n_vectors_in_size,
           {dk_rat6('c * n_groups', 'n_vectors')} AS vector_share,
           {dk_rat6('n_vectors - n_distinct', 'n_vectors')} AS corpus_dup_rate
    FROM hist CROSS JOIN tot
    ORDER BY group_size
    """


CKA_SPLIT = EMB_DIM // 2   # view X = dims [0, CKA_SPLIT), view Y = rest


def emb_cka_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear CKA (centered kernel alignment) between two VIEWS of the
    embedding space — the first and second halves of the dimension
    axis: CKA = ‖Cxy‖²_F / (‖Cxx‖_F·‖Cyy‖_F) on centered features, the
    representation-similarity score used to compare embedding versions
    / layers without any alignment step (rotation-invariant, scale-
    invariant). A CKA near 1 means the second half of the dims carries
    the same geometry as the first — redundancy that emb_matryoshka /
    emb_pca_power would then confirm truncatable.

    Scale shape: the full 64×64 raw Gram matrix comes from ONE pass —
    each row map-side expands to the (i, j) index grid via two LATERAL
    posexplodes (no self-join, no second scan) and partial aggregation
    collapses every partition to ≤ EMB_DIM² cells before the single
    4096-key shuffle. Means are 64 rows broadcast back twice (i and j);
    centering, block masks (XX / YY / XY) and the three Frobenius sums
    are map-side arithmetic on the 4096-row cell table. Float sums are
    order-insensitive at the 6-dp emission (the emb-family convention).
    """
    e = scatter(spark, load_table(spark, sf_dir, "embeddings"))
    cells = (
        e.selectExpr(
            "vec_id",
            "embedding",
        )
        .selectExpr(
            "posexplode(embedding) AS (i, x)",
            "embedding",
        )
        .selectExpr("i", "x", "posexplode(embedding) AS (j, y)")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(x as double) * cast(y as double)")).alias(
                "sxy"
            ),
        )
    )
    means = (
        e.selectExpr("posexplode(embedding) AS (i, x)")
        .groupBy("i")
        .agg(
            F.sum(F.expr("cast(x as double)")).alias("sx"),
            F.min(F.expr("cast(x as double)")).alias("mn"),
            F.max(F.expr("cast(x as double)")).alias("mx"),
        )
        # means feeds the spread flags AND two broadcast joins —
        # unpinned, the corpus scan + posexplode ran 3x for this
        # EMB_DIM-row table. Pin it (64 rows at any scale); the corpus
        # is scanned once here and once in the cells grid.
        .transform(pin)
    )
    # EXACT block-variation discriminant (round-11 all-ties axis, which
    # also collapses the embedding arrays): with an all-identical
    # corpus every centered cell is a ~1e-13 float residue, the cc^2
    # sums are tiny-but-positive, and "ss > 0" let each engine emit a
    # different residue-over-residue CKA. A block has real variation
    # iff SOME of its dimensions has min < max — an order-free exact
    # test each engine evaluates on its own doubles.
    spread = F.broadcast(
        means.agg(
            F.max(
                F.expr(
                    f"CASE WHEN i < {CKA_SPLIT} AND mx > mn THEN 1 ELSE 0 END"
                )
            ).alias("x_varies"),
            F.max(
                F.expr(
                    f"CASE WHEN i >= {CKA_SPLIT} AND mx > mn THEN 1 ELSE 0 END"
                )
            ).alias("y_varies"),
        )
    )
    c = (
        cells.join(
            F.broadcast(means.selectExpr("i", "sx AS sx_i")), "i"
        )
        .join(F.broadcast(means.selectExpr("i AS j", "sx AS sx_j")), "j")
        .selectExpr(
            "i",
            "j",
            "n",
            "sxy - sx_i * sx_j / n AS cc",
        )
    )
    blk = c.agg(
        F.max("n").alias("n_vectors"),
        F.sum(
            F.expr(
                f"CASE WHEN i < {CKA_SPLIT} AND j < {CKA_SPLIT}"
                " THEN cc * cc ELSE 0.0 END"
            )
        ).alias("ss_xx"),
        F.sum(
            F.expr(
                f"CASE WHEN i >= {CKA_SPLIT} AND j >= {CKA_SPLIT}"
                " THEN cc * cc ELSE 0.0 END"
            )
        ).alias("ss_yy"),
        F.sum(
            F.expr(
                f"CASE WHEN i < {CKA_SPLIT} AND j >= {CKA_SPLIT}"
                " THEN cc * cc ELSE 0.0 END"
            )
        ).alias("ss_xy"),
    )
    # CKA needs both self-block Frobenius norms positive; each ss_* is
    # a sum of NON-NEGATIVE cc² terms, so = 0 exactly (order-free, both
    # engines) when every centered cell is 0 — the n = 1 corpus
    # (round-10 single-row probe): NULL, not an ANSI crash. The
    # x/y_varies flags (exact per-dim spread) additionally kill the
    # residue-over-residue CKA on an all-identical corpus.
    blk = blk.crossJoin(spread)
    return blk.selectExpr(
        "n_vectors",
        "CASE WHEN x_varies = 1 AND y_varies = 1"
        " AND ss_xx > 0 AND ss_yy > 0 THEN "
        "round(ss_xy / sqrt(ss_xx * ss_yy), 6) END AS cka",
        "round(sqrt(ss_xy), 6) AS cross_norm",
        "round(sqrt(ss_xx), 6) AS x_norm",
        "round(sqrt(ss_yy), 6) AS y_norm",
    )


def emb_cka_similarity_sql() -> str:
    return f"""
    WITH pairs AS (
        SELECT i, j, count(*)::BIGINT AS n,
               sum(embedding[i]::DOUBLE * embedding[j]::DOUBLE) AS sxy
        FROM embeddings,
             range(1, {EMB_DIM} + 1) t(i), range(1, {EMB_DIM} + 1) u(j)
        GROUP BY i, j
    ), means AS (
        SELECT i, sum(embedding[i]::DOUBLE) AS sx,
               min(embedding[i]::DOUBLE) AS mn,
               max(embedding[i]::DOUBLE) AS mx
        FROM embeddings, range(1, {EMB_DIM} + 1) t(i)
        GROUP BY i
    ), spread AS (
        SELECT max(CASE WHEN i <= {CKA_SPLIT} AND mx > mn
                        THEN 1 ELSE 0 END) AS x_varies,
               max(CASE WHEN i > {CKA_SPLIT} AND mx > mn
                        THEN 1 ELSE 0 END) AS y_varies
        FROM means
    ), c AS (
        SELECT p.i, p.j, p.n, p.sxy - mi.sx * mj.sx / p.n AS cc
        FROM pairs p
        JOIN means mi ON mi.i = p.i
        JOIN means mj ON mj.i = p.j
    ), blk AS (
        SELECT max(n)::BIGINT AS n_vectors,
               sum(CASE WHEN i <= {CKA_SPLIT} AND j <= {CKA_SPLIT}
                        THEN cc * cc ELSE 0.0 END) AS ss_xx,
               sum(CASE WHEN i > {CKA_SPLIT} AND j > {CKA_SPLIT}
                        THEN cc * cc ELSE 0.0 END) AS ss_yy,
               sum(CASE WHEN i <= {CKA_SPLIT} AND j > {CKA_SPLIT}
                        THEN cc * cc ELSE 0.0 END) AS ss_xy
        FROM c
    )
    SELECT n_vectors,
           CASE WHEN x_varies = 1 AND y_varies = 1
                AND ss_xx > 0 AND ss_yy > 0 THEN
               round(ss_xy / sqrt(ss_xx * ss_yy), 6) END AS cka,
           round(sqrt(ss_xy), 6) AS cross_norm,
           round(sqrt(ss_xx), 6) AS x_norm,
           round(sqrt(ss_yy), 6) AS y_norm
    FROM blk CROSS JOIN spread
    """
