"""Iterative graph analytics on DataFrames: fixed-iteration PageRank.

Complements the dedup module's connected components (large-star /
small-star) with the other canonical iterative-graph primitive. The
graph is the part--supplier bipartite graph from lineitem (distinct
(l_partkey, l_suppkey) edges — supply-chain centrality); node ids are
namespaced strings so the two key spaces can share one node column.

Scale shape per iteration: one join of the directed-edge table against
the current rank vector on ``src`` (both sides partitioned by src —
co-partitioned after the first shuffle), one aggregation shuffle on
``dst``. Degrees and the node count are computed once; the node count
reaches the expression via a broadcast one-row crossJoin, NOT a
driver-side collect, so the whole operator remains one lazy plan.
Iterations are unrolled (KMEANS-style determinism) with a pin per
round to keep the shared edge subtree from re-evaluating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from navigator_data_ingest_spark.functions.exact import (
    dk_rat6,
    dk_units,
    sp_rat6,
    sp_units,
)
from navigator_data_ingest_spark.sources.tables import load_table, pin

DAMPING = 0.85
PR_ITERS = 2


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("p"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
        .transform(pin)
    )
    # undirected: each edge contributes both directions
    ed = edges.select(F.col("p").alias("src"), F.col("s").alias("dst")).union(
        edges.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    deg = ed.groupBy("src").agg(F.count("*").cast("double").alias("d"))
    ntot = deg.agg(F.count("*").cast("double").alias("n"))

    ranks = (
        deg.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(ntot))
        .select("node", (F.lit(1.0) / F.col("n")).alias("r"))
    )
    for _ in range(PR_ITERS):
        contrib = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", (F.col("r") / F.col("d")).alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("m"))
            .crossJoin(F.broadcast(ntot))
            .select(
                F.col("dst").alias("node"),
                (F.lit(1.0 - DAMPING) / F.col("n") + F.lit(DAMPING) * F.col("m")).alias("r"),
            )
            .transform(pin)
        )
    return (
        ranks.crossJoin(F.broadcast(ntot))
        # report rank relative to uniform (r * N, ~1.0 scale) so the
        # 6-decimal round keeps meaningful precision at any graph size
        .select("node", F.round(F.col("r") * F.col("n"), 6).alias("rel_rank"))
        .orderBy("node")
    )


def graph_pagerank_sql() -> str:
    d = DAMPING
    return f"""
    WITH e AS (
        SELECT DISTINCT 'p:' || l_partkey AS p, 's:' || l_suppkey AS s
        FROM lineitem
    ),
    ed AS (
        SELECT p AS src, s AS dst FROM e
        UNION ALL
        SELECT s AS src, p AS dst FROM e
    ),
    deg AS (SELECT src, count(*)::double AS d FROM ed GROUP BY src),
    n AS (SELECT count(*)::double AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM n) AS r FROM deg),
    r1 AS (
        SELECT ed.dst AS node,
               {1.0 - d} / (SELECT n FROM n) + {d} * sum(r0.r / deg.d) AS r
        FROM ed
        JOIN r0 ON ed.src = r0.node
        JOIN deg ON ed.src = deg.src
        GROUP BY ed.dst
    ),
    r2 AS (
        SELECT ed.dst AS node,
               {1.0 - d} / (SELECT n FROM n) + {d} * sum(r1.r / deg.d) AS r
        FROM ed
        JOIN r1 ON ed.src = r1.node
        JOIN deg ON ed.src = deg.src
        GROUP BY ed.dst
    )
    SELECT node, round(r * (SELECT n FROM n), 6) AS rel_rank
    FROM r2
    ORDER BY node
    """


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part—supplier bipartite graph: how
    many parts have k distinct suppliers. The two-level aggregation
    (edge dedup -> per-node degree -> per-degree count) is the standard
    graph-profiling query; both shuffles are on shrinking keys
    (edges -> nodes -> degree values), so the result is metadata-sized
    long before the driver sees it.
    """
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    deg = edges.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("degree")
    )


# --------------------------------------------------------------------------
# triangle counting (edge-wedge-close join chain)
# --------------------------------------------------------------------------

def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the brand co-purchase graph: nodes are
    part brands, an edge joins two brands that appear together in at
    least one order, and a triangle is a brand triple pairwise
    co-purchased. Per-node triangle counts (the clustering-coefficient
    numerator) plus degree.

    The canonical distributed shape: orient every edge low->high (each
    triangle counted once), self-join edges on the middle node to form
    wedges, close each wedge with one more edge join. With a<b<c
    orientation the wedge fan-out is bounded by the out-degree in the
    ORIENTED graph (max out-degree ~sqrt(edges) after orientation — the
    standard trick that makes triangle counting feasible on power-law
    graphs). All three joins are hash equijoins on node keys; the
    brand-graph instance is bounded (|brands|^2 edges) but the plan is
    the one that runs on a billion-edge graph.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    edges = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) -> "
                    "transform(slice(brands, i + 2, size(brands)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .transform(pin)
    )
    w1 = edges.select(F.col("a").alias("wa"), F.col("b").alias("wb"))
    w2 = edges.select(F.col("a").alias("xa"), F.col("b").alias("xc"))
    wedges = w1.join(w2, F.col("wb") == F.col("xa")).select(
        F.col("wa").alias("ta"), F.col("wb").alias("tb"), F.col("xc").alias("tc")
    )
    closing = edges.select(F.col("a").alias("ca"), F.col("b").alias("cc"))
    tris = wedges.join(
        closing, (F.col("ta") == F.col("ca")) & (F.col("tc") == F.col("cc"))
    ).select("ta", "tb", "tc")
    per_node = (
        tris.select(F.explode(F.array("ta", "tb", "tc")).alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    degree = (
        edges.select(F.explode(F.array("a", "b")).alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        degree.join(per_node, "brand", "left")
        .select(
            "brand",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
        .orderBy("brand")
    )


def graph_triangle_count_sql() -> str:
    return """
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), edges AS (
        SELECT DISTINCT x.p_brand AS a, y.p_brand AS b
        FROM ob x JOIN ob y
          ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
    ), tris AS (
        SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ), pern AS (
        SELECT brand, count(*)::bigint AS n_triangles FROM (
            SELECT ta AS brand FROM tris
            UNION ALL SELECT tb FROM tris
            UNION ALL SELECT tc FROM tris
        ) GROUP BY brand
    ), deg AS (
        SELECT brand, count(*)::bigint AS degree FROM (
            SELECT a AS brand FROM edges
            UNION ALL SELECT b FROM edges
        ) GROUP BY brand
    )
    SELECT d.brand, d.degree, coalesce(p.n_triangles, 0)::bigint AS n_triangles
    FROM deg d LEFT JOIN pern p ON d.brand = p.brand
    ORDER BY d.brand
    """


# --------------------------------------------------------------------------
# shared-neighbor similarity (link prediction)
# --------------------------------------------------------------------------

JACCARD_NEIGHBOR_TOP_N = 20


def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between brand nodes — the
    link-prediction / recommendation primitive ("brands bought with
    similar baskets").

    Shape: undirected edges are materialized once; common-neighbor
    counts come from the SAME wedge join as triangle counting (edges
    joined on the shared endpoint, pair oriented a<b), degrees fold
    from the edge table, and Jaccard = common / (deg_a + deg_b -
    common) in integer permille. Every join is a hash equijoin on node
    keys; wedge fan-out is bounded by per-node degree, the quantity a
    production run caps (degree-cutoff) on power-law graphs.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    und = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) -> "
                    "transform(slice(brands, i + 2, size(brands)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .transform(pin)
    )
    # symmetric adjacency: (node, neighbor) both directions
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("nb")).unionByName(
        und.select(F.col("b").alias("n"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    l = adj.select(F.col("nb").alias("mid"), F.col("n").alias("a"))
    r = adj.select(F.col("nb").alias("mid_r"), F.col("n").alias("b"))
    common = (
        l.join(r, (F.col("mid") == F.col("mid_r")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    return (
        common.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            "deg_a",
            "deg_b",
            F.expr("common * 1000 div (deg_a + deg_b - common)").alias(
                "jaccard_permille"
            ),
        )
        .orderBy(F.desc("jaccard_permille"), F.desc("common"), "a", "b")
        .limit(JACCARD_NEIGHBOR_TOP_N)
    )


def graph_jaccard_neighbors_sql() -> str:
    return f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), und AS (
        SELECT DISTINCT x.p_brand AS a, y.p_brand AS b
        FROM ob x JOIN ob y
          ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
    ), adj AS (
        SELECT a AS n, b AS nb FROM und
        UNION ALL SELECT b, a FROM und
    ), deg AS (
        SELECT n, count(*)::bigint AS deg FROM adj GROUP BY n
    ), common AS (
        SELECT l.n AS a, r.n AS b, count(*)::bigint AS common
        FROM adj l JOIN adj r ON l.nb = r.nb AND l.n < r.n
        GROUP BY l.n, r.n
    )
    SELECT c.a, c.b, c.common, da.deg AS deg_a, db.deg AS deg_b,
           (c.common * 1000 // (da.deg + db.deg - c.common))::bigint
               AS jaccard_permille
    FROM common c
    JOIN deg da ON c.a = da.n
    JOIN deg db ON c.b = db.n
    ORDER BY jaccard_permille DESC, common DESC, a, b
    LIMIT {JACCARD_NEIGHBOR_TOP_N}
    """


# --------------------------------------------------------------------------
# recursive CTE (Spark 4 SQL surface): BFS hop distance
# --------------------------------------------------------------------------

_REACH_SQL = """
WITH RECURSIVE ob AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM {li} JOIN {part} ON l_partkey = p_partkey
), und AS (
    SELECT DISTINCT x.p_brand AS a, y.p_brand AS b
    FROM ob x JOIN ob y
      ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
), edges AS (
    SELECT a, b FROM und UNION ALL SELECT b, a FROM und
), seed AS (
    SELECT min(p_brand) AS s FROM {part}
), reach(brand, hop) AS (
    SELECT s, 0 FROM seed
    UNION ALL
    SELECT e.b, r.hop + 1
    FROM reach r JOIN edges e ON e.a = r.brand
    WHERE r.hop < 3
)
SELECT brand, min(hop) AS hops
FROM reach GROUP BY brand ORDER BY brand
"""


def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — the Spark 4 SQL surface for iterative graph /
    hierarchy queries inside ONE statement: BFS hop distance from the
    lexicographically-first brand over the co-purchase graph, hop-
    bounded (the recursion depth limit every production recursive query
    carries), minimum distance per node after.

    The engine's own iteration (dedup_clusters' star contraction,
    graph_pagerank's unrolled rounds) remains the scale path for
    unbounded depth; this certifies the declarative surface against
    DuckDB's recursive CTE over the same edge derivation.

    Scale shape: the corpus-scale work (lineitem ⋈ part -> distinct
    brand pairs) is materialized ONCE behind a pin before the
    recursion — without it Spark's recursive execution re-evaluates
    the anchor's entire subtree every iteration (measured 7.8 s -> the
    corpus chain three times); the recursive member also DISTINCTs its
    frontier so each hop carries at most |brands| rows instead of
    degree^hop duplicates (UNION-dedup recursion is DuckDB-only,
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE in Spark 4.1).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_rc_li")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("v_rc_part")
    edges = spark.sql(
        """
        WITH ob AS (
            SELECT DISTINCT l_orderkey, p_brand
            FROM v_rc_li JOIN v_rc_part ON l_partkey = p_partkey
        ), und AS (
            SELECT DISTINCT x.p_brand AS a, y.p_brand AS b
            FROM ob x JOIN ob y
              ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
        )
        SELECT a, b FROM und UNION ALL SELECT b, a FROM und
        """
    ).transform(pin)
    edges.createOrReplaceTempView("v_rc_edges")
    return spark.sql(
        """
        WITH RECURSIVE reach(brand, hop) AS (
            SELECT min(p_brand), 0 FROM v_rc_part
            UNION ALL
            SELECT DISTINCT e.b, r.hop + 1
            FROM reach r JOIN v_rc_edges e ON e.a = r.brand
            WHERE r.hop < 3
        )
        SELECT brand, min(hop) AS hops
        FROM reach GROUP BY brand ORDER BY brand
        """
    )


def q_recursive_cte_sql() -> str:
    return _REACH_SQL.format(li="lineitem", part="part").replace(
        "min(hop) AS hops", "min(hop)::int AS hops"
    )


# --------------------------------------------------------------------------
# synchronous min-label propagation (community seeds / components step)
# --------------------------------------------------------------------------

LP_ITERS = 2


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation over the part–supplier bipartite
    graph: every node starts labeled with its own id; each round a node
    adopts ``least(own, min(neighbor labels))``. After LP_ITERS rounds
    the labels are the distance-LP_ITERS component seeds — the building
    block of large-scale connected components / community detection
    (dedup_clusters' star contraction is the converged cousin; this op
    certifies the bounded-round synchronous variant an oracle can
    replay exactly, since fixed-round label states are deterministic
    where convergence loops are data-dependent).

    Scale shape per round: one (dst -> label) hash join + a min
    aggregation on src — both shuffles on the edge key, no global
    structure on the driver, plan kept flat with a lazy checkpoint
    between rounds (the emb_kmeans/dedup_clusters pattern).
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("p"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
        .transform(pin)
    )
    und = edges.select(F.col("p").alias("src"), F.col("s").alias("dst")).union(
        edges.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    labels = und.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("lbl")
    )
    for _ in range(LP_ITERS):
        nb = (
            und.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("lbl").alias("nlbl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("nb_min"))
        )
        labels = (
            labels.join(nb, labels["node"] == nb["src"])
            .select("node", F.least(F.col("lbl"), F.col("nb_min")).alias("lbl"))
            .transform(pin)
        )
    return labels.select("node", F.col("lbl").alias("label")).orderBy("node")


def graph_label_propagation_sql() -> str:
    # one (min-over-neighbors, least-with-self) CTE pair per round,
    # GENERATED from LP_ITERS so tuning the knob can never silently
    # desynchronize the oracle from the Spark loop
    rounds = []
    prev = "l0"
    for r in range(1, LP_ITERS + 1):
        rounds.append(
            f"m{r} AS (SELECT u.src AS node, min(l.lbl) AS nb "
            f"FROM und u JOIN {prev} l ON u.dst = l.node GROUP BY u.src)"
        )
        rounds.append(
            f"l{r} AS (SELECT l.node, least(l.lbl, m.nb) AS lbl "
            f"FROM {prev} l JOIN m{r} m ON l.node = m.node)"
        )
        prev = f"l{r}"
    return f"""
    WITH e AS (
        SELECT DISTINCT 'p:' || l_partkey::varchar AS p,
                        's:' || l_suppkey::varchar AS s
        FROM lineitem
    ), und AS (
        SELECT p AS src, s AS dst FROM e
        UNION ALL
        SELECT s AS src, p AS dst FROM e
    ), l0 AS (
        SELECT DISTINCT src AS node, src AS lbl FROM und
    ), {", ".join(rounds)}
    SELECT node, lbl AS label FROM {prev} ORDER BY node
    """


KCORE_K = 3       # core threshold
KCORE_ROUNDS = 2  # bounded peel rounds (fixed-round states replay in SQL)


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core decomposition of the part--supplier graph:
    repeatedly peel nodes of degree < K, report the surviving nodes and
    their in-core degree — the subgraph-density primitive behind spam /
    collusion detection and graph sparsification, in the same
    fixed-iteration discipline as graph_label_propagation (a
    convergence loop is not oracle-replayable; KCORE_ROUNDS states
    are).

    Per round: one degree aggregation on the live edge set and one
    semi-join of edges against surviving endpoints (both shuffles on
    the node key), with a lazy checkpoint so round N+1 reads round N's
    edges instead of re-deriving the chain. Output rows are nodes that
    still meet the threshold after the final peel.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("p"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
        .transform(pin)
    )
    ed = edges.select(F.col("p").alias("src"), F.col("s").alias("dst")).union(
        edges.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    for _ in range(KCORE_ROUNDS):
        alive = (
            ed.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= KCORE_K)
            .select("src")
        )
        ed = (
            ed.join(alive, "src")
            .join(alive.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .transform(pin)
        )
    return (
        ed.groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .where(F.col("core_degree") >= KCORE_K)
        .select(F.col("src").alias("node"), "core_degree")
        .orderBy("node")
    )


def graph_kcore_sql() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"a{r} AS (SELECT src FROM {prev} GROUP BY src "
            f"HAVING count(*) >= {KCORE_K})"
        )
        rounds.append(
            f"e{r} AS (SELECT e.src, e.dst FROM {prev} e "
            f"JOIN a{r} x ON e.src = x.src "
            f"JOIN a{r} y ON e.dst = y.src)"
        )
        prev = f"e{r}"
    return f"""
    WITH base AS (
        SELECT DISTINCT 'p:' || l_partkey::VARCHAR AS p,
                        's:' || l_suppkey::VARCHAR AS s
        FROM lineitem
    ), e0 AS (
        SELECT p AS src, s AS dst FROM base
        UNION ALL
        SELECT s AS src, p AS dst FROM base
    ), {", ".join(rounds)}
    SELECT src AS node, count(*)::BIGINT AS core_degree
    FROM {prev} GROUP BY src HAVING count(*) >= {KCORE_K}
    ORDER BY node
    """


HITS_ITERS = 2
HITS_TOP_K = 20


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the part→supplier bipartite graph
    (parts are hubs, suppliers are authorities): auth(s) = Σ hub(p)
    over incident edges, hub(p) = Σ auth(s), L1-normalized each round —
    the query-independent importance duo PageRank's single score can't
    give a bipartite catalog.

    Fixed HITS_ITERS synchronous rounds (bounded-round states replay in
    SQL, like graph_label_propagation); each round is two edge-keyed
    hash joins + aggregations with the 1-row normalizer broadcast
    resolved in-plan. L1 (not L2) normalization keeps the normalizer a
    plain sum. Top-K authorities via sort+limit TakeOrdered.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .transform(pin)
    )
    hub = edges.select("p").distinct().select("p", F.lit(1.0).alias("h"))
    for r in range(HITS_ITERS):
        if r:
            # the hub update of round r-1; the last round's hub is unread
            h_raw = edges.join(auth, "s").groupBy("p").agg(F.sum("a").alias("h_raw"))
            h_tot = h_raw.agg(F.sum("h_raw").alias("ht"))
            hub = (
                h_raw.crossJoin(F.broadcast(h_tot))
                .select("p", (F.col("h_raw") / F.col("ht")).alias("h"))
                .transform(pin)
            )
        a_raw = (
            edges.join(hub, "p").groupBy("s").agg(F.sum("h").alias("a_raw"))
        )
        a_tot = a_raw.agg(F.sum("a_raw").alias("at"))
        auth = (
            a_raw.crossJoin(F.broadcast(a_tot))
            .select("s", (F.col("a_raw") / F.col("at")).alias("a"))
            .transform(pin)
        )
    return (
        auth.select(
            F.col("s").alias("supplier"), F.round(F.col("a") * 1e6, 6).alias("auth_ppm")
        )
        .orderBy(F.desc("auth_ppm"), F.asc("supplier"))
        .limit(HITS_TOP_K)
    )


def graph_hits_sql() -> str:
    # one (auth, hub) CTE pair per round, GENERATED from HITS_ITERS so
    # tuning the knob cannot desynchronize the oracle from the loop
    rounds = []
    prev_hub = "h0"
    auth_name = None
    for r in range(1, HITS_ITERS + 1):
        auth_name = f"a{r}"
        rounds.append(
            f"a{r}_raw AS (SELECT e.s, sum(h.h) AS a_raw "
            f"FROM e JOIN {prev_hub} h USING (p) GROUP BY e.s)"
        )
        rounds.append(
            f"a{r} AS (SELECT s, a_raw / (SELECT sum(a_raw) FROM a{r}_raw) AS a "
            f"FROM a{r}_raw)"
        )
        rounds.append(
            f"h{r}_raw AS (SELECT e.p, sum(a.a) AS h_raw "
            f"FROM e JOIN a{r} a USING (s) GROUP BY e.p)"
        )
        rounds.append(
            f"h{r} AS (SELECT p, h_raw / (SELECT sum(h_raw) FROM h{r}_raw) AS h "
            f"FROM h{r}_raw)"
        )
        prev_hub = f"h{r}"
    return f"""
    WITH e AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), h0 AS (
        SELECT DISTINCT p, 1.0 AS h FROM e
    ), {", ".join(rounds)}
    SELECT s AS supplier, round(a * 1e6, 6) AS auth_ppm
    FROM {auth_name}
    ORDER BY auth_ppm DESC, supplier LIMIT {HITS_TOP_K}
    """


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part–supplier co-purchase graph: the
    Pearson correlation of endpoint degrees over edges — do high-degree
    nodes attach to high-degree nodes? The one-number mixing summary
    (negative for hub-and-spoke catalogs, positive for social cores).

    Shape: distinct edges → degree table (one shuffle) → two degree
    joins back onto edges (both ends) → ONE moment aggregation over
    the symmetrized edge list. Degrees are exact integers; the
    correlation is the only float step, identical literal structure in
    both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("a"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
        .transform(pin)
    )
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    j = (
        und.join(deg.withColumnRenamed("a", "x").withColumnRenamed("d", "dx"),
                 F.col("a") == F.col("x"))
        .join(deg.withColumnRenamed("a", "y").withColumnRenamed("d", "dy"),
              F.col("b") == F.col("y"))
        .select("dx", "dy")
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.expr("dx * dy")).alias("sxy"),
        F.sum(F.expr("dx * dx")).alias("sxx"),
        F.sum(F.expr("dy * dy")).alias("syy"),
    )
    # degree-assortativity is undefined when either endpoint degree
    # sequence has zero variance (a single-edge / star-degenerate graph
    # — round-9 probe): emit NULL, not an ANSI DIVIDE_BY_ZERO crash.
    # The guard reuses the sqrt operands (exact integers), so both
    # engines take the same branch.
    pos = "(m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0)"
    r = (
        "(m * sxy - sx * sy) / (sqrt(m * sxx - sx * sx) "
        "* sqrt(m * syy - sy * sy))"
    )
    return agg.selectExpr(
        "m AS n_directed_edges",
        f"CASE WHEN {pos} THEN round({r}, 6) END AS assortativity",
    )


def graph_assortativity_sql() -> str:
    pos = "(m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0)"
    r = (
        "(m * sxy - sx * sy) / (sqrt(m * sxx - sx * sx) "
        "* sqrt(m * syy - sy * sy))"
    )
    return f"""
    WITH e AS (
        SELECT DISTINCT 'p:' || l_partkey::varchar AS a,
                        's:' || l_suppkey::varchar AS b
        FROM lineitem
    ), und AS (
        SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
    ), deg AS (
        SELECT a, count(*)::BIGINT AS d FROM und GROUP BY a
    ), j AS (
        SELECT da.d AS dx, db.d AS dy
        FROM und JOIN deg da ON und.a = da.a JOIN deg db ON und.b = db.a
    ), agg AS (
        SELECT count(*)::BIGINT AS m, sum(dx)::BIGINT AS sx,
               sum(dy)::BIGINT AS sy, sum(dx * dy)::BIGINT AS sxy,
               sum(dx * dx)::BIGINT AS sxx, sum(dy * dy)::BIGINT AS syy
        FROM j
    )
    SELECT m AS n_directed_edges,
           CASE WHEN {pos} THEN round({r}, 6) END AS assortativity
    FROM agg
    """


# --------------------------------------------------------------------------
# clustering coefficient (local + global, composed over triangle counts)
# --------------------------------------------------------------------------

def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per brand node — cc(v) = 2T(v) /
    (deg(v)(deg(v)−1)) — plus the two GRAPH-level summaries every
    network report carries: the average local coefficient
    (Watts-Strogatz) and global transitivity (3·triangles / wedges).
    Composes graph_triangle_count's oriented-wedge pipeline (its
    (brand, degree, n_triangles) output IS the cc numerator/denominator
    table), so the expensive triangle join is written once; the two
    global scalars re-aggregate the |brands|-bounded node table and
    ride back on a 1-row broadcast.

    try_divide handles deg<2 nodes (cc undefined -> NULL, matching the
    oracle's x/0 semantics).
    """
    # cc = 2T/(d(d−1)), avg cc and transitivity = 2ΣT/Σd(d−1) are PURE
    # integer rationals — integer-exact HALF_UP micro-units
    # (rendered-SQL lint, round 7); deg<2 ⇒ q=0 ⇒ NULL in both engines
    # via the nullif inside sp_units.
    nodes = graph_triangle_count(spark, sf_dir)
    cc = nodes.withColumn(
        "cc_units",
        F.expr(
            sp_units(
                "2 * cast(n_triangles as bigint)",
                "cast(degree as bigint) * (degree - 1)",
            )
        ),
    ).withColumn("local_cc", F.expr("cast(cc_units as double) / 1000000.0"))
    glob = cc.agg(
        F.sum("cc_units").alias("s_units"),
        F.count("cc_units").alias("n_cc"),
        F.sum("n_triangles").alias("s_tri"),
        F.sum(F.col("degree") * (F.col("degree") - F.lit(1))).alias("s_dd1"),
    ).selectExpr(
        f"{sp_rat6('s_units', 'cast(n_cc as decimal(38,0)) * 1000000')}"
        " AS avg_local_cc",
        f"{sp_rat6('2 * cast(s_tri as bigint)', 's_dd1')} AS transitivity",
    )
    return (
        cc.crossJoin(F.broadcast(glob))
        .select(
            "brand", "degree", "n_triangles", "local_cc",
            "avg_local_cc", "transitivity",
        )
        .orderBy("brand")
    )


def graph_clustering_coefficient_sql() -> str:
    # wraps the triangle-count oracle (same node table), then the cc
    # arithmetic; per-triangle node incidence = T(v), wedges from degree
    base = graph_triangle_count_sql().strip().rstrip()
    # strip the trailing ORDER BY of the inner query (CTE-safe wrap)
    inner = base[: base.rindex("ORDER BY")]
    return f"""
    WITH nodes AS (
        {inner}
    ), cc AS (
        SELECT brand, degree, n_triangles,
               {dk_units('2 * n_triangles::BIGINT',
                         'degree::BIGINT * (degree - 1)')} AS cc_units
        FROM nodes
    ), gstats AS (
        SELECT {dk_rat6('sum(cc_units)',
                        'count(cc_units)::HUGEINT * 1000000')} AS avg_local_cc,
               {dk_rat6('2 * sum(n_triangles)::BIGINT',
                        'sum(degree::BIGINT * (degree - 1))')} AS transitivity
        FROM cc
    )
    SELECT brand, degree, n_triangles,
           cc_units::DOUBLE / 1000000.0 AS local_cc,
           avg_local_cc, transitivity
    FROM cc CROSS JOIN gstats
    ORDER BY brand
    """


def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the user × event-type interaction graph
    onto the event-type side: for each type pair, how many users touch
    both, the co-occurrence weight (Σ per-user count products) and the
    cosine of the two types' user-count vectors — the "which behaviors
    travel together" view that seeds recommendation and taxonomy work.

    ONE shuffle to (user, type) integer weights; the pair join is
    co-partitioned on user_id with fan-out bounded by the TYPE
    cardinality (each user holds ≤ T types, so the join emits ≤ T²/2
    rows per user — duplicate-explosion invisible); per-type norms ride
    a bounded broadcast. Integer numerators throughout, cosine is the
    only float (exact-integer operands both engines). NULL rule: NULL
    user/type rows are not interactions (dropped both engines).
    """
    w = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("w"))
        # w feeds the norms AND both self-join sides — unpinned, the
        # events scan + grid collapse ran 3x. (user, type) grain: pin
        # it; the fact is scanned ONCE.
        .transform(pin)
    )
    norms = w.groupBy("event_type").agg(
        F.sum(F.expr("w * w")).alias("n2"),
        F.count(F.lit(1)).alias("n_users"),
    )
    a = w.select(
        "user_id", F.col("event_type").alias("ta"), F.col("w").alias("wa")
    )
    b = w.select(
        "user_id", F.col("event_type").alias("tb"), F.col("w").alias("wb")
    )
    pairs = (
        a.join(b, ["user_id"])
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).alias("common_users"),
            F.sum(F.expr("wa * wb")).alias("dot"),
        )
    )
    na = norms.select(F.col("event_type").alias("ta"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("event_type").alias("tb"), F.col("n2").alias("nb2"))
    return (
        pairs.join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .selectExpr(
            "ta AS type_a",
            "tb AS type_b",
            "common_users",
            "dot AS co_weight",
            "round(dot / (sqrt(cast(na2 as double)) * sqrt(cast(nb2 as double))), 6)"
            " AS cosine",
        )
        .orderBy("type_a", "type_b")
    )


def graph_bipartite_projection_sql() -> str:
    return """
    WITH w AS (
        SELECT user_id, event_type, count(*)::BIGINT AS w
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ), norms AS (
        SELECT event_type, sum(w * w)::BIGINT AS n2
        FROM w GROUP BY 1
    ), pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               count(*)::BIGINT AS common_users,
               sum(a.w * b.w)::BIGINT AS dot
        FROM w a JOIN w b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT ta AS type_a, tb AS type_b, common_users, dot AS co_weight,
           round(dot / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS cosine
    FROM pairs
    JOIN norms na ON pairs.ta = na.event_type
    JOIN norms nb ON pairs.tb = nb.event_type
    ORDER BY type_a, type_b
    """


BFS_HOPS = 3


def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances on the part–supplier bipartite
    graph: nodes per shortest-path hop (0..3) from the supplier seed
    stripe, plus the unreachable remainder — the reachability /
    blast-radius primitive (recall expansion, supply-chain exposure)
    beside graph_pagerank's centrality.

    Frontier-expansion shape, 3 UNROLLED rounds (graph_pagerank's
    determinism discipline): each round is one frontier⋈edges join on
    the edge key plus an anti-join against the visited set — the
    visited set stays partitioned on the node key, no collected
    frontiers, a pin per round caps the plan. Counts
    collapse to the ≤5-row hop grid. NULL rule: lines missing either
    key form no edge (both engines).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    edges = (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("p"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
        .transform(pin)
    )
    und = edges.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionAll(
        edges.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    seeds = (
        li.select(F.col("l_suppkey").alias("k"))
        .distinct()
        .where(F.col("k") % 100 == 1)
        .select(
            F.concat(F.lit("s:"), F.col("k").cast("string")).alias("node"),
            F.lit(0).alias("hop"),
        )
    )
    dist = pin(seeds)
    frontier = dist
    for h in range(1, BFS_HOPS + 1):
        nbr = (
            frontier.join(und, frontier.node == und.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            nbr.join(dist.select("node").withColumnRenamed("node", "_v"),
                     nbr.node == F.col("_v"), "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .transform(pin)
        )
        dist = dist.unionAll(new)
        frontier = new
    reached = dist.groupBy("hop").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreached = (
        nodes.join(dist.select("node").withColumnRenamed("node", "_v"),
                   nodes.node == F.col("_v"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit(-1).alias("hop"), "n_nodes")
    )
    return reached.unionAll(unreached).orderBy("hop")


def graph_shortest_paths_sql() -> str:
    return """
    WITH e AS (
        SELECT DISTINCT 'p:' || l_partkey::VARCHAR AS p,
                        's:' || l_suppkey::VARCHAR AS s
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    ), und AS (
        SELECT p AS src, s AS dst FROM e
        UNION ALL
        SELECT s AS src, p AS dst FROM e
    ), nodes AS (
        SELECT DISTINCT src AS node FROM und
    ), d0 AS (
        SELECT DISTINCT 's:' || l_suppkey::VARCHAR AS node
        FROM lineitem
        WHERE l_suppkey IS NOT NULL AND l_suppkey % 100 = 1
    ), d1 AS (
        SELECT DISTINCT dst AS node FROM und JOIN d0 ON src = node
        WHERE dst NOT IN (SELECT node FROM d0)
    ), d2 AS (
        SELECT DISTINCT dst AS node FROM und JOIN d1 ON src = node
        WHERE dst NOT IN (SELECT node FROM d0)
          AND dst NOT IN (SELECT node FROM d1)
    ), d3 AS (
        SELECT DISTINCT dst AS node FROM und JOIN d2 ON src = node
        WHERE dst NOT IN (SELECT node FROM d0)
          AND dst NOT IN (SELECT node FROM d1)
          AND dst NOT IN (SELECT node FROM d2)
    ), hops AS (
        SELECT 0 AS hop, count(*)::BIGINT AS n_nodes FROM d0
        UNION ALL SELECT 1, count(*)::BIGINT FROM d1
        UNION ALL SELECT 2, count(*)::BIGINT FROM d2
        UNION ALL SELECT 3, count(*)::BIGINT FROM d3
        UNION ALL
        SELECT -1, count(*)::BIGINT FROM nodes
        WHERE node NOT IN (SELECT node FROM d0)
          AND node NOT IN (SELECT node FROM d1)
          AND node NOT IN (SELECT node FROM d2)
          AND node NOT IN (SELECT node FROM d3)
    )
    SELECT hop, n_nodes FROM hops
    WHERE hop = -1 OR n_nodes > 0
    ORDER BY hop
    """


HARMONIC_HOPS = 3
# Bounded seed stripe: suppkey % smod == 1 with smod = max(100,
# n_suppliers // HARMONIC_SEED_TARGET) derived from the supplier count
# IN-PLAN (1-row broadcast scalar). The r6 fixed `% 100` made the seed
# count grow linearly with the supplier dimension, so (seed ×
# 3-hop-reach) state grew superlinearly at 100× — the exact scale bug
# the ANN query stripe killed with its derived qmod
# (similarity.py:QUERY_MOD_MIN). The floor keeps small-SF seed sets
# identical to the old stripe.
HARMONIC_SEED_TARGET = 8
HARMONIC_SEED_MOD_MIN = 100


def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bitmap rewrite of the per-seed BFS (VERDICT r8 #4): instead
    of (seed, node) frontier rows — whose expansion join carries a
    |seeds|× multiplier and needs a distinct + anti-join pair every
    round — pack ALL seeds into one 64-bit mask per node and expand
    CUMULATIVE reachability:

        C_0(node) = seed bit;  C_h = bit_or(C_{h-1} ∪ expand(C_{h-1}))

    Each round is ONE equijoin against the undirected edge list (output
    bounded by |edges|, independent of seed count — map-side partial
    bit_or collapses before the shuffle) and ONE node-keyed bit_or
    aggregate; no distinct, no anti-join. Newly-reached-at-hop-h counts
    per seed fall out of the cumulative per-seed counts: n_h = c_h −
    c_{h-1} (a node first reached at hop h contributes to C_h but not
    C_{h-1}; re-reached nodes are already in C_{h-1} and cancel —
    exactly the frontier version's visited-set semantics). The seed
    stripe keeps |seeds| ≤ ~SEED_TARGET+1 at ANY corpus size (the
    derived modulus), so the 64-bit mask never saturates; the seed
    index window is over that same bounded stripe. Oracle and output
    identical to graph_harmonic_centrality_sql.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    # r12 (guide §2.3 — narrower types shuffle fewer bytes): nodes are
    # packed BIGINTs internally (part k → 2k, supplier k → 2k+1) instead
    # of 'p:…'/'s:…' strings. Every per-round exchange then carries an
    # 8-byte key with cheap hashing/equality instead of a ~10-byte
    # string; the seed strings the declared output needs are
    # reconstructed at the end over the ≤64-row seed stripe, so the
    # emitted rows (and the DuckDB oracle) are unchanged.
    edges = (
        li.select(
            (F.col("l_partkey").cast("bigint") * 2).alias("p"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("s"),
        )
        .distinct()
        .transform(pin)
    )
    # (pre-partitioning und by src was measured and rejected: the extra
    # 2|E|-row exchange costs more than the per-round join shuffles it
    # saves — 5.8 s vs 5.3 s median at sf0.1)
    und = edges.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionAll(
        edges.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    supp = li.select(F.col("l_suppkey").alias("k")).distinct()
    smod = F.broadcast(
        supp.groupBy()
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.greatest(
                F.lit(HARMONIC_SEED_MOD_MIN).cast("bigint"),
                (F.col("_n") / F.lit(HARMONIC_SEED_TARGET)).cast("bigint"),
            ).alias("_smod")
        )
    )
    # seed bit index = RANK over the bounded seed stripe (≤ SEED_TARGET
    # + 1 rows — the one intentionally-serial window, like the kmeans
    # seed pick), NOT (k-1)/smod from the raw key value: with SPARSE
    # supplier keys that quotient can exceed 63, where Spark's shiftleft
    # masks the shift amount mod 64 (silent seed aliasing) and
    # bit_get(mask, idx) raises. The stripe row count is
    # ≤ n/smod + 1 < 64 regardless of key density.
    sw = Window.orderBy("k")
    sidx = (
        supp.crossJoin(smod)
        .where(F.col("k") % F.col("_smod") == 1)
        .select(
            (F.col("k").cast("bigint") * 2 + 1).alias("seed"),
            (F.row_number().over(sw) - 1).cast("int").alias("idx"),
        )
        .transform(pin)
    )
    cum = sidx.select(
        F.col("seed").alias("node"),
        F.expr("shiftleft(cast(1 as bigint), idx)").alias("mask"),
    )
    cums = []
    for _h in range(1, HARMONIC_HOPS + 1):
        # the pinned cum side carries no stats,
        # so the planner falls back to sort-merge — sorting the 2|E|-row
        # edge list every round. SHUFFLE_HASH builds the (strictly
        # smaller, |nodes|-bounded) cum side as a per-partition hash
        # table instead: same shuffles, zero per-round sorts, and the
        # build side stays memory-bounded at any scale because it is
        # per-partition nodes, not the corpus.
        expanded = cum.hint("shuffle_hash").join(
            und, cum["node"] == und["src"]
        ).select(und["dst"].alias("node"), "mask")
        # lazy checkpoint: each C_h feeds BOTH the next round and the
        # final count union — without it the reuse doubles per round
        cum = (
            cum.unionAll(expanded)
            .groupBy("node")
            .agg(F.expr("bit_or(mask)").alias("mask"))
            .transform(pin)
        )
        cums.append(cum)
    tagged = None
    for h, c_h in enumerate(cums, start=1):
        t = c_h.select(F.lit(h).alias("h"), "mask")
        tagged = t if tagged is None else tagged.unionAll(t)
    counts = (
        tagged.crossJoin(F.broadcast(sidx))
        .select("h", "seed", F.expr("bit_get(mask, idx)").cast("bigint").alias("b"))
        .groupBy("seed")
        .agg(
            *[
                F.sum(F.when(F.col("h") == h, F.col("b")).otherwise(F.lit(0)))
                .alias(f"c{h}")
                for h in range(1, HARMONIC_HOPS + 1)
            ]
        )
    )
    return (
        counts.selectExpr(
            # unpack the bigint seed back to the declared 's:<k>' string
            # (supplier ids are odd-packed: k = (seed - 1) / 2)
            "'s:' || cast((seed - 1) div 2 as string) AS seed",
            "c1 - 1 AS n1",          # C_0 is exactly {seed}
            "c2 - c1 AS n2",
            "c3 - c2 AS n3",
        )
        .selectExpr(
            "seed",
            "n1 AS n_hop1",
            "n2 AS n_hop2",
            "n3 AS n_hop3",
            f"{sp_rat6('6 * n1 + 3 * n2 + 2 * n3', '6')} AS harmonic_3hop",
        )
        .orderBy("seed")
    )


def graph_harmonic_centrality_sql() -> str:
    return f"""
    WITH li AS (
        SELECT DISTINCT 'p:' || l_partkey::VARCHAR AS p,
               's:' || l_suppkey::VARCHAR AS s
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    ), und AS (
        SELECT p AS src, s AS dst FROM li
        UNION ALL
        SELECT s AS src, p AS dst FROM li
    ), supp AS (
        SELECT DISTINCT l_suppkey AS k FROM lineitem
        WHERE l_suppkey IS NOT NULL
    ), seeds AS (
        SELECT 's:' || k::VARCHAR AS seed FROM supp
        WHERE k % greatest({HARMONIC_SEED_MOD_MIN},
                           (SELECT count(*) FROM supp)
                           // {HARMONIC_SEED_TARGET}) = 1
    ), d0 AS (
        SELECT seed, seed AS node FROM seeds
    ), f1 AS (
        SELECT DISTINCT d0.seed, und.dst AS node
        FROM d0 JOIN und ON d0.node = und.src
    ), d1 AS (
        SELECT seed, node FROM f1 EXCEPT SELECT seed, node FROM d0
    ), f2 AS (
        SELECT DISTINCT d1.seed, und.dst AS node
        FROM d1 JOIN und ON d1.node = und.src
    ), d2 AS (
        SELECT seed, node FROM f2
        EXCEPT (SELECT seed, node FROM d0 UNION ALL SELECT seed, node FROM d1)
    ), f3 AS (
        SELECT DISTINCT d2.seed, und.dst AS node
        FROM d2 JOIN und ON d2.node = und.src
    ), d3 AS (
        SELECT seed, node FROM f3
        EXCEPT (SELECT seed, node FROM d0
                UNION ALL SELECT seed, node FROM d1
                UNION ALL SELECT seed, node FROM d2)
    ), grid AS (
        SELECT seed,
               (SELECT count(*) FROM d1 WHERE d1.seed = seeds.seed)::BIGINT AS n1,
               (SELECT count(*) FROM d2 WHERE d2.seed = seeds.seed)::BIGINT AS n2,
               (SELECT count(*) FROM d3 WHERE d3.seed = seeds.seed)::BIGINT AS n3
        FROM seeds
    )
    SELECT seed, n1 AS n_hop1, n2 AS n_hop2, n3 AS n_hop3,
           {dk_rat6('6 * n1 + 3 * n2 + 2 * n3', '6')} AS harmonic_3hop
    FROM grid ORDER BY seed
    """


RICH_CLUB_DEGREE_QUANTILE = 0.9


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the part–supplier co-purchase brand
    graph's TOP-degree decile: do the best-connected brands also
    connect to EACH OTHER (φ = 2E_club/(N_club(N_club−1)))? — the
    hub-interconnection read beside graph_assortativity's global
    correlation (assortativity says "like links like"; the rich club
    says whether an elite core exists at all).

    Brand co-purchase edges build once (distinct (order, brand) then a
    brand<brand pair collapse — the q_basket_pairs shape); degrees roll
    to the BRANDS-bounded axis, the degree cutoff is an exact
    percentile on that bounded table, club edges are one semi-join each
    side, and φ is a PURE integer rational — integer-exact HALF_UP
    (round-boundary rule). NULL keys form no edge (both engines).
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select("l_orderkey", F.col("p_brand").alias("ba"))
    b = ob.select(
        F.col("l_orderkey").alias("_o"), F.col("p_brand").alias("bb")
    )
    edges = (
        a.join(b, (F.col("l_orderkey") == F.col("_o")) & (F.col("ba") < F.col("bb")))
        .select("ba", "bb")
        .distinct()
        .transform(pin)
    )
    deg = (
        edges.select(F.col("ba").alias("node"))
        .unionAll(edges.select(F.col("bb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    cut = F.broadcast(
        deg.agg(
            F.expr(
                f"percentile(deg, {RICH_CLUB_DEGREE_QUANTILE})"
            ).alias("dcut")
        )
    )
    club = (
        deg.crossJoin(cut)
        .where(F.col("deg").cast("double") >= F.col("dcut"))
        .select("node")
    )
    n_club = club.agg(F.count(F.lit(1)).alias("nc"))
    e_club = (
        edges.join(club.withColumnRenamed("node", "_a"), F.col("ba") == F.col("_a"), "left_semi")
        .join(club.withColumnRenamed("node", "_b"), F.col("bb") == F.col("_b"), "left_semi")
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    totals = F.broadcast(
        edges.agg(F.count(F.lit(1)).alias("e_total")).crossJoin(
            deg.agg(F.count(F.lit(1)).alias("n_total"))
        )
    )
    return (
        n_club.crossJoin(F.broadcast(e_club))
        .crossJoin(totals)
        .selectExpr(
            "n_total AS n_brands",
            "e_total AS n_edges",
            "nc AS n_club",
            "ec AS e_club",
            f"""{sp_rat6(
                '2 * cast(ec as decimal(38,0))',
                'cast(nc as decimal(38,0)) * (nc - 1)',
            )} AS rich_club_phi""",
            f"""{sp_rat6(
                '2 * cast(e_total as decimal(38,0))',
                'cast(n_total as decimal(38,0)) * (n_total - 1)',
            )} AS graph_density""",
        )
    )


def graph_rich_club_sql() -> str:
    return f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), edges AS (
        SELECT DISTINCT a.p_brand AS ba, b.p_brand AS bb
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    ), deg AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
            SELECT ba AS node FROM edges
            UNION ALL SELECT bb AS node FROM edges
        ) GROUP BY 1
    ), cut AS (
        SELECT quantile_cont(deg, {RICH_CLUB_DEGREE_QUANTILE}) AS dcut
        FROM deg
    ), club AS (
        SELECT node FROM deg CROSS JOIN cut WHERE deg::DOUBLE >= dcut
    ), ec AS (
        SELECT count(*)::BIGINT AS ec FROM edges
        WHERE ba IN (SELECT node FROM club)
          AND bb IN (SELECT node FROM club)
    ), nc AS (
        SELECT count(*)::BIGINT AS nc FROM club
    ), tot AS (
        SELECT (SELECT count(*) FROM edges)::BIGINT AS e_total,
               (SELECT count(*) FROM deg)::BIGINT AS n_total
    )
    SELECT n_total AS n_brands, e_total AS n_edges, nc AS n_club,
           ec AS e_club,
           {dk_rat6('2 * ec::HUGEINT', 'nc::HUGEINT * (nc - 1)')}
               AS rich_club_phi,
           {dk_rat6('2 * e_total::HUGEINT', 'n_total::HUGEINT * (n_total - 1)')}
               AS graph_density
    FROM nc CROSS JOIN ec CROSS JOIN tot
    """


RA_TOP_N = 20   # bounded output: strongest link predictions


def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link-prediction index over the brand
    co-purchase graph: for each NON-adjacent brand pair, RA(a,b) =
    Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z) — common neighbors weighted inversely by
    their degree, so a hub shared with everyone contributes almost
    nothing while a rare shared neighbor dominates. The strongest
    simple predictor in the Zhou/Lü/Zhang benchmark family and the
    float-free cousin of Adamic-Adar (whose 1/ln·deg would re-expose
    engine libm differences — the repo's ln-literal rule; 1/deg is a
    pure rational).

    Exactness: each neighbor's contribution is the integer micro-unit
    HALF_UP(10⁶/deg) — computed ONCE per node on the degree table — so
    the pair score is an exact BIGINT SUM of integers, not a float sum
    (order-free on both engines). Shape: same bounded wedge join as
    graph_jaccard_neighbors (per-order brand sets → oriented pairs →
    mid-keyed equijoin); the adjacency ANTI-join drops already-linked
    pairs (link prediction scores absent edges); brand-grain tables
    are bounded by the catalog, top-N output.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    und = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, (x, i) -> "
                    "transform(slice(brands, i + 2, size(brands)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .transform(pin)
    )
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("nb")).unionByName(
        und.select(F.col("b").alias("n"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    units = deg.selectExpr(
        "n AS mid", "cast(" + sp_units("1", "deg") + " as bigint) AS unit"
    )
    l = adj.select(F.col("nb").alias("mid"), F.col("n").alias("a"))
    r = adj.select(F.col("nb").alias("mid_r"), F.col("n").alias("b"))
    pairs = (
        l.join(r, (F.col("mid") == F.col("mid_r")) & (F.col("a") < F.col("b")))
        .join(units, "mid")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum("unit").alias("ra_microunits"),
        )
    )
    non_edges = pairs.join(und, ["a", "b"], "left_anti")
    return (
        non_edges.selectExpr(
            "a",
            "b",
            "common",
            "ra_microunits",
            "cast(ra_microunits as double) / 1000000.0 AS ra_score",
        )
        .orderBy(F.desc("ra_microunits"), "a", "b")
        .limit(RA_TOP_N)
    )


def graph_resource_allocation_sql() -> str:
    return f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), und AS (
        SELECT DISTINCT x.p_brand AS a, y.p_brand AS b
        FROM ob x JOIN ob y
          ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
    ), adj AS (
        SELECT a AS n, b AS nb FROM und
        UNION ALL SELECT b, a FROM und
    ), deg AS (
        SELECT n, count(*)::BIGINT AS deg FROM adj GROUP BY n
    ), units AS (
        SELECT n AS mid, ({dk_units("1", "deg")})::BIGINT AS unit FROM deg
    ), pairs AS (
        SELECT l.n AS a, r.n AS b, count(*)::BIGINT AS common,
               sum(unit)::BIGINT AS ra_microunits
        FROM adj l
        JOIN adj r ON l.nb = r.nb AND l.n < r.n
        JOIN units ON units.mid = l.nb
        GROUP BY l.n, r.n
    ), non_edges AS (
        SELECT p.* FROM pairs p
        ANTI JOIN und ON und.a = p.a AND und.b = p.b
    )
    SELECT a, b, common, ra_microunits,
           ra_microunits::DOUBLE / 1000000.0 AS ra_score
    FROM non_edges
    ORDER BY ra_microunits DESC, a, b
    LIMIT {RA_TOP_N}
    """


KATZ_ITERS = 8
KATZ_ALPHA_DIV = 20     # α = 1/20 = 0.05 attenuation (literal rational)
KATZ_TOP_N = 20


def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the part-supplier bipartite graph — influence
    with geometric path attenuation x = Σ_k α^k A^k 1: unlike degree
    (k=1 only) or PageRank (degree-normalized flow), Katz credits a
    node for ALL walks reaching it, damped by length — the centrality
    of record for citation/endorsement semantics. Completes the
    centrality shelf beside graph_pagerank (flow), graph_hits
    (hub/authority) and graph_harmonic_centrality (distance).

    Exactness: the iteration x ← α·Aᵀx + 1 runs on an INTEGER lattice
    (x in 10⁻⁶ units, α the exact rational 1/KATZ_ALPHA_DIV applied as
    HALF_UP integer division PER EDGE TERM, then exact integer sums) —
    the stats_markov_stationary discipline: both engines walk
    bit-identical states, no float accumulation order anywhere. α=0.05
    sits far below 1/λ_max for any graph whose max degree is under
    ~400 (λ_max ≤ max_deg; certification needs only identical fixed
    iterations, not convergence — documented). Shape: KATZ_ITERS
    unrolled rounds of one keyed join + integer-sum aggregate on the
    edge table, spine re-join keeps isolated-direction nodes, lazy
    checkpoint per round (the graph_pagerank unroll); top-N output.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias(
                "p"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "s"
            ),
        )
        .distinct()
        .transform(pin)
    )
    ed = edges.select(F.col("p").alias("src"), F.col("s").alias("dst")).union(
        edges.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    spine = ed.select(F.col("src").alias("node")).distinct().transform(pin)
    x = spine.selectExpr("node", "cast(1000000 as bigint) AS u")
    a = KATZ_ALPHA_DIV
    for _ in range(KATZ_ITERS):
        stepped = (
            ed.join(x.withColumnRenamed("node", "src"), "src")
            .selectExpr("dst", f"(2 * u + {a}) div {2 * a} AS term")
            .groupBy("dst")
            .agg(F.sum("term").alias("su"))
        )
        x = (
            spine.join(stepped, spine.node == stepped.dst, "left")
            .selectExpr(
                "node", "1000000 + cast(coalesce(su, 0) as bigint) AS u"
            )
            .transform(pin)
        )
    return (
        x.selectExpr(
            "node",
            "u AS katz_microunits",
            "cast(u as double) / 1000000.0 AS katz",
        )
        .orderBy(F.desc("katz_microunits"), "node")
        .limit(KATZ_TOP_N)
    )


def graph_katz_centrality_sql() -> str:
    a = KATZ_ALPHA_DIV
    term = f"(2 * u + {a}) // {2 * a}"
    iters = []
    prev = "x0"
    for k in range(1, KATZ_ITERS + 1):
        iters.append(
            f"x{k} AS (\n"
            f"        SELECT s.node,\n"
            f"               1000000 + coalesce((SELECT sum({term})\n"
            f"                   FROM ed JOIN {prev} p ON ed.src = p.node\n"
            f"                   WHERE ed.dst = s.node), 0) AS u\n"
            f"        FROM spine s\n"
            f"    )"
        )
        prev = f"x{k}"
    return f"""
    WITH e AS (
        SELECT DISTINCT 'p:' || l_partkey AS p, 's:' || l_suppkey AS s
        FROM lineitem
    ), ed AS (
        SELECT p AS src, s AS dst FROM e
        UNION ALL SELECT s AS src, p AS dst FROM e
    ), spine AS (
        SELECT DISTINCT src AS node FROM ed
    ), x0 AS (
        SELECT node, 1000000::BIGINT AS u FROM spine
    ), {", ".join(iters)}
    SELECT node, u::BIGINT AS katz_microunits,
           u::DOUBLE / 1000000.0 AS katz
    FROM {prev}
    ORDER BY katz_microunits DESC, node
    LIMIT {KATZ_TOP_N}
    """
