"""Deduplication operators for LLM training-data pipelines.

Five strategies, each shaped for 100 TB:

  exact          — md5 groupBy; one shuffle on the content hash.
  minhash_lsh    — shingle → k-minhash signature computed MAP-SIDE in
                   Arrow batches (no explode, no shuffle), then an
                   LSH band-bucket self-join. The only shuffle is on
                   (band_id, band_hash), and candidate pairs are
                   generated inside buckets — never O(n²).
  simhash        — 64-bit simhash (two 32-bit words from one md5 per
                   token) computed map-side; 4×16-bit band blocking
                   join + hamming-distance verify (bit_count of xor).
                   16-bit bands give 65,536 values PER BAND, so bucket
                   cardinality grows with the corpus signature entropy
                   instead of saturating (8-bit bands cap at 1,024
                   total buckets → quadratic in-bucket pairs at scale).
  ngram_jaccard  — exact Jaccard on 3-token shingle sets, verified on
                   the MinHash-LSH candidate pairs only (funnel stage 2).
  embedding      — cosine near-dup pairs from hyperplane-bucket
                   candidates, verified as a deterministic left-fold
                   (cross-engine stable).

All hashing is md5-derived (functions/exprs.py) so the DuckDB oracles
replay identical values.
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

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_K = 3
SIMHASH_BITS = 64  # two 32-bit words; bands are 4 x 16-bit slices
SIMHASH_SEED = 99
SIMHASH_MAX_HAMMING = 3  # <= 3 differing bits over 4 bands => >= 1 exact band (pigeonhole)
JACCARD_THRESHOLD = 0.15
COSINE_THRESHOLD = 0.3
EMB_DIM = 64


def exact_groups(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, canonical_id, is_duplicate) over a
    (doc_id, text) frame: md5(text) groups; canonical = min doc_id per
    group."""
    w = Window.partitionBy("content_hash")
    return (
        docs.withColumn("content_hash", F.md5("text"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "content_hash",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of the documents table, ordered by doc_id."""
    return exact_groups(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


# one md5 per shingle, then N_MINHASH cheap affine derivations
# (a_i*h + b_i) mod P — the standard universal-hash family trick that
# cuts the expensive hash count 16x. P prime < 2^32; products < 2^48
# stay safely inside bigint.
MINHASH_P = 4294967291


def minhash_coeffs(i: int) -> tuple[int, int]:
    return 2 * i + 1, 97 * i + 13


def _band_hashes_batch(batches):
    """Arrow batch in -> (doc_id, band_hashes) out, bit-identical to the
    DuckDB oracle's minhash CTEs (``registry._MINHASH_CTES``): the token
    regex and seeded 32-bit md5 of functions/exprs.py, the
    ``minhash_coeffs`` affine family, and one md5 per band over its
    comma-joined decimal signatures. A text with fewer than SHINGLE_K
    tokens has no shingle and emits no row."""
    import re

    import hashlib
    import numpy as np
    import pandas as pd

    tok_re = re.compile(r"[a-z0-9]+")
    a = np.array([minhash_coeffs(i)[0] for i in range(N_MINHASH)], dtype=np.int64)
    b = np.array([minhash_coeffs(i)[1] for i in range(N_MINHASH)], dtype=np.int64)
    for pdf in batches:
        ids, bands_out = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = tok_re.findall((text or "").lower())
            if len(toks) < SHINGLE_K:
                continue
            sh = {
                " ".join(toks[i : i + SHINGLE_K])
                for i in range(len(toks) - SHINGLE_K + 1)
            }
            hh = np.fromiter(
                (
                    int(hashlib.md5(b"0:" + s.encode()).hexdigest()[:8], 16)
                    for s in sh
                ),
                dtype=np.int64,
                count=len(sh),
            )
            # (a_i * h + b_i) mod P, min over shingles — one 16 x n matmul
            mh = ((a[:, None] * hh[None, :] + b[:, None]) % MINHASH_P).min(axis=1)
            bands_out.append(
                [
                    hashlib.md5(
                        ",".join(
                            str(mh[bb * ROWS_PER_BAND + r])
                            for r in range(ROWS_PER_BAND)
                        ).encode()
                    ).hexdigest()
                    for bb in range(N_BANDS)
                ]
            )
            ids.append(doc_id)
        if ids:  # empty frames carry untyped columns Arrow can't map
            yield pd.DataFrame({"doc_id": ids, "band_hashes": bands_out})


def _with_band_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, band_hashes array<string>) — Arrow-batched signature path.

    The one signature computation. A pure Spark SQL expression chain
    computes the same bits but pays the interpreted-lambda tax —
    let-bound lambda chains are exempt from codegen, ~3.5x slower at
    sf0.1. Every operation here is integer or md5 arithmetic, so the
    Python batch output is BIT-IDENTICAL to the DuckDB oracle (the
    oracle parity of every minhash_pairs key checks it); this is a rare
    case where the Python edge wins because the JVM side cannot codegen
    the chain.

    ``scatter`` comes FIRST: a single-file scan arrives as one
    partition, and the signature is the expensive map work.
    """
    spark = docs.sparkSession
    return scatter(spark, docs.select("doc_id", "text")).mapInPandas(
        _band_hashes_batch, schema="doc_id bigint, band_hashes array<string>"
    )


def minhash_pairs(docs: DataFrame, include_self: bool = False) -> DataFrame:
    """MinHash-LSH candidate pairs over any (doc_id, text) DataFrame.

    Signature is a per-row Arrow-batched computation (zero shuffle);
    the band self-join shuffles only (band_id, band_hash) — the
    classic shingle→minhash→band→bucket-join layout.

    ``include_self=True`` additionally emits each doc's (id, id)
    self-pair when its signature collides with itself (i.e. it HAS
    bands): the distinct-payload callers use this as the exact
    "would identical copies of this payload be candidates?" test —
    a payload with no bands (NULL text) never pairs, mirroring the
    naive per-document join precisely.
    """
    bands = _with_band_hashes(docs).select(
        "doc_id", F.posexplode("band_hashes").alias("band_id", "band_hash")
    )
    # the band bucket join is a SELF-join, so without a pin the shingle
    # + MinHash signature computation — the funnel's dominant map cost —
    # ran TWICE per plan (and the input subtree, e.g. the payload-rep
    # collapse, with it). Pin the narrow (doc_id, band_id, band_hash)
    # table; signatures compute once and both join sides read the pin.
    bands = pin(bands)
    a, b = bands.alias("a"), bands.alias("b")
    cmp = (
        F.col("a.doc_id") <= F.col("b.doc_id")
        if include_self
        else F.col("a.doc_id") < F.col("b.doc_id")
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & cmp,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    )


def _payload_reps(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distinct-payload collapse for the text dedup funnel.

    Identical texts produce identical shingles, signatures and verify
    values, so under duplicate explosion the expensive per-pair stages
    (Levenshtein, exact Jaccard, containment) should run once per
    DISTINCT text pair and expand back to ids — the
    dedup_embedding_cosine discipline applied to the text side. The
    payload key is md5(text) (128-bit: a collision needs ~2^64 distinct
    payloads; the narrow 32-char key keeps every downstream shuffle off
    the full text column); NULL text is its own payload via a sentinel.
    Returns (members, reps): members maps doc_id -> pid (the payload's
    min doc_id), reps is one row per payload with (pid, m, text).
    """
    d, reps = _distinct_payloads(docs)
    # members is two integers per doc, read 2-4x (both sides of the id
    # expansion joins): pinned, the documents scan runs once for it
    members = (
        d.join(reps.select("pk", "pid"), "pk")
        .select("doc_id", "pid")
        .transform(pin)
    )
    return members, reps


def _distinct_payloads(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(d, reps): the (doc_id, text) rows keyed by payload md5 ``pk``,
    and reps, one pinned row per distinct payload (pk, pid, m, text)."""
    d = docs.select("doc_id", "text").withColumn(
        "pk", F.md5(F.coalesce(F.col("text"), F.lit("\u0000<null-text>")))
    )
    # every funnel consumer reads reps 2-3x (signature pass,
    # shingle/verify pass); unpinned, the documents scan + payload md5
    # re-ran per copy. DISTINCT-payload grain, the collapse's own bound.
    reps = (
        d.groupBy("pk")
        .agg(
            F.min("doc_id").alias("pid"),
            F.count(F.lit(1)).alias("m"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .transform(pin)
    )
    return d, reps


def _collapsed_lsh_edges(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """LSH candidate EDGES with the distinct-payload collapse, for
    connected-components consumers: rep-rep edges for cross-payload
    candidates plus rep-member star edges for self-colliding payloads.
    Components are IDENTICAL to the naive all-member-pairs edge set —
    members of a payload connect through their rep exactly when the
    payload self-collides (has bands), and two payloads' members
    connect exactly when the reps collide — while the edge count drops
    from quadratic-in-duplicates to linear.
    """
    members, reps = _payload_reps(docs)
    pd_ = minhash_pairs(
        reps.select(F.col("pid").alias("doc_id"), "text"), include_self=True
    ).select("doc_a", "doc_b")
    cross = pd_.where(F.col("doc_a") < F.col("doc_b"))
    selfc = pd_.where(F.col("doc_a") == F.col("doc_b")).select(
        F.col("doc_a").alias("pid")
    )
    star = (
        selfc.join(members, "pid")
        .where(F.col("doc_id") != F.col("pid"))
        .select(F.col("pid").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return cross.unionAll(star)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: MinHash-LSH pairs over the documents table."""
    return minhash_pairs(load_table(spark, sf_dir, "documents"))


MAX_CC_ITERATIONS = 50


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate pairs -> canonical doc.

    The step a real dedup pipeline needs AFTER pair generation: every
    document gets the minimum doc_id of its duplicate component as
    ``canonical_id`` (isolated docs are their own canonical), plus the
    component size. Components come from the alternating
    large-star/small-star contraction (see ``star_contraction``), which
    converges in O(log n) rounds regardless of component diameter.
    """
    # collapsed edge set (round 11): rep-rep + rep-member star edges
    # give IDENTICAL components to the all-member-pairs edge set while
    # the edge count stays linear in duplicates (100x probe: 2.3x)
    docs = load_table(spark, sf_dir, "documents")
    pairs = _collapsed_lsh_edges(spark, docs)
    nodes = scatter(spark, docs.select("doc_id"))
    return connected_components(nodes, pairs).orderBy("doc_id")


def star_contraction(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction over an edge set.

    The two-phase map-reduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", 2014): simple min-label
    propagation needs O(component diameter) rounds — a pathological
    chain of duplicates (common in crawl data: near-identical pages
    drifting gradually) makes that linear. The star operations instead
    halve path lengths every round:

      large-star: each node u links every LARGER neighbor v > u to
                  m = min(neighborhood(u) ∪ {u});
      small-star: on the resulting child→parent edges, each child u
                  re-links its parents and itself to its minimum parent.

    Both preserve connectivity; the fixpoint is one star per component
    (every non-min node pointing at the component minimum). Rounds are
    fingerprint-checked (count + endpoint sums) with a set-difference
    confirmation, each round pinned so the plan stays flat.

    Returns ((node, label) for every NON-ROOT pair-covered node, rounds).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(pin)
    )
    prev_fp, prev_edges, rounds = None, edges, 0
    for rounds in range(1, MAX_CC_ITERATIONS + 1):
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # (v, m) for every larger neighbor; v > u >= m, so every edge
        # leaves this step oriented child(larger) -> parent(smaller)
        large = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))  # parents -> m
            .union(smins.select("u", F.col("m").alias("v")))       # child  -> m
            .where(F.col("u") != F.col("v"))
            .distinct()
            .transform(pin)
        )
        fp = small.agg(
            F.count(F.lit(1)), F.sum("u"), F.sum("v")
        ).collect()[0]
        edges = small
        if prev_fp is not None and tuple(fp) == tuple(prev_fp):
            # fingerprint match: confirm true set equality (counts match,
            # both sides distinct -> one-direction diff suffices)
            if edges.exceptAll(prev_edges).limit(1).count() == 0:
                break
        prev_fp, prev_edges = fp, edges
    # at the fixpoint every edge is (member, component-min)
    return edges.select(F.col("u").alias("doc_id"), F.col("v").alias("label")), rounds


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components over any (doc_a, doc_b) pair set.

    Returns (doc_id, canonical_id, cluster_size, is_duplicate) for every
    node (isolated nodes are their own canonical). Component discovery
    is the O(log n)-round large-star/small-star contraction
    (``star_contraction``); roots and isolated nodes label themselves.
    """
    member_labels, _ = star_contraction(pairs)
    labels = (
        nodes.join(member_labels, "doc_id", "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("label"))
    )
    sizes = labels.groupBy(F.col("label").alias("canonical_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.select("doc_id", F.col("label").alias("canonical_id"))
        .join(sizes, "canonical_id")
        .select(
            "doc_id",
            "canonical_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def _simhash_vote(hs_var: str) -> str:
    """32-bit majority-vote word over an array of 32-bit token hashes.

    Per-bit vote: +1 if the token hash has bit j set, else -1; bit j of
    the word is 1 when the vote is positive. Integer sums -> order-free.
    shiftright() as a function call: the '>>' operator fails to PARSE
    when nested two lambda levels deep (transform -> aggregate), a
    Spark SQL parser quirk.
    """
    return (
        f"aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) -> acc + "
        f"CASE WHEN aggregate({hs_var}, 0, (a, h) -> a + CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"
    )


def _with_simhash(docs: DataFrame) -> DataFrame:
    """Add the 64-bit simhash as TWO non-negative 32-bit words
    (sim_hi, sim_lo), computed map-side with integer math.

    One md5 per distinct token yields BOTH 32-bit token-hash words (hex
    chars 1-8 and 9-16), so widening 32 -> 64 bits costs zero extra
    hashing. Keeping the signature as two 32-bit bigints (instead of one
    packed 64-bit value) keeps every intermediate non-negative — no
    signed-overflow / arithmetic-shift divergence between Spark and the
    DuckDB oracle at bit 63.

    ``hm`` (the md5 strings) and the two hash arrays are let-bound so
    the per-bit vote loops (2 x 32 inner aggregates) read materialized
    arrays instead of re-hashing every token per bit; the keyed
    repartition afterwards is the projection-collapse barrier so the
    downstream band explode and self-join see the words as stored
    values, not expressions to re-inline (and it is the natural
    signature persist point).
    """
    t = X.sp_tokens("text")
    hm = f"transform(array_distinct({t}), tok -> md5('{SIMHASH_SEED}:' || tok))"
    hs_hi = "transform(hm, m -> cast(conv(substr(m, 1, 8), 16, 10) as bigint))"
    hs_lo = "transform(hm, m -> cast(conv(substr(m, 9, 8), 16, 10) as bigint))"
    words = X.sp_let(
        "hh",
        hs_hi,
        X.sp_let(
            "hl",
            hs_lo,
            f"named_struct('hi', {_simhash_vote('hh')}, 'lo', {_simhash_vote('hl')})",
        ),
    )
    spark = docs.sparkSession
    return (
        docs.where(F.expr(f"size({t}) > 0"))
        .select("doc_id", F.expr(X.sp_let("hm", hm, words)).alias("sw"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.col("sw.hi").alias("sim_hi"), F.col("sw.lo").alias("sim_lo"))
    )


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-dup pairs over any (doc_id, text) DataFrame:
    exact-signature collapse, then 4×16-bit band blocking + full 64-bit
    hamming verify on DISTINCT signatures, then member expansion.

    Bands 0-1 slice sim_lo, bands 2-3 slice sim_hi — 65,536 possible
    values per band, so bucket population stays O(n / distinct-band-
    values) as the corpus grows (the 8-bit predecessor capped at 1,024
    total buckets — quadratic in-bucket pair growth). Hamming <= 3 over
    4 bands guarantees at least one exactly-matching band (pigeonhole),
    so banding finds every qualifying pair.

    The collapse is the duplicate-explosion defense (hamming depends
    only on the signatures, so it is EXACT): a group of d identical
    payloads contributes ONE rep to the banded self-join instead of d —
    the old per-doc plan shuffled d band rows per member and verified
    C(d, 2) in-group candidates 4x over (then paid a distinct to drop
    the repeats). Member pairs come back from a pure integer join whose
    cardinality is the output itself: cross-group near pairs expand
    both groups' member lists once (orientation normalized by
    least/greatest), within-group pairs ride the group's self pair at
    hamming 0.
    """
    spark = docs.sparkSession
    sig = _with_simhash(scatter(spark, docs)).select("doc_id", "sim_hi", "sim_lo")
    gw = Window.partitionBy("sim_hi", "sim_lo")
    members = (
        sig.withColumn("gid", F.min("doc_id").over(gw))
        # reused by the rep pipeline and both sides of the expansion
        .transform(pin)
    )
    reps = members.where(F.col("doc_id") == F.col("gid")).select(
        "gid", "sim_hi", "sim_lo"
    )
    bands = reps.select(
        "gid",
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bb).alias("band_id"),
                    F.expr(
                        f"({'sim_lo' if bb < 2 else 'sim_hi'} >> {16 * (bb % 2)}) & 65535"
                    ).alias("band_val"),
                )
                for bb in range(4)
            ])
        ).alias("band"),
    ).select("gid", "sim_hi", "sim_lo", "band.band_id", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("gid_a"),
            F.col("b.gid").alias("gid_b"),
            F.expr(
                "cast(bit_count(a.sim_hi ^ b.sim_hi)"
                " + bit_count(a.sim_lo ^ b.sim_lo) as int)"
            ).alias("hamming"),
        )
        .distinct()  # rep-level: a pair found by several bands collapses here
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    self_pairs = reps.select(
        F.col("gid").alias("gid_a"),
        F.col("gid").alias("gid_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    near = rep_pairs.unionByName(self_pairs)
    ma = members.select(F.col("doc_id").alias("da"), F.col("gid").alias("gid_a"))
    mb = members.select(F.col("doc_id").alias("db"), F.col("gid").alias("gid_b"))
    return (
        ma.join(near, "gid_a")
        .join(mb, "gid_b")
        # cross-group pairs appear exactly once (fixed group sides);
        # self pairs need the a < b filter to drop diagonal/reversed
        .where((F.col("gid_a") != F.col("gid_b")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: SimHash pairs over the documents table."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard, verified on the LSH CANDIDATE pairs only.

    Stage 2 of the dedup funnel (signature -> candidates -> verify):
    the exact set intersection is O(|sh_a| + |sh_b|) per pair, so it
    runs on the MinHash-LSH survivors — thousands of pairs at any
    corpus size — never on block self-joins (a (lang, size) block scheme
    is O(n²/blocks): with ~10 coarse blocks the dominant-language block
    alone is quadratic in the corpus). The shingle sets join onto the
    candidate list by doc_id — two hash joins at candidate cardinality.
    """
    # distinct-payload collapse: exact set intersection runs
    # once per DISTINCT text pair, thresholded BEFORE the id expansion
    # (100x duplicate-explosion probe: 13.1x -> bounded); candidacy and
    # values replay the naive per-pair join exactly (Jaccard is
    # symmetric, so least/greatest relabeling is value-preserving).
    members, reps = _payload_reps(load_table(spark, sf_dir, "documents"))
    cand = minhash_pairs(
        reps.select(F.col("pid").alias("doc_id"), "text"), include_self=True
    ).select("doc_a", "doc_b")
    # let-bound: tokens evaluated once per row, not once per shingle ref
    sh_expr = X.sp_let(
        "t", X.sp_tokens("text"), f"array_distinct({X.sp_shingles('t')})"
    )
    sh = scatter(spark, reps.select("pid", "text")).select(
        "pid", F.expr(sh_expr).alias("sh")
    )
    a = sh.select(F.col("pid").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("pid").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union.cast("double")
    ver = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.col("doc_a").alias("pid_a"),
            F.col("doc_b").alias("pid_b"),
            F.round(jac, 6).alias("jaccard"),
            jac.alias("_raw"),
        )
        .where(F.col("_raw") >= JACCARD_THRESHOLD)
        .drop("_raw")
    )
    ma = members.select(F.col("pid").alias("pid_a"), F.col("doc_id").alias("ida"))
    mb = members.select(F.col("pid").alias("pid_b"), F.col("doc_id").alias("idb"))
    cross = (
        ver.where(F.col("pid_a") < F.col("pid_b"))
        .join(ma, "pid_a")
        .join(mb, "pid_b")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "jaccard",
        )
    )
    wv = ver.where(F.col("pid_a") == F.col("pid_b")).select(
        F.col("pid_a").alias("pid"), "jaccard"
    )
    wa = members.select("pid", F.col("doc_id").alias("doc_a"))
    wb = members.select("pid", F.col("doc_id").alias("doc_b"))
    within = (
        wv.join(wa, "pid")
        .join(wb, "pid")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "jaccard")
    )
    return cross.unionAll(within).orderBy("doc_a", "doc_b")


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-bucket candidates + cosine
    verify, with the DISTINCT-PAYLOAD collapse in front of the pair
    join.

    The embedding twin of the text funnel: random-hyperplane sign
    buckets (the ``sim_search_lsh`` bucketing) generate candidates via
    a bucket-equality self-join — the shuffle key is the bucket, never
    a label/category block. The EXPENSIVE work (the unrolled 64-term
    cosine fold) runs once per DISTINCT (bucket, embedding) payload
    pair, not once per vector pair: under duplicate explosion (the
    100x probe: 23M raw bucket-local pairs but only ~2k distinct
    payload pairs) the naive join burned a fold per raw pair — 189x
    wall; the collapse holds it at 1.6x. A map-side-partial groupBy
    collapses identical payloads to a rep row (min vec_id, count);
    identical payloads score once (the self-cos fold, shared by every
    within-group pair); qualifying rep pairs — thresholded BEFORE
    expansion — join back to member ids (the thresholded side is the
    small side, so AQE broadcasts it and the corpus never reshuffles),
    so compute is bounded by distinct content and only the OUTPUT
    (genuinely quadratic under duplication) scales with the duplicate
    count. Folds are deterministic left folds so Spark and the oracle
    sum in the same order (cross-engine bit-stable floats); the
    expansion emits the exact cos doubles the per-pair formula would
    (identical arrays -> identical fold operands; IEEE multiply
    commutes per term, so (a,b) and (b,a) agree exactly). The r10
    64 KB codegen overflow fix stands: norms live on the collapsed
    payload table, one fold per join stage.
    """
    from navigator_data_ingest_spark.operators.similarity import _bucket_expr

    # e is consumed FOUR times (the collapse, the rep-pair join, both
    # id expansions): the pin materializes (vec_id, embedding,
    # bucket) once, so the 384-element-access hyperplane expression is
    # computed one time instead of being re-inlined into every
    # consumer's scan/filter stage — which re-tripped janino's 64 KB
    # method limit (inferred isnotnull(bucket) + join-key copies) and
    # would re-scan the corpus 4x besides.
    # the self-dot fold rides the SAME materialized projection as the
    # bucket expression: computing it downstream re-tripped janino's
    # 64 KB method limit twice (the r11 codegen capture caught both) —
    # first CollapseProject, then HashAggregate's result-projection
    # merge, re-inlined the unrolled 64-term fold 3-4x into one fused
    # method. Here each big expression is generated exactly once, in
    # this stage, and every consumer reads materialized columns.
    e = (
        scatter(spark, load_table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            "embedding",
            F.expr(_bucket_expr("embedding")).alias("bucket"),
            F.expr(X.sp_fold_dot("embedding", "embedding", EMB_DIM)).alias(
                "sd"
            ),
        )
        .transform(pin)
    )
    # distinct-payload groups: one row per (bucket, embedding); the
    # norm and self-cos derive from the AGGREGATED sd column (min of
    # bit-identical doubles), so the agg stage carries no fold at all
    grp = (
        e.groupBy("bucket", "embedding")
        .agg(
            F.min("vec_id").alias("rep_id"),
            F.count(F.lit(1)).alias("m"),
            F.min("sd").alias("sd"),
        )
        .select(
            "bucket",
            "embedding",
            "rep_id",
            "m",
            F.sqrt("sd").alias("norm"),
            (F.col("sd") / (F.sqrt("sd") * F.sqrt("sd"))).alias("self_cos"),
        )
    )
    gb = grp.select(
        F.col("bucket").alias("bucket_b"),
        F.col("embedding").alias("embedding_b"),
        F.col("rep_id").alias("rep_id_b"),
        F.col("norm").alias("norm_b"),
    )
    dot = F.expr(X.sp_fold_dot("embedding", "embedding_b", EMB_DIM))
    cos = dot / (F.col("norm") * F.col("norm_b"))
    # cross-payload candidates: one fold per distinct payload pair,
    # thresholded BEFORE the id expansion
    cross = (
        grp.join(
            gb,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("rep_id") < F.col("rep_id_b")),
        )
        .select("bucket", "embedding", "embedding_b", cos.alias("_raw"))
        .where(F.col("_raw") >= COSINE_THRESHOLD)
    )
    ids = e.select("bucket", "embedding", "vec_id")
    cross_pairs = (
        cross.join(ids, ["bucket", "embedding"])
        .join(
            ids.select(
                F.col("embedding").alias("embedding_b"),
                F.col("vec_id").alias("vec_id_b"),
            ),
            "embedding_b",
        )
        .select(
            F.least("vec_id", "vec_id_b").alias("vec_a"),
            F.greatest("vec_id", "vec_id_b").alias("vec_b"),
            "bucket",
            "_raw",
        )
    )
    # within-payload pairs: every id pair inside a duplicated payload
    # group shares the group's self-cos (no fold in these joins)
    wgrp = grp.where(
        (F.col("m") >= 2) & (F.col("self_cos") >= COSINE_THRESHOLD)
    ).select("bucket", "embedding", F.col("self_cos").alias("_raw"))
    within_pairs = (
        wgrp.join(ids, ["bucket", "embedding"])
        .join(
            ids.select(
                F.col("bucket").alias("bucket"),
                F.col("embedding").alias("embedding"),
                F.col("vec_id").alias("vec_id_b"),
            ),
            ["bucket", "embedding"],
        )
        .where(F.col("vec_id") < F.col("vec_id_b"))
        .select(
            F.col("vec_id").alias("vec_a"),
            F.col("vec_id_b").alias("vec_b"),
            "bucket",
            "_raw",
        )
    )
    return (
        cross_pairs.unionAll(within_pairs)
        .select(
            "vec_a",
            "vec_b",
            "bucket",
            F.round("_raw", 6).alias("cos_sim"),
        )
        .orderBy("vec_a", "vec_b")
    )


def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup over the synthetic work list.

    The CCNet/RefinedWeb-style first pass: canonical form = lowercase,
    scheme + 'www.' stripped, query/fragment dropped, trailing slash
    trimmed; duplicates grouped map-side and the min doc_id kept. At
    corpus scale this is one hash-shuffle on the canonical key.
    """
    from navigator_data_ingest_spark.operators.ingest import (
        fetch_url_col,
        synthetic_new_documents,
    )

    nd = synthetic_new_documents(spark, sf_dir)
    canon = F.expr(
        "regexp_replace(regexp_replace(regexp_replace(lower(fetch_url), "
        "'^[a-z]+://(www\\\\.)?', ''), '[?#].*$', ''), '/$', '')"
    )
    w = Window.partitionBy("canonical_url")
    return (
        nd.withColumn("fetch_url", fetch_url_col())
        .where(F.col("fetch_url").isNotNull())
        .withColumn("canonical_url", canon)
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "canonical_url",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
        .orderBy("doc_id")
    )


LEV_PREFIX = 200  # edit-distance verify runs on a bounded prefix


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of the LSH candidate pairs.

    The third stage of a production dedup funnel (signature -> candidate
    pairs -> EXPENSIVE exact verify on candidates only): Levenshtein is
    O(len^2) per pair, so it runs on the LSH survivors — thousands of
    pairs, not the n^2 corpus — and on a bounded ``LEV_PREFIX`` prefix
    so a single pathological multi-MB document can't stall a task at
    100 TB. JVM builtin (`F.levenshtein`), no Python.
    """
    # distinct-payload collapse: the O(len^2) edit distance
    # runs once per DISTINCT text pair — identical texts verify once
    # and their member pairs reuse the value (100x duplicate-explosion
    # probe: 58x -> bounded). Candidacy is exact: rep self-pairs from
    # include_self mirror "identical copies would LSH-collide", and
    # every value goes through the SAME expressions the naive per-pair
    # join evaluates (symmetric in a/b, so least/greatest relabeling
    # is value-preserving).
    members, reps = _payload_reps(load_table(spark, sf_dir, "documents"))
    rd = reps.select(
        "pid", "text", F.substring("text", 1, LEV_PREFIX).alias("prefix")
    )
    pd_ = minhash_pairs(
        rd.select(F.col("pid").alias("doc_id"), "text"), include_self=True
    ).select("doc_a", "doc_b")
    a = rd.select(F.col("pid").alias("doc_a"), F.col("prefix").alias("pa"))
    b = rd.select(F.col("pid").alias("doc_b"), F.col("prefix").alias("pb"))
    ver = (
        pd_.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.col("doc_a").alias("pid_a"),
            F.col("doc_b").alias("pid_b"),
            F.levenshtein("pa", "pb").alias("edit_distance"),
            F.round(
                1.0
                - F.levenshtein("pa", "pb")
                / F.greatest(F.length("pa"), F.length("pb")),
                6,
            ).alias("prefix_similarity"),
        )
    )
    ma = members.select(F.col("pid").alias("pid_a"), F.col("doc_id").alias("ida"))
    mb = members.select(F.col("pid").alias("pid_b"), F.col("doc_id").alias("idb"))
    cross = (
        ver.where(F.col("pid_a") < F.col("pid_b"))
        .join(ma, "pid_a")
        .join(mb, "pid_b")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            "edit_distance",
            "prefix_similarity",
        )
    )
    wv = ver.where(F.col("pid_a") == F.col("pid_b")).select(
        F.col("pid_a").alias("pid"), "edit_distance", "prefix_similarity"
    )
    wa = members.select("pid", F.col("doc_id").alias("doc_a"))
    wb = members.select("pid", F.col("doc_id").alias("doc_b"))
    within = (
        wv.join(wa, "pid")
        .join(wb, "pid")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "edit_distance", "prefix_similarity")
    )
    return cross.unionAll(within).orderBy("doc_a", "doc_b")


def dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup funnel's FINAL step: turn candidate pairs + connected
    components into a per-language keep/drop report — what a corpus
    owner actually reads after a dedup run (how much of each language
    survived, how many clusters collapsed).

    Composition: LSH pairs -> O(log n) star-contraction components ->
    canonical-keep rule (cluster minimum survives) -> one bounded
    (|languages|-row) audit aggregation after a doc-grain join.
    """
    docs = load_table(spark, sf_dir, "documents")
    cc = connected_components(
        scatter(spark, docs.select("doc_id")),
        _collapsed_lsh_edges(spark, docs),
    )
    joined = cc.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
            F.sum((~F.col("is_duplicate")).cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("is_duplicate"), F.col("n_chars")).otherwise(0)
            ).alias("chars_dropped"),
        )
        .orderBy("lang")
    )


FP_SHARED_MIN = 2    # fingerprints shared to call a candidate pair
FP_MAX_DF = 20       # drop fingerprints present in more docs (stopword shingles)


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (the MOSS/plagiarism-
    detection family): each document's selected shingle hashes (the
    ``h % MOD == 0`` winnowing subset shared with ``text_fingerprint``)
    are exploded and joined ON THE HASH — two docs become a candidate
    pair iff they share >= FP_SHARED_MIN selected fingerprints.

    Scale guards: common-shingle fingerprints (boilerplate, stopword
    runs) appear in MANY docs and would explode the hash buckets —
    fingerprints with document frequency > FP_MAX_DF are dropped first
    (the standard winnowing stoplist step), bounding every bucket's
    pair fan-out. Shuffles: one on the fingerprint hash, one on the
    (doc_a, doc_b) pair — both high-cardinality, no all-pairs join.
    """
    from navigator_data_ingest_spark.operators.textstats import (
        FINGERPRINT_K,
        FINGERPRINT_MOD,
        FINGERPRINT_SEED,
    )

    t = X.sp_tokens("text")
    hashes = (
        f"array_distinct(filter(transform(array_distinct("
        f"{X.sp_shingles('t', FINGERPRINT_K)}), s -> "
        f"{X.sp_hash32('s', FINGERPRINT_SEED)}), h -> h % {FINGERPRINT_MOD} = 0))"
    )
    sel = X.sp_let("t", t, hashes)
    # docs feeds the df stoplist AND the prune join, and pruned feeds
    # BOTH self-join sides — unpinned, the tokenize + shingle + hash
    # pipeline ran 4x. Pin both narrow (doc_id, fp) tables; the corpus
    # tokenizes ONCE.
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(F.expr(sel)).alias("fp")
    ).transform(pin)
    rare = docs.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= FP_MAX_DF
    )
    pruned = docs.join(rare.select("fp"), "fp").transform(pin)
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= FP_SHARED_MIN)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# incremental dedup against a persisted corpus index
# --------------------------------------------------------------------------

# sources already ingested into the persisted index vs the newly-arrived
# crawl shard (the incremental batch)
INDEXED_SOURCES = tuple(f"src{i}" for i in range(10))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup of a new crawl shard against a PERSISTED
    corpus index — the production shape: a 100 TB corpus is never
    re-deduped from scratch; each arriving shard (1) dedups within
    itself, then (2) anti-joins the standing content-hash index, and
    the index is the only thing the historical corpus contributes — the
    old TEXT is never re-read.

    The index is a (content_md5, canonical doc_id) parquet artifact
    (built here from the already-ingested sources and rewritten
    idempotently; in production it is append-maintained). Shuffles:
    one md5-grain agg per side + the md5 anti-join — the index side is
    hash-grain (far smaller than its corpus), and the anti-join key is
    uniform by construction.
    """
    from navigator_data_ingest_spark.sources.sinks import sink_path

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "content_md5", F.md5("text")
    )
    idx_path = sink_path("dedup_index", sf_dir)
    (
        docs.where(F.col("source").isin(*INDEXED_SOURCES))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("canonical_doc_id"))
        .write.mode("overwrite")
        .parquet(idx_path)
    )
    index = spark.read.parquet(idx_path)
    incoming = docs.where(~F.col("source").isin(*INDEXED_SOURCES))
    shard_first = (
        incoming.groupBy("content_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(
            incoming.select("doc_id", "source"),
            "doc_id",
        )
    )
    return (
        shard_first.join(index, "content_md5", "left_anti")
        .select("doc_id", "source", "content_md5")
        .orderBy("doc_id")
    )


def dedup_incremental_sql() -> str:
    srcs = ", ".join(f"'{s}'" for s in INDEXED_SOURCES)
    return f"""
    WITH d AS (
        SELECT doc_id, source, md5(text) AS content_md5 FROM documents
    ), idx AS (
        SELECT content_md5 FROM d WHERE source IN ({srcs})
    ), shard_first AS (
        SELECT content_md5, min(doc_id) AS doc_id
        FROM d WHERE source NOT IN ({srcs})
        GROUP BY content_md5
    )
    SELECT s.doc_id, d.source, s.content_md5
    FROM shard_first s
    JOIN d ON s.doc_id = d.doc_id
    WHERE NOT EXISTS (
        SELECT 1 FROM idx WHERE idx.content_md5 = s.content_md5
    )
    ORDER BY s.doc_id
    """


# --------------------------------------------------------------------------
# bloom-filter membership prefilter (approximate anti-join vs an index)
# --------------------------------------------------------------------------

BLOOM_BITS = 4096   # filter width m (positions)
BLOOM_K = 4         # probes per document
BLOOM_HIST_MOD = 3  # doc_id % MOD == 0 -> historical (indexed) corpus


def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup prefilter: test incoming documents against a
    BLOOM_BITS-wide filter built from the historical corpus's content
    hashes, and run the exact md5 verify ONLY on the flagged subset.

    The production shape for "is this crawl page already in the 100 TB
    corpus": the filter is a CONSTANT-size artifact (m bits regardless
    of corpus size — here the ≤m distinct set positions), built with one
    aggregation over the index and BROADCAST to every task, so the
    incoming corpus is screened map-side with ZERO shuffle; only the
    flagged sliver (true dups + the false-positive rate the math
    promises) pays the exact-verify shuffle on the md5 key. The
    ``false_positive`` column makes the filter's advertised error rate
    an auditable output. K probe positions come from disjoint 16-bit
    slices of the content md5 — same values in the DuckDB oracle.
    """
    probes = [
        f"cast(cast(conv(substr(h, {1 + 4 * j}, 4), 16, 10) as bigint)"
        f" % {BLOOM_BITS} as int)"
        for j in range(BLOOM_K)
    ]
    # every downstream stage — filter build, probe screen, exact verify
    # — needs only (doc_id, md5), so hash behind the scatter and pin
    # the 2-column result once: ONE scan + ONE narrow exchange feed all
    # three consumers, and no shuffle ever carries text.
    docs = (
        scatter(
            spark,
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        )
        .select("doc_id", F.md5("text").alias("h"))
        .transform(pin)
    )
    hist = docs.where(F.col("doc_id") % BLOOM_HIST_MOD == 0)
    # the filter: one agg row holding the sorted distinct set positions
    bloom = (
        hist.select(F.explode(F.array(*[F.expr(p) for p in probes])).alias("pos"))
        .agg(F.sort_array(F.collect_set("pos")).alias("bloom"))
    )
    new = docs.where(F.col("doc_id") % BLOOM_HIST_MOD != 0).select(
        "doc_id", "h", *[F.expr(probes[j]).alias(f"p{j}") for j in range(BLOOM_K)]
    )
    # coalesce(false): a NULL text has a NULL content hash, hence NULL
    # probe positions — it cannot be a duplicate of anything, and a NULL
    # flag would drop the row from BOTH where() branches below (the
    # r5 NULL-injection row-count find)
    flagged_col = F.coalesce(
        F.expr(
            " AND ".join(f"array_contains(bloom, p{j})" for j in range(BLOOM_K))
        ),
        F.lit(False),
    )
    # the hit/miss branch split below reads screened TWICE, and Spark
    # performs no cross-branch CSE — the md5 + 8-probe + array_contains
    # pipeline (the operator's whole per-row cost) executed once per
    # branch. Project to the three consumed columns (p0..p7 die here)
    # and pin the result so the screen runs ONCE; both branches read the
    # narrow (doc_id, h, flagged) table — the same magnitude as the docs
    # checkpoint the operator already materializes, and the verify join
    # input stays the flagged sliver.
    screened = (
        new.join(F.broadcast(bloom))
        .select("doc_id", "h", flagged_col.alias("flagged"))
        .transform(pin)
    )
    hist_md5 = hist.select("h").distinct().withColumn("is_dup", F.lit(True))
    hit = (
        screened.where("flagged")
        .join(hist_md5, "h", "left")
        .select("doc_id", "flagged", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )
    miss = screened.where(~F.col("flagged")).select(
        "doc_id", "flagged", F.lit(False).alias("is_dup")
    )
    return (
        hit.unionByName(miss)
        .withColumn("false_positive", F.col("flagged") & ~F.col("is_dup"))
        .orderBy("doc_id")
    )


def dedup_bloom_sql() -> str:
    def dk_pos(j: int) -> str:
        return f"((('0x' || substr(h, {1 + 4 * j}, 4))::uinteger) % {BLOOM_BITS})::int"

    probe_rows = " UNION ALL ".join(
        f"SELECT doc_id, h, {dk_pos(j)} AS pos FROM new" for j in range(BLOOM_K)
    )
    bloom_rows = " UNION ALL ".join(
        f"SELECT {dk_pos(j)} AS pos FROM hist" for j in range(BLOOM_K)
    )
    return f"""
    WITH d AS (
        SELECT doc_id, md5(text) AS h FROM documents
    ), hist AS (
        SELECT * FROM d WHERE doc_id % {BLOOM_HIST_MOD} = 0
    ), new AS (
        SELECT * FROM d WHERE doc_id % {BLOOM_HIST_MOD} <> 0
    ), bloom AS (
        SELECT DISTINCT pos FROM ({bloom_rows})
    ), newp AS (
        {probe_rows}
    ), hits AS (
        SELECT n.doc_id, n.h,
               sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS nhit
        FROM newp n LEFT JOIN bloom b ON n.pos = b.pos
        GROUP BY n.doc_id, n.h
    )
    SELECT doc_id,
           nhit = {BLOOM_K} AS flagged,
           -- the IN-subquery excludes NULL hashes: one NULL-text hist
           -- doc would otherwise turn every non-match into NULL
           -- (x IN (..., NULL) = NULL), not false
           (nhit = {BLOOM_K}) AND h IN (SELECT h FROM hist WHERE h IS NOT NULL)
               AS is_dup,
           (nhit = {BLOOM_K}) AND h NOT IN (SELECT h FROM hist WHERE h IS NOT NULL)
               AS false_positive
    FROM hits ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# dedup-funnel recall certification
# --------------------------------------------------------------------------

RECALL_SAMPLE_TARGET = 200  # absolute sample size the modulus targets
RECALL_SAMPLE_MOD_MIN = 3


def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certification for the MinHash-LSH candidate generator —
    the number that justifies running dedup through candidates at all:
    on an ABSOLUTELY bounded evaluation sample (the id-stripe modulus
    grows with the corpus so the sample stays ~RECALL_SAMPLE_TARGET
    docs), compute the exact all-pairs Jaccard ground truth (quadratic,
    but only on the fixed-size sample — the trick that makes ground
    truth affordable at any corpus size) and report what fraction of
    true near-dup pairs (jaccard >= threshold) the banded LSH
    candidates cover, plus the candidate count (the funnel's cost
    side).

    The companion to sim_search_recall_report on the text side: every
    production dedup deployment tracks exactly this pair of numbers
    when tuning bands/rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    # plan-side 1-row broadcast modulus (same bounded-by-derivation
    # discipline as similarity.query_stripe): building the DataFrame
    # runs no driver job, and the sample stays ~RECALL_SAMPLE_TARGET
    # docs at any corpus size
    mdf = F.broadcast(
        docs.groupBy()
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            F.greatest(
                F.lit(RECALL_SAMPLE_MOD_MIN).cast("bigint"),
                (F.col("_n") / F.lit(RECALL_SAMPLE_TARGET)).cast("bigint"),
            ).alias("_rmod")
        )
    )
    sample = docs.crossJoin(mdf).where(F.col("doc_id") % F.col("_rmod") == 0)
    sh_expr = X.sp_let(
        "t", X.sp_tokens("text"), f"array_distinct({X.sp_shingles('t')})"
    )
    # sh feeds BOTH sides of the ground-truth self-join — unpinned, the
    # full-corpus sample filter + tokenize + shingle ran twice. The
    # sample is ~RECALL_SAMPLE_TARGET rows at any scale: pin it.
    sh = scatter(spark, sample.select("doc_id", "text")).select(
        "doc_id", F.expr(sh_expr).alias("sh")
    ).transform(pin)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            # try_divide: two empty shingle sets give union=0 and ANSI
            # double 0/0 RAISES; NULL jaccard (= DuckDB's x/0) is then
            # dropped by the threshold filter — an empty/NULL doc pair
            # is not a near-dup observation
            F.try_divide(inter.cast("double"), union.cast("double")).alias(
                "_j"
            ),
        )
        .where(F.col("_j") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    # cand feeds the hit join AND its own count: unpinned, the
    # band bucket join ran twice. Sample-pair grain — pin it.
    cand = (
        minhash_pairs(docs)
        .crossJoin(mdf)
        .where((F.col("doc_a") % F.col("_rmod") == 0)
               & (F.col("doc_b") % F.col("_rmod") == 0))
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    hit = truth.join(cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "left")
    return (
        hit.agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            # coalesce the OUTER sum too: with zero true pairs (1-doc /
            # empty corpora) sum-over-no-rows is NULL but the count
            # convention — and the oracle — says 0 found
            F.coalesce(
                F.sum(F.coalesce(F.col("_c"), F.lit(0))), F.lit(0)
            ).alias("n_found"),
        )
        .join(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .select(
            "n_true_pairs",
            "n_found",
            "n_candidates",
            F.expr(
                "CASE WHEN n_true_pairs > 0"
                " THEN n_found * 1000 div n_true_pairs END"
            ).alias("recall_permille"),
        )
    )


# --------------------------------------------------------------------------
# survivorship merge (entity-resolution field rules over dup clusters)
# --------------------------------------------------------------------------

def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge — the step AFTER dedup decides rows are the
    same entity: one golden record per exact-content cluster with
    field-level rules (earliest id as the stable key, the longest
    variant's length, the lexicographically-first source, the cluster's
    language set size) plus provenance counts. The MDM complement to
    dedup_resolution's keep/drop audit.

    One shuffle on the content hash; every rule is an aggregate on the
    cluster key (min/max/count distinct), so the merge is a single
    grouped pass — no per-cluster iteration.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "content_hash", F.md5("text")
    )
    return (
        docs.groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("golden_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("n_chars").alias("best_n_chars"),
            F.min("source").alias("first_source"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .where("n_members >= 2")
        .orderBy("golden_id")
    )


CONTAINMENT_THRESHOLD = 0.8  # max-direction shingle containment


def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment verify on the LSH candidate pairs:
    containment(A->B) = |sh_A ∩ sh_B| / |sh_A| — the measure that
    catches a short document embedded verbatim inside a long one
    (quotes, boilerplate-wrapped reposts), which symmetric Jaccard
    dilutes below threshold as the long side grows. Reports both
    directions plus which side is contained.

    Same funnel discipline as dedup_ngram_jaccard: exact set work runs
    ONLY on the MinHash-LSH survivors (two doc_id hash joins at
    candidate cardinality), never on block self-joins.
    """
    # distinct-payload collapse: exact containment runs once
    # per DISTINCT text pair, thresholded BEFORE the id expansion (100x
    # duplicate-explosion probe: 13.9x -> bounded). Containment is
    # ASYMMETRIC, so when the least/greatest relabeling of a member
    # pair flips the orientation relative to the rep pair, the two
    # direction columns swap and the side flag is re-derived from the
    # swapped values with the same >= rule — exactly what the naive
    # per-pair join computes for that id ordering.
    members, reps = _payload_reps(load_table(spark, sf_dir, "documents"))
    cand = minhash_pairs(
        reps.select(F.col("pid").alias("doc_id"), "text"), include_self=True
    ).select("doc_a", "doc_b")
    sh_expr = X.sp_let(
        "t", X.sp_tokens("text"), f"array_distinct({X.sp_shingles('t')})"
    )
    sh = scatter(spark, reps.select("pid", "text")).select(
        "pid", F.expr(sh_expr).alias("sh")
    )
    a = sh.select(F.col("pid").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("pid").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    c_ab = inter.cast("double") / F.size("sh_a").cast("double")
    c_ba = inter.cast("double") / F.size("sh_b").cast("double")
    ver = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.col("doc_a").alias("pid_a"),
            F.col("doc_b").alias("pid_b"),
            F.round(c_ab, 6).alias("cab"),
            F.round(c_ba, 6).alias("cba"),
            F.greatest(c_ab, c_ba).alias("_mx"),
        )
        .where(F.col("_mx") >= CONTAINMENT_THRESHOLD)
        .drop("_mx")
    )
    ma = members.select(F.col("pid").alias("pid_a"), F.col("doc_id").alias("ida"))
    mb = members.select(F.col("pid").alias("pid_b"), F.col("doc_id").alias("idb"))
    flip = F.col("ida") > F.col("idb")
    cross = (
        ver.where(F.col("pid_a") < F.col("pid_b"))
        .join(ma, "pid_a")
        .join(mb, "pid_b")
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            F.when(flip, F.col("cba")).otherwise(F.col("cab")).alias(
                "contain_a_in_b"
            ),
            F.when(flip, F.col("cab")).otherwise(F.col("cba")).alias(
                "contain_b_in_a"
            ),
        )
    )
    wv = ver.where(F.col("pid_a") == F.col("pid_b")).select(
        F.col("pid_a").alias("pid"),
        F.col("cab").alias("contain_a_in_b"),
        F.col("cba").alias("contain_b_in_a"),
    )
    wa = members.select("pid", F.col("doc_id").alias("doc_a"))
    wb = members.select("pid", F.col("doc_id").alias("doc_b"))
    within = (
        wv.join(wa, "pid")
        .join(wb, "pid")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "contain_a_in_b", "contain_b_in_a")
    )
    return (
        cross.unionAll(within)
        .select(
            "doc_a",
            "doc_b",
            "contain_a_in_b",
            "contain_b_in_a",
            F.when(
                F.col("contain_a_in_b") >= F.col("contain_b_in_a"), F.lit("a")
            )
            .otherwise(F.lit("b"))
            .alias("contained_side"),
        )
        .orderBy("doc_a", "doc_b")
    )


PREFIX_LEN = 120


def dedup_prefix_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-family near-duplicates: documents sharing the same first
    PREFIX_LEN characters but differing afterwards — the scraped-web
    signature of boilerplate headers, pagination series and template
    farms that exact dedup misses (tails differ) and minhash may keep
    (global similarity can drop below threshold).

    One shuffle on the prefix hash; families materialize only where
    the group has >=2 docs AND >=2 distinct full-text hashes (pure
    prefix-duplicates of identical docs belong to dedup_exact).
    Per-family output: size, distinct tails, kept doc (min id), and
    the wasted-bytes estimate a cleanup would reclaim.
    """
    docs = scatter(spark, load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_chars",
        F.md5(F.expr(f"substring(text, 1, {PREFIX_LEN})")).alias("pfx_hash"),
        F.md5("text").alias("full_hash"),
    )
    fam = (
        docs.groupBy("pfx_hash")
        .agg(
            F.count(F.lit(1)).alias("family_size"),
            F.countDistinct("full_hash").alias("distinct_tails"),
            F.min("doc_id").alias("keep_doc"),
            F.sum("n_chars").alias("family_bytes"),
            F.min("n_chars").alias("min_bytes"),
        )
        .where((F.col("family_size") >= 2) & (F.col("distinct_tails") >= 2))
    )
    return fam.select(
        "pfx_hash",
        F.col("family_size").cast("bigint").alias("family_size"),
        F.col("distinct_tails").cast("bigint").alias("distinct_tails"),
        "keep_doc",
        (F.col("family_bytes") - F.col("min_bytes"))
        .cast("bigint")
        .alias("reclaimable_bytes"),
    ).orderBy("pfx_hash")


def dedup_prefix_family_sql() -> str:
    return f"""
    WITH docs AS (
        SELECT doc_id, n_chars,
               md5(substr(text, 1, {PREFIX_LEN})) AS pfx_hash,
               md5(text) AS full_hash
        FROM documents
    ), fam AS (
        SELECT pfx_hash, count(*)::BIGINT AS family_size,
               count(DISTINCT full_hash)::BIGINT AS distinct_tails,
               min(doc_id) AS keep_doc,
               (sum(n_chars) - min(n_chars))::BIGINT AS reclaimable_bytes
        FROM docs GROUP BY pfx_hash
        HAVING count(*) >= 2 AND count(DISTINCT full_hash) >= 2
    )
    SELECT pfx_hash, family_size, distinct_tails, keep_doc,
           reclaimable_bytes
    FROM fam ORDER BY pfx_hash
    """


# --------------------------------------------------------------------------
# phonetic blocking (soundex keys over entity names)
# --------------------------------------------------------------------------

_SDX_FROM = "AEIOUYHWBFPVCGJKQSXZDTLMNR"
_SDX_TO = "00000000111122222222334556"


def _soundex_expr(col: str, collapse_bref: bool) -> str:
    """Engine-portable soundex: first letter + collapsed consonant
    codes, zeros dropped, padded to 4. DuckDB's RE2 regex has NO
    backreferences, so adjacent-duplicate collapse is SIX chained
    digit-specific regexp_replace calls — byte-identical semantics in
    Spark (which is told to use the same non-backref chain via
    collapse_bref=False on both engines; the flag is kept for
    documentation symmetry)."""
    up = f"upper({col})"
    mapped = f"translate({up}, '{_SDX_FROM}', '{_SDX_TO}')"
    collapsed = mapped
    for d in "123456":
        flags = ", 'g'" if collapse_bref else ""
        collapsed = (
            f"regexp_replace({collapsed}, '{d}{{2,}}', '{d}'{flags})"
        )
    tail = f"replace(substr({collapsed}, 2), '0', '')"
    return f"substr(concat(substr({up}, 1, 1), {tail}, '000'), 1, 4)"


def dedup_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (soundex) blocking over part names: names that SOUND
    alike land in the same block key, and blocks with >1 part are the
    fuzzy-duplicate candidate families a Levenshtein verify would
    score — the phonetic rung of the dedup ladder between dedup_url's
    canonical keys and dedup_levenshtein's edit distance.

    Soundex is computed per name WORD with pure string expressions
    (translate + 6 digit-specific regexp_replace calls — DuckDB's RE2
    has no backreferences, so the SAME non-backref chain runs in both
    engines), then ONE shuffle on the block key; output is block-grain
    (never the quadratic pair list). NULL rule: NULL names have no
    key (dropped both engines).
    """
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").isNotNull())
        .select("p_partkey", "p_name")
    )
    w1 = "element_at(split(p_name, ' '), 1)"
    w2 = "coalesce(element_at(split(p_name, ' '), 2), '')"
    key = (
        f"concat({_soundex_expr(w1, False)}, '-', {_soundex_expr(w2, False)})"
    )
    blocks = (
        parts.withColumn("blk", F.expr(key))
        .groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_name").alias("n_distinct_names"),
            F.min("p_name").alias("sample_name"),
        )
        .where(F.col("n_parts") > 1)
    )
    return blocks.orderBy("blk")


def dedup_phonetic_sql() -> str:
    w1 = "string_split(p_name, ' ')[1]"
    w2 = "coalesce(string_split(p_name, ' ')[2], '')"
    key = f"({_soundex_expr(w1, True)}) || '-' || ({_soundex_expr(w2, True)})"
    return f"""
    WITH parts AS (
        SELECT p_partkey, p_name FROM part WHERE p_name IS NOT NULL
    ), blocks AS (
        SELECT {key} AS blk, count(*)::BIGINT AS n_parts,
               count(DISTINCT p_name)::BIGINT AS n_distinct_names,
               min(p_name) AS sample_name
        FROM parts GROUP BY 1
    )
    SELECT blk, n_parts, n_distinct_names, sample_name
    FROM blocks WHERE n_parts > 1
    ORDER BY blk
    """


# --------------------------------------------------------------------------
# numeric tolerance blocking (entity resolution on near-equal numerics)
# --------------------------------------------------------------------------

NUM_TOL_CENTS = 100  # +/- 1.00 tolerance window


def dedup_numeric_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-tolerance candidate blocking: supplier pairs in the
    same nation whose account balances agree within ±1.00 — the
    numeric rung of the entity-resolution ladder (a merge screen for
    "same entity, two records"). The |a−b| ≤ ε predicate is NEVER a
    cross join: each record maps to its ε-bucket, the LEFT side also
    probes the two ADJACENT buckets (a bounded 3× explode), the join
    is a pure (nation, bucket) equijoin, and the exact tolerance
    check runs only at candidate cardinality.

    Output is nation-grain audit counts (never the pair list):
    suppliers, candidate pairs, verified pairs. All exact integers.
    NULL rule: NULL balance/nation rows are unblockable (dropped both
    engines); each unordered pair counts once (key_a < key_b, with
    the adjacent-probe direction deduplicated by construction:
    probes at offsets 0,+1 against the RIGHT side's home bucket see
    each cross-bucket pair exactly once only when paired with the
    a<b key filter across both orientations — hence offsets −1,0,+1
    on the left and the strict key inequality).
    """
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal").isNotNull() & F.col("s_nationkey").isNotNull())
        .select(
            "s_suppkey",
            "s_nationkey",
            F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal"),
        )
        # Spark `div` and DuckDB `//` BOTH truncate toward zero on
        # integers (verified: -250//100 = -2 in DuckDB), so negative
        # balances bucket identically; the double-wide bucket 0 only
        # WIDENS coverage, never splits a within-tolerance pair more
        # than one bucket apart
        .withColumn("bkt", F.expr(f"bal div {NUM_TOL_CENTS}"))
        # s fans out to the probe side, the join side and the
        # per-nation supplier count — 3 supplier scans unpinned.
        # Pin the narrow bucketed projection; one scan.
        .transform(pin)
    )
    probes = s.select(
        F.col("s_suppkey").alias("ka"),
        F.col("s_nationkey").alias("na"),
        F.col("bal").alias("ba"),
        F.explode(
            F.expr("array(bkt - 1, bkt, bkt + 1)")
        ).alias("pb"),
    )
    right = s.select(
        F.col("s_suppkey").alias("kb"),
        F.col("s_nationkey").alias("nb"),
        F.col("bal").alias("bb"),
        F.col("bkt").alias("hb"),
    )
    cand = probes.join(
        right,
        (F.col("na") == F.col("nb"))
        & (F.col("pb") == F.col("hb"))
        & (F.col("ka") < F.col("kb")),
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        cand.groupBy("na")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(
                (F.abs(F.col("ba") - F.col("bb")) <= NUM_TOL_CENTS).cast("bigint")
            ).alias("n_verified"),
        )
        .join(F.broadcast(n), F.col("na") == F.col("n_nationkey"))
    )
    counts = s.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_suppliers"))
    return (
        per_nation.join(
            F.broadcast(counts), F.col("na") == F.col("s_nationkey")
        )
        .selectExpr(
            "n_name AS nation",
            "n_suppliers",
            "n_candidates",
            "n_verified",
        )
        .orderBy("nation")
    )


def dedup_numeric_blocking_sql() -> str:
    return f"""
    WITH s AS (
        SELECT s_suppkey, s_nationkey,
               round(s_acctbal * 100)::BIGINT AS bal,
               round(s_acctbal * 100)::BIGINT // {NUM_TOL_CENTS} AS bkt
        FROM supplier
        WHERE s_acctbal IS NOT NULL AND s_nationkey IS NOT NULL
    ), probes AS (
        SELECT s_suppkey AS ka, s_nationkey AS na, bal AS ba,
               bkt + o AS pb
        FROM s, unnest([-1, 0, 1]) AS u(o)
    ), cand AS (
        SELECT na, ba, bb FROM probes
        JOIN (SELECT s_suppkey AS kb, s_nationkey AS nb, bal AS bb,
                     bkt AS hb FROM s) r
          ON na = nb AND pb = hb AND ka < kb
    ), per_nation AS (
        SELECT na, count(*)::BIGINT AS n_candidates,
               sum((abs(ba - bb) <= {NUM_TOL_CENTS})::INT)::BIGINT AS n_verified
        FROM cand GROUP BY 1
    ), counts AS (
        SELECT s_nationkey, count(*)::BIGINT AS n_suppliers
        FROM s GROUP BY 1
    )
    SELECT n_name AS nation, n_suppliers, n_candidates, n_verified
    FROM per_nation
    JOIN nation ON na = n_nationkey
    JOIN counts ON na = counts.s_nationkey
    ORDER BY nation
    """


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate pressure per source: docs, distinct payload
    hashes, the duplicate rate and the reclaimable bytes — dedup_exact
    finds THE duplicates globally; this scores each source's hygiene
    (the table that decides which feed gets renegotiated).

    ONE (source, md5) aggregation with map-side combine, then a
    source-grain rollup; reclaimable bytes = total minus one surviving
    copy per hash group, all exact integers. NULL rule: NULL text has
    no payload (dropped both engines); NULL source is its own feed.
    """
    d = (
        scatter(spark, load_table(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select(
            "source",
            F.md5(F.col("text")).alias("h"),
            F.length("text").alias("len"),
        )
    )
    grp = d.groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("len").alias("bytes_"),
        F.min("len").alias("keep_len"),
    )
    return (
        grp.groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("bytes_") - F.col("keep_len")).alias("reclaimable_bytes"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_distinct",
            "(n_docs - n_distinct) AS n_duplicates",
            f"{sp_rat6('n_docs - n_distinct', 'n_docs')} AS dup_rate",
            "reclaimable_bytes",
        )
        .orderBy("source")
    )


def dedup_rate_by_source_sql() -> str:
    return f"""
    WITH d AS (
        SELECT source, md5(text) AS h, length(text)::BIGINT AS len
        FROM documents WHERE text IS NOT NULL
    ), grp AS (
        SELECT source, h, count(*)::BIGINT AS c,
               sum(len)::BIGINT AS bytes_, min(len)::BIGINT AS keep_len
        FROM d GROUP BY 1, 2
    )
    SELECT source, sum(c)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_distinct,
           (sum(c) - count(*))::BIGINT AS n_duplicates,
           {dk_rat6("sum(c)::BIGINT - count(*)", "sum(c)")} AS dup_rate,
           sum(bytes_ - keep_len)::BIGINT AS reclaimable_bytes
    FROM grp GROUP BY source ORDER BY source
    """


def dedup_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-size census over the MinHash banding scheme: per
    band the bucket-size histogram and each size's candidate-pair
    load (n·s·(s−1)/2) — the saturation audit that says whether the
    (bands, rows) choice still bounds candidate generation, BEFORE a
    skewed bucket turns dedup_minhash_lsh quadratic; the planning op
    next to dedup_recall_report's recall certification.

    Reuses the production signature path (Arrow-batched, bit-identical
    to the oracle's SQL chain), ONE (band, hash) aggregation for
    bucket sizes, then a bounded (band × size) histogram. All exact
    integers. Token-less docs carry no signature (both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = _with_band_hashes(docs)
    buckets = (
        sig.select(F.posexplode("band_hashes").alias("band_id", "band_hash"))
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    return (
        buckets.groupBy("band_id", "s")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .selectExpr(
            "cast(band_id as int) AS band_id",
            "s AS bucket_size",
            "n_buckets",
            "(n_buckets * s * (s - 1)) div 2 AS candidate_pairs",
        )
        .orderBy("band_id", "bucket_size")
    )


def dedup_bucket_stats_sql(minhash_ctes: str) -> str:
    return f"""
    WITH {minhash_ctes}, buckets AS (
        SELECT band_id, band_hash, count(*)::BIGINT AS s
        FROM bands GROUP BY 1, 2
    )
    SELECT band_id::INT AS band_id, s AS bucket_size,
           count(*)::BIGINT AS n_buckets,
           (count(*) * s * (s - 1)) // 2 AS candidate_pairs
    FROM buckets GROUP BY 1, 2
    ORDER BY band_id, bucket_size
    """


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE exact-duplicate map: for every source pair, how many
    distinct texts appear in BOTH (by md5) and each side's share of its
    corpus — the contamination matrix that says which crawls are
    re-wrapping each other (dedup_rate_by_source counts copies WITHIN a
    source; this localizes the leakage BETWEEN them).

    DISTINCT (source, hash) collapse first, a hash-keyed self-equijoin
    at distinct-text cardinality (hash keys unskewed — survives 100x),
    the bounded source-pair grid, and integer-exact HALF_UP shares.
    NULL text hashes nothing; NULL source is its own corpus (both
    engines).
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            F.coalesce(F.col("source"), F.lit("<null>")).alias("source"),
            F.md5("text").alias("h"),
        )
        .distinct()
        # d feeds the size table AND both self-join sides — unpinned,
        # the documents scan + md5 + distinct ran 3x. Distinct (source,
        # hash) grain: pin it; the fact is scanned ONCE.
        .transform(pin)
    )
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = d.select(F.col("source").alias("sa"), "h")
    b = d.select(F.col("source").alias("sb"), F.col("h").alias("_h"))
    pairs = (
        a.join(b, (F.col("h") == F.col("_h")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("source").alias("_a"), F.col("n").alias("na"))),
            F.col("sa") == F.col("_a"),
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("_b"), F.col("n").alias("nb"))),
            F.col("sb") == F.col("_b"),
        )
        .selectExpr(
            "sa AS source_a",
            "sb AS source_b",
            "n_shared",
            "na AS n_distinct_a",
            "nb AS n_distinct_b",
            f"{sp_rat6('n_shared', 'na')} AS share_of_a",
            f"{sp_rat6('n_shared', 'nb')} AS share_of_b",
        )
        .orderBy("source_a", "source_b")
    )


def dedup_cross_source_sql() -> str:
    return f"""
    WITH d AS (
        SELECT DISTINCT coalesce(source, '<null>') AS source, md5(text) AS h
        FROM documents WHERE text IS NOT NULL
    ), sizes AS (
        SELECT source, count(*)::BIGINT AS n FROM d GROUP BY 1
    ), pairs AS (
        SELECT a.source AS sa, b.source AS sb, count(*)::BIGINT AS n_shared
        FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT sa AS source_a, sb AS source_b, n_shared,
           za.n AS n_distinct_a, zb.n AS n_distinct_b,
           {dk_rat6('n_shared', 'za.n')} AS share_of_a,
           {dk_rat6('n_shared', 'zb.n')} AS share_of_b
    FROM pairs
    JOIN sizes za ON sa = za.source
    JOIN sizes zb ON sb = zb.source
    ORDER BY source_a, source_b
    """


SWEEP_TAUS = (150, 300, 500, 700, 900)   # Jaccard thresholds (permille)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for the near-dup verifier: exact
    3-gram Jaccard on the LSH candidate pairs, summarized at a permille
    threshold GRID — pairs surviving, documents flagged, corpus share —
    the one-pass audit that justifies JACCARD_THRESHOLD before a 100 TB
    dedup run commits to it (the curve's knee IS the threshold
    decision; a single-τ report can't show it).

    Exactness: the pair score is the INTEGER permille 1000·|∩| div |∪|
    (never a float compare at the boundary — the r5 round-half lesson);
    every output is an exact integer or integer permille.

    Scale shape — EXACT-PAYLOAD COLLAPSE (the dedup_semantic 100×-probe
    doctrine): banding, candidate generation and the Jaccard verify all
    run at DISTINCT-TEXT grain (group key md5(text), representative id
    min(doc_id) so the Arrow signature path applies unchanged); doc-
    grain pair counts re-enter by MULTIPLICATION (cnt_a·cnt_b per cross
    pair, C(cnt,2) per identical-text group — identical texts share a
    signature, so every within-group pair is a jp=1000 candidate by
    construction, and the short-text gate mirrors minhash_pairs'
    size(tokens) >= SHINGLE_K banding gate). No doc-grain pair list is
    ever materialized: 100×-duplicated corpora cost ~1× (probe ratio
    1.2 at 10×; the pre-collapse doc-grain draft probed 6.3× at 100×).
    The ×|TAUS| fan-out is a map-side literal explode on the bounded
    group-pair table; the τ spine LEFT-joins so empty thresholds report
    zeros; totals enter as a 1-row broadcast.
    """
    taus = ", ".join(str(t) for t in SWEEP_TAUS)
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        scatter(spark, docs.select("doc_id", "text"))
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("cnt"))
        .transform(pin)
    )
    eligible = F.expr(f"size({X.sp_tokens('text')}) >= {SHINGLE_K}")
    cand = minhash_pairs(groups.select("doc_id", "text")).select(
        "doc_a", "doc_b"
    )
    sh_expr = X.sp_let(
        "t", X.sp_tokens("text"), f"array_distinct({X.sp_shingles('t')})"
    )
    sh = groups.select("doc_id", "cnt", F.expr(sh_expr).alias("sh"))
    a = sh.selectExpr("doc_id AS doc_a", "sh AS sh_a", "cnt AS cnt_a")
    b = sh.selectExpr("doc_id AS doc_b", "sh AS sh_b", "cnt AS cnt_b")
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "cnt_a",
            "cnt_b",
            "size(array_intersect(sh_a, sh_b)) AS inter",
            "size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))"
            " AS un",
        )
        .selectExpr(
            "doc_a", "doc_b", "cnt_a", "cnt_b", "1000 * inter div un AS jp"
        )
    )
    per = scored.select(
        "doc_a", "doc_b", "cnt_a", "cnt_b", "jp",
        F.explode(F.expr(f"array({taus})")).alias("tau_permille"),
    ).where(F.expr("jp >= tau_permille"))
    cross_pairs = per.groupBy("tau_permille").agg(
        F.sum(F.expr("cnt_a * cnt_b")).alias("n_cross_pairs")
    )
    cross_groups = (
        per.selectExpr(
            "tau_permille", "explode(array(doc_a, doc_b)) AS gid"
        )
        .distinct()
        .join(
            groups.where(F.col("cnt") == 1).selectExpr("doc_id AS gid", "cnt"),
            "gid",
        )
        .groupBy("tau_permille")
        .agg(F.sum("cnt").alias("cross_only_docs"))
    )
    # identical-text groups: every member pair is a candidate with
    # jp = 1000 >= every grid τ; multi-doc groups flag ALL members at
    # every τ, so the cross-side union only needs singleton groups.
    within = F.broadcast(
        groups.where(F.col("cnt") >= 2)
        .where(eligible)
        .agg(
            F.coalesce(
                F.sum(F.expr("cnt * (cnt - 1) div 2")), F.lit(0)
            ).alias("n_within_pairs"),
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("within_docs"),
        )
    )
    tot = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs_total")))
    spine = tot.crossJoin(within).select(
        F.explode(F.expr(f"array({taus})")).alias("tau_permille"),
        "n_docs_total",
        "n_within_pairs",
        "within_docs",
    )
    out = (
        spine.join(F.broadcast(cross_pairs), "tau_permille", "left")
        .join(F.broadcast(cross_groups), "tau_permille", "left")
        .selectExpr(
            "cast(tau_permille as bigint) AS tau_permille",
            "coalesce(n_cross_pairs, 0) + n_within_pairs AS n_pairs",
            "coalesce(cross_only_docs, 0) + within_docs AS n_docs_flagged",
            # nullif guard: an empty corpus has n_docs_total = 0 — the
            # share is NULL then, not a DIVIDE_BY_ZERO crash (round-9
            # empty-input axis); non-empty values unchanged
            "1000 * (coalesce(cross_only_docs, 0) + within_docs)"
            " div nullif(n_docs_total, 0) AS flagged_share_permille",
        )
    )
    return out.orderBy("tau_permille")


def dedup_threshold_sweep_oracle_sql(minhash_ctes: str) -> str:
    """Oracle body (registry passes the shared minhash candidate CTEs)."""
    vals = ", ".join(f"({t})" for t in SWEEP_TAUS)
    return f"""
    WITH {minhash_ctes},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), scored AS (
        SELECT doc_a, doc_b,
               1000 * len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
               // (len(sa.sh) + len(sb.sh)
                   - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))
                   AS jp
        FROM cand
        JOIN base sa ON doc_a = sa.doc_id
        JOIN base sb ON doc_b = sb.doc_id
    ), per AS (
        SELECT doc_a, doc_b, jp, tau_permille
        FROM scored CROSS JOIN (VALUES {vals}) t(tau_permille)
        WHERE jp >= tau_permille
    ), pair_counts AS (
        SELECT tau_permille, count(*)::BIGINT AS n_pairs
        FROM per GROUP BY 1
    ), doc_counts AS (
        SELECT tau_permille, count(DISTINCT d)::BIGINT AS n_docs_flagged
        FROM (SELECT tau_permille, doc_a AS d FROM per
              UNION ALL SELECT tau_permille, doc_b FROM per)
        GROUP BY 1
    ), tot AS (
        SELECT count(*)::BIGINT AS n_docs_total FROM documents
    )
    SELECT s.tau_permille::BIGINT AS tau_permille,
           coalesce(n_pairs, 0)::BIGINT AS n_pairs,
           coalesce(n_docs_flagged, 0)::BIGINT AS n_docs_flagged,
           (1000 * coalesce(n_docs_flagged, 0) // nullif(n_docs_total, 0))::BIGINT
               AS flagged_share_permille
    FROM (VALUES {vals}) s(tau_permille)
    LEFT JOIN pair_counts pc ON pc.tau_permille = s.tau_permille
    LEFT JOIN doc_counts dc ON dc.tau_permille = s.tau_permille
    CROSS JOIN tot
    ORDER BY s.tau_permille
    """


BAND_CONFIGS = ((2, 8), (4, 4), (8, 2))   # (bands, rows) over N_MINHASH=16


def dedup_band_config_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bands, rows) tuning sweep for the MinHash-LSH scheme: re-band
    the SAME 16 affine minhashes as (2×8), (4×4 — production) and
    (8×2) and report each config's bucket census and candidate-pair
    LOAD Σ s(s−1)/2 — the recall/cost frontier that picks N_BANDS
    before a 100 TB dedup run (more bands = higher recall at s-curve
    threshold (1/b)^(1/r) = 0.42 / 0.71 / 0.84 here, but superlinear
    candidate load; dedup_bucket_stats audits only the production
    point, this shows the alternatives).

    Scale shape: the 16-minhash signature is ONE let-bound map-side
    expression pass per doc (tokens, shingles, one seeded md5 per
    shingle, the minhash_coeffs affine family, stopping at the raw
    signature before banding); each config's banding is a map-side
    explode and the ONLY shuffle is the (config, band, hash) bucket aggregation — no
    pair join EXISTS in the plan, the load is computed from bucket
    sizes, so 100× duplicate explosion costs ~1× (pure input growth).
    All exact integers; the same short-doc gate as minhash_pairs.
    """
    i = "i"
    affine = (
        f"array_min(transform(hh, h -> "
        f"((2 * {i} + 1) * h + (97 * {i} + 13)) % {MINHASH_P}))"
    )
    sig16 = f"transform(sequence(0, {N_MINHASH - 1}), i -> {affine})"
    sig_expr = X.sp_let(
        "t",
        X.sp_tokens("text"),
        X.sp_let(
            "sh",
            f"array_distinct({X.sp_shingles('t')})",
            X.sp_let("hh", f"transform(sh, s -> {X.sp_hash32('s', 0)})", sig16),
        ),
    )
    # distinct-payload collapse: the 16-minhash signature is
    # the op's dominant cost and identical texts produce identical
    # signatures, so it computes once per DISTINCT payload and the
    # bucket census weights each payload by its multiplicity m —
    # s = Σm is exactly the per-document count (100x probe: 3.6x
    # input-growth -> ~1x, content-bounded).
    _, reps = _distinct_payloads(load_table(spark, sf_dir, "documents"))
    docs = scatter(
        spark, reps.select(F.col("pid").alias("doc_id"), "text", "m")
    ).where(F.expr(f"size({X.sp_tokens('text')}) >= {SHINGLE_K}"))
    sig = docs.select("doc_id", "m", F.expr(sig_expr).alias("mh"))
    per_cfg = []
    for b, r in BAND_CONFIGS:
        band_hash = (
            f"transform(sequence(0, {b - 1}), bb -> "
            f"md5(array_join(transform(sequence(0, {r - 1}), "
            f"rr -> cast(element_at(mh, bb * {r} + rr + 1) as string)), ',')))"
        )
        per_cfg.append(
            sig.select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                "m",
                F.posexplode(F.expr(band_hash)).alias("band_id", "band_hash"),
            )
        )
    bands = per_cfg[0]
    for p in per_cfg[1:]:
        bands = bands.unionByName(p)
    buckets = bands.groupBy("bands", "rows_per_band", "band_id", "band_hash").agg(
        F.sum("m").alias("s")
    )
    return (
        buckets.groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.expr("cast(s >= 2 as bigint)")).alias(
                "nonsingleton_buckets"
            ),
            F.max("s").alias("max_bucket"),
            F.sum(F.expr("s * (s - 1) div 2")).alias("candidate_pair_load"),
        )
        .selectExpr(
            "cast(bands as bigint) AS bands",
            "cast(rows_per_band as bigint) AS rows_per_band",
            "n_buckets",
            "nonsingleton_buckets",
            "max_bucket",
            "candidate_pair_load",
        )
        .orderBy("bands")
    )


def dedup_band_config_sweep_oracle_sql(minhash_ctes: str) -> str:
    """Oracle body (registry passes the shared minhash CTEs, whose
    ``sig`` CTE exposes the raw mh0..mh15 signature columns)."""
    cfg_rows = ", ".join(f"({b}, {r})" for b, r in BAND_CONFIGS)
    max_b = max(b for b, _ in BAND_CONFIGS)
    band_ids = ", ".join(f"({i})" for i in range(max_b))
    cases = []
    for b, r in BAND_CONFIGS:
        inner = " ".join(
            "WHEN {bb} THEN md5({concat})".format(
                bb=bb,
                concat=" || ',' || ".join(
                    f"mh{bb * r + rr}::varchar" for rr in range(r)
                ),
            )
            for bb in range(b)
        )
        cases.append(f"WHEN {b} THEN (CASE band_id {inner} END)")
    cfg_case = " ".join(cases)
    return f"""
    WITH {minhash_ctes}, cfg_bands AS (
        SELECT doc_id, cfg.bands, cfg.rows_per_band, b.band_id,
               CASE cfg.bands {cfg_case} END AS band_hash
        FROM sig
        CROSS JOIN (VALUES {cfg_rows}) cfg(bands, rows_per_band)
        JOIN (VALUES {band_ids}) b(band_id) ON b.band_id < cfg.bands
    ), buckets AS (
        SELECT bands, rows_per_band, band_id, band_hash,
               count(*)::BIGINT AS s
        FROM cfg_bands GROUP BY 1, 2, 3, 4
    )
    SELECT bands::BIGINT AS bands,
           rows_per_band::BIGINT AS rows_per_band,
           count(*)::BIGINT AS n_buckets,
           sum((s >= 2)::INT)::BIGINT AS nonsingleton_buckets,
           max(s)::BIGINT AS max_bucket,
           sum(s * (s - 1) // 2)::BIGINT AS candidate_pair_load
    FROM buckets GROUP BY 1, 2 ORDER BY bands
    """
