"""Multimodal column plumbing (`mm_decode_stub`).

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, and runs decode / feature-extract / resize as an
Arrow-batched ``mapInPandas`` stage — the layout a 100 TB multimodal
corpus needs: media bytes travel in the row (or as object-store
pointers), metadata is queryable columnar, and Python touches each
batch once.

The decode itself is a DETERMINISTIC STUB: this container has no
image/audio libraries, so ``_decode_real`` raises NotImplementedError
and the stub derives fake-but-stable features from the payload bytes.
Schema, partitioning, UDF signature and batch shape are the real
design; swapping ``_decode_stub`` for a Pillow/ffmpeg call is the only
production change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.exact import dk_units, sp_units
from navigator_data_ingest_spark.functions.prefix import below_sums
from navigator_data_ingest_spark.sources.tables import load_table, pin, scatter

MODALITIES = ["image", "audio", "video"]
FORMATS = {"image": ["png", "jpeg", "webp"], "audio": ["wav", "flac"], "video": ["mp4", "webm"]}
TARGET_SIZE = 224  # resize-to edge for image-like payloads
FEAT_DIM = 8

DECODE_RESULT_SCHEMA = (
    "doc_id bigint, modality string, format string, n_bytes bigint, "
    "out_width int, out_height int, feature array<float>, feature_csv string"
)


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multimodal table derived from ``documents``.

    Columns: ``media binary`` (fake payload: the doc text bytes), and a
    typed ``meta`` struct (modality, format, width/height/duration) —
    the schema shape a real corpus would store, with media inline.
    """
    did = F.col("doc_id")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]), (did % 3).cast("int") + 1
    )
    fmt_map = F.create_map(
        *[
            x
            for m, fmts in FORMATS.items()
            for x in (
                F.lit(m),
                F.element_at(
                    F.array(*[F.lit(f) for f in fmts]),
                    (did % len(fmts)).cast("int") + 1,
                ),
            )
        ]
    )
    return (
        scatter(spark, load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.encode(F.col("text"), "utf-8").alias("media"),
            F.struct(
                modality.alias("modality"),
                F.element_at(fmt_map, modality).alias("format"),
                (128 + did % 1920).cast("int").alias("width"),
                (128 + (did * 7) % 1080).cast("int").alias("height"),
                ((did % 600) / 10.0).alias("duration_s"),
            ).alias("meta"),
        )
    )


def _decode_real(payload: bytes, modality: str, fmt: str):
    """Production decode hook (Pillow / soundfile / pyav)."""
    raise NotImplementedError(
        "media decode requires image/audio libraries not present in this "
        "container; mm_decode_stub uses the deterministic fake instead"
    )


def _decode_stub(payload: bytes, modality: str) -> list[float]:
    """Stable fake features: FEAT_DIM floats from the payload digest."""
    d = hashlib.md5(payload if payload else b"").digest()
    return [
        round(int.from_bytes(d[2 * i : 2 * i + 2], "big") / 65535.0, 6)
        for i in range(FEAT_DIM)
    ]


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow batch in -> decoded features out (one Python pass per batch).

    In production this holds the decoder state (thread pool, GPU handle)
    per task — the reason this is mapInPandas and not a per-row UDF.
    """
    for pdf in batches:
        feats, widths, heights = [], [], []
        for payload, w, h, modality in zip(
            pdf["media"], pdf["width"], pdf["height"], pdf["modality"]
        ):
            feats.append(_decode_stub(payload, modality))
            # resize: fit longest edge to TARGET_SIZE, keep aspect.
            # integer half-up arithmetic — bit-identical in the DuckDB
            # oracle, no float round-tie drift between engines.
            w, h, m = int(w), int(h), max(int(w), int(h))
            widths.append(max(1, (w * 2 * TARGET_SIZE + m) // (2 * m)))
            heights.append(max(1, (h * 2 * TARGET_SIZE + m) // (2 * m)))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "format": pdf["format"],
                "n_bytes": [len(p) if p is not None else 0 for p in pdf["media"]],
                "out_width": widths,
                "out_height": heights,
                "feature": feats,
                # flat twin of `feature` for consumers that hash rows
                # (sorting/grouping over an array column is undefined in
                # pandas-side canonicalizers); same values, 6-dp fixed
                "feature_csv": [
                    ",".join(f"{v:.6f}" for v in f) for f in feats
                ],
            }
        )


def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal table -> batched decode/resize/feature stage."""
    mm = multimodal_table(spark, sf_dir)
    flat = mm.select(
        "doc_id",
        "media",
        F.col("meta.modality").alias("modality"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    return flat.mapInPandas(_decode_batch, schema=DECODE_RESULT_SCHEMA).orderBy(
        "doc_id"
    )


def mm_decode_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry/driver projection of ``mm_decode_stub``: every column
    scalar (the array feature stays in the library API; its 6-dp csv
    twin rides along for row-hash comparison)."""
    return mm_decode_stub(spark, sf_dir).drop("feature")


N_FRAMES_MAX = 4
FRAME_STEP_S = 15.0  # one extra sampled frame per 15s of duration


def _frame_feature(payload: bytes, idx: int) -> float:
    """One deterministic scalar per sampled frame: digest of
    (payload, frame index), reproducible in the DuckDB oracle."""
    d = hashlib.md5((payload if payload else b"") + f":{idx}".encode()).digest()
    return round(int.from_bytes(d[:2], "big") / 65535.0, 6)


def _frame_sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow batch in -> one row PER SAMPLED FRAME out (1→N mapInPandas).

    The explode happens inside the Python stage — the input batch is
    scanned once and the output rows stream out Arrow-batched, the shape
    a real ffmpeg frame sampler has (decoder state per task, frames
    yielded incrementally).
    """
    for pdf in batches:
        ids, idxs, tss, feats = [], [], [], []
        for doc_id, payload, dur in zip(
            pdf["doc_id"], pdf["media"], pdf["duration_s"]
        ):
            n = min(N_FRAMES_MAX, int(float(dur) / FRAME_STEP_S) + 1)
            for i in range(n):
                ids.append(doc_id)
                idxs.append(i)
                tss.append(round(float(dur) * i / n, 6))
                feats.append(_frame_feature(payload, i))
        yield pd.DataFrame(
            {"doc_id": ids, "frame_idx": idxs, "frame_ts": tss, "f0": feats}
        )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform temporal frame sampling over the video rows.

    min(4, duration//15 + 1) frames per clip at evenly spaced
    timestamps; each frame carries a digest-deterministic feature. The
    video filter is pushed BELOW the Python stage (only video rows cross
    the Arrow boundary), and each input row fans out to N output rows
    inside the batch — the multimodal explode pattern at scale.
    """
    mm = multimodal_table(spark, sf_dir)
    videos = mm.where(F.col("meta.modality") == "video").select(
        "doc_id", "media", F.col("meta.duration_s").alias("duration_s")
    )
    out_schema = "doc_id bigint, frame_idx int, frame_ts double, f0 double"
    return videos.mapInPandas(_frame_sample_batch, schema=out_schema).orderBy(
        "doc_id", "frame_idx"
    )


# --------------------------------------------------------------------------
# perceptual-hash near-duplicate detection over media payloads
# --------------------------------------------------------------------------

PHASH_PIXELS = 64     # pseudo-pixel samples per payload (aHash grid)
PHASH_BANDS = 4       # 16-bit bands for candidate bucketing
PHASH_BAND_BITS = PHASH_PIXELS // PHASH_BANDS
PHASH_HAM_T = 10      # max hamming distance (of 64) to call a near-dup
PHASH_SEED = "px"


def _phash_bands_expr() -> str:
    """Spark SQL for the 4x16-bit aHash bands of a text payload.

    aHash recipe on the deterministic decode stub: sample 64 evenly-
    spaced "pixels" (the hash of the character at each sampled
    position — the stub decode is the identity on text payloads),
    threshold each against the mean, pack the 64 bits into 4 16-bit
    band values. Everything is integer arithmetic under let-bindings
    (n, px, mean each evaluated once per row).
    """
    from navigator_data_ingest_spark.functions import exprs as X

    ch = "substr(text, cast(1 + (((i - 1) * n) div 64) as int), 1)"
    px = (
        f"transform(sequence(1, {PHASH_PIXELS}), "
        f"i -> ({X.sp_hash32(ch, PHASH_SEED)}) % 256)"
    )
    mean = f"aggregate(px, 0L, (a, v) -> a + v) div {PHASH_PIXELS}"
    bands = (
        f"transform(sequence(0, {PHASH_BANDS - 1}), b -> "
        f"aggregate(sequence(1, {PHASH_BAND_BITS}), cast(0 as bigint), "
        f"(acc, i) -> acc + CASE WHEN element_at(px, cast(b * {PHASH_BAND_BITS} + i as int)) > mean "
        f"THEN shiftleft(cast(1 as bigint), i - 1) ELSE cast(0 as bigint) END))"
    )
    return X.sp_let(
        "n", "length(text)", X.sp_let("px", px, X.sp_let("mean", mean, bands))
    )


def phash_neardup_pairs(raw_docs: DataFrame) -> DataFrame:
    """Near-duplicate media detection via banded perceptual hashes over
    any (doc_id, text-payload) DataFrame — the multimodal twin of
    simhash dedup, and the library surface behind ``mm_phash_neardup``.
    Identical payloads (the multimodal table's media is the utf-8
    encoding of the document text) collide on all four bands; small
    payload edits flip few pixel bits and still collide on at least one
    band.

    Scale shape: the 64-bit hash is map-side; identical payloads
    collapse to ONE rep signature first (hamming depends only on the
    signature, so the collapse is exact — and the duplicate-explosion
    defense: a d-member group used to shuffle d band rows per member
    and verify C(d, 2) in-group candidates); candidate REP pairs come
    ONLY from equality on one of 4 16-bit band values (the shuffle key
    is (band_idx, band_val) — high-cardinality, unskewed), the
    banded-signature self-join is the standard LSH layout; the full
    64-bit hamming distance is verified on rep candidates and deduped
    with one (gid_a, gid_b) agg. Member pairs come back from a pure
    integer expansion join whose cardinality is the output itself
    (within-group pairs ride the group's self pair at hamming 0).
    Never an all-pairs join.
    """
    docs = scatter(raw_docs.sparkSession, raw_docs).where(
        F.length("text") > 0
    )
    sigs = docs.select("doc_id", F.expr(_phash_bands_expr()).alias("bands"))
    gw = Window.partitionBy("bands")
    members = sigs.withColumn("gid", F.min("doc_id").over(gw)).transform(pin)
    reps = members.where(F.col("doc_id") == F.col("gid")).select("gid", "bands")
    banded = reps.select(
        "gid", "bands", F.posexplode("bands").alias("band_idx", "band_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.gid") < F.col("b.gid")),
    ).select(
        F.col("a.gid").alias("gid_a"),
        F.col("b.gid").alias("gid_b"),
        F.col("a.bands").alias("ba"),
        F.col("b.bands").alias("bb"),
    )
    ham = F.expr(
        "aggregate(zip_with(ba, bb, (x, y) -> cast(bit_count(x ^ y) as bigint)), "
        "0L, (acc, v) -> acc + v)"
    )
    rep_pairs = (
        joined.withColumn("hamming", ham)
        .groupBy("gid_a", "gid_b")
        .agg(F.min("hamming").alias("hamming"))
        .where(F.col("hamming") <= PHASH_HAM_T)
    )
    self_pairs = reps.select(
        F.col("gid").alias("gid_a"),
        F.col("gid").alias("gid_b"),
        F.lit(0).cast("bigint").alias("hamming"),
    )
    near = rep_pairs.unionByName(self_pairs)
    ma = members.select(F.col("doc_id").alias("da"), F.col("gid").alias("gid_a"))
    mb = members.select(F.col("doc_id").alias("db"), F.col("gid").alias("gid_b"))
    return (
        ma.join(near, "gid_a")
        .join(mb, "gid_b")
        .where((F.col("gid_a") != F.col("gid_b")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )


def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper: banded phash near-dup over the documents table."""
    return phash_neardup_pairs(load_table(spark, sf_dir, "documents"))


def mm_phash_neardup_sql() -> str:
    from navigator_data_ingest_spark.functions import exprs as X

    ch = "substr(text, 1 + (((i - 1) * n) // 64), 1)"
    return f"""
    WITH base AS (
        SELECT doc_id, text, length(text) AS n FROM documents
        WHERE length(text) > 0
    ), pxt AS (
        SELECT doc_id,
               list_transform(generate_series(1, {PHASH_PIXELS}),
                              i -> ({X.dk_hash32(ch, PHASH_SEED)}) % 256) AS px
        FROM base
    ), mt AS (
        SELECT doc_id, px,
               list_reduce(px, (a, b) -> a + b) // {PHASH_PIXELS} AS mean
        FROM pxt
    ), bandst AS (
        SELECT doc_id,
               list_transform(generate_series(0, {PHASH_BANDS - 1}), b ->
                   list_reduce(list_transform(generate_series(1, {PHASH_BAND_BITS}),
                       i -> CASE WHEN px[b * {PHASH_BAND_BITS} + i] > mean
                            THEN (1::bigint << (i - 1)) ELSE 0::bigint END),
                       (x, y) -> x + y)) AS bands
        FROM mt
    ), banded AS (
        SELECT doc_id, bands, g.b AS band_idx, bands[g.b + 1] AS band_val
        FROM bandst, generate_series(0, {PHASH_BANDS - 1}) g(b)
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               min(list_reduce(list_transform(generate_series(1, {PHASH_BANDS}),
                   i -> bit_count(xor(a.bands[i], b.bands[i]))::bigint),
                   (x, y) -> x + y)) AS hamming
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                      AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= {PHASH_HAM_T}
    ORDER BY doc_a, doc_b
    """


# --------------------------------------------------------------------------
# audio temporal chunking (overlapped windows)
# --------------------------------------------------------------------------

AUDIO_WIN_MS = 5000   # chunk window
AUDIO_HOP_MS = 2500   # hop (50% overlap)


def mm_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapped temporal chunking of audio assets: each audio row
    expands to its 5 s / 2.5 s-hop windows — the segmentation every
    speech pipeline (ASR, diarization, audio embedding) runs before
    decode. Chunk boundaries are pure METADATA arithmetic (duration is
    in the typed meta struct), so the 1->N expansion is a JVM-side
    ``posexplode(sequence(...))`` — the Python decode stage
    (``mm_decode_stub``) would consume these (doc_id, start, end) spans
    per batch; no payload bytes move to Python here.

    All integer milliseconds: duration_ms = (doc_id % 600) * 100 by the
    multimodal table's construction, so chunk counts/spans replay
    exactly in the oracle.
    """
    media = multimodal_table(spark, sf_dir).where(
        F.col("meta.modality") == "audio"
    )
    dur_ms = (F.col("doc_id") % 600).cast("bigint") * 100
    # windows start at k*hop while start < duration (last may be short)
    chunks = media.select(
        "doc_id",
        dur_ms.alias("dur_ms"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, "
                f"greatest(0, cast(((doc_id % 600) * 100 - 1) as bigint) div {AUDIO_HOP_MS}), 1), "
                f"k -> k * {AUDIO_HOP_MS})"
            )
        ).alias("chunk_idx", "start_ms"),
    ).where(F.col("start_ms") < F.col("dur_ms"))
    return (
        chunks.select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "start_ms",
            F.least(
                F.col("start_ms") + AUDIO_WIN_MS, F.col("dur_ms")
            ).alias("end_ms"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def mm_audio_chunk_sql() -> str:
    return f"""
    WITH audio AS (
        SELECT doc_id, (doc_id % 600) * 100 AS dur_ms
        FROM documents WHERE doc_id % 3 = 1
    ), c AS (
        SELECT doc_id, dur_ms, k::int AS chunk_idx,
               (k * {AUDIO_HOP_MS})::bigint AS start_ms
        FROM audio,
             unnest(generate_series(0,
                 greatest(0, (dur_ms - 1) // {AUDIO_HOP_MS}))) AS u(k)
        WHERE k * {AUDIO_HOP_MS} < dur_ms
    )
    SELECT doc_id, chunk_idx, start_ms,
           least(start_ms + {AUDIO_WIN_MS}, dur_ms)::bigint AS end_ms
    FROM c ORDER BY doc_id, chunk_idx
    """


# --------------------------------------------------------------------------
# image tile grid (vision-preprocessing spatial chunking)
# --------------------------------------------------------------------------

IMG_TILE = 224  # ViT-style patch window


def mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-grid expansion of image assets: each image row expands to
    its 224x224 tile grid (edge tiles clipped) — the spatial twin of
    mm_audio_chunk's temporal windows, and the unit a vision
    preprocessing stage (patch embedding, OCR sharding, SAM tiling)
    feeds to the decoder. Like the audio op, boundaries are pure
    METADATA arithmetic on the typed meta struct: the 1->N expansion is
    a JVM-side ``posexplode(sequence(...))`` and NO payload bytes move
    — the decode stage consumes (doc_id, x0, y0, x1, y1) spans
    batch-wise. All integer pixels, so the oracle replays exactly.
    """
    media = multimodal_table(spark, sf_dir).where(
        F.col("meta.modality") == "image"
    )
    tiles = media.select(
        "doc_id",
        F.col("meta.width").cast("bigint").alias("w"),
        F.col("meta.height").cast("bigint").alias("h"),
    ).select(
        "doc_id",
        "w",
        "h",
        ((F.col("w") + IMG_TILE - 1) / IMG_TILE).cast("bigint").alias("nx"),
        ((F.col("h") + IMG_TILE - 1) / IMG_TILE).cast("bigint").alias("ny"),
    ).select(
        "doc_id",
        "w",
        "h",
        "nx",
        F.explode(F.expr("sequence(0, nx * ny - 1)")).alias("tile_id"),
    )
    x0 = (F.col("tile_id") % F.col("nx")) * IMG_TILE
    y0 = (F.col("tile_id") / F.col("nx")).cast("bigint") * IMG_TILE
    return (
        tiles.select(
            "doc_id",
            F.col("tile_id").cast("int").alias("tile_id"),
            x0.alias("x0"),
            y0.alias("y0"),
            F.least(x0 + IMG_TILE, F.col("w")).alias("x1"),
            F.least(y0 + IMG_TILE, F.col("h")).alias("y1"),
        )
        .withColumn("tile_w", F.col("x1") - F.col("x0"))
        .withColumn("tile_h", F.col("y1") - F.col("y0"))
        .orderBy("doc_id", "tile_id")
    )


def mm_image_tiles_sql() -> str:
    return f"""
    WITH img AS (
        SELECT doc_id,
               (128 + doc_id % 1920)::bigint      AS w,
               (128 + (doc_id * 7) % 1080)::bigint AS h
        FROM documents WHERE doc_id % 3 = 0
    ), grid AS (
        SELECT doc_id, w, h,
               (w + {IMG_TILE} - 1) // {IMG_TILE} AS nx,
               (h + {IMG_TILE} - 1) // {IMG_TILE} AS ny
        FROM img
    ), tiles AS (
        SELECT doc_id, w, h, nx, t::int AS tile_id,
               (t % nx) * {IMG_TILE}  AS x0,
               (t // nx) * {IMG_TILE} AS y0
        FROM grid, unnest(generate_series(0, nx * ny - 1)) AS u(t)
    )
    SELECT doc_id, tile_id, x0::bigint AS x0, y0::bigint AS y0,
           least(x0 + {IMG_TILE}, w)::bigint AS x1,
           least(y0 + {IMG_TILE}, h)::bigint AS y1,
           (least(x0 + {IMG_TILE}, w) - x0)::bigint AS tile_w,
           (least(y0 + {IMG_TILE}, h) - y0)::bigint AS tile_h
    FROM tiles ORDER BY doc_id, tile_id
    """


# --------------------------------------------------------------------------
# cross-modality coverage audit (documents x embeddings)
# --------------------------------------------------------------------------

def mm_text_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality coverage audit: which documents have an embedding
    row and which embeddings are orphans — the join-health check every
    multimodal corpus runs before training (a missing modality silently
    starves the contrastive batch).

    FULL OUTER join on the shared id, then a per-language rollup with
    integer permille coverage. One key shuffle; the rollup key is
    LANGS-bounded.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("eid")
    )
    joined = docs.join(emb, docs["doc_id"] == emb["eid"], "full_outer")
    return (
        joined.select(
            F.coalesce("lang", F.lit("∅orphan")).alias("lang"),
            F.col("doc_id").isNotNull().alias("has_doc"),
            F.col("eid").isNotNull().alias("has_emb"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr("CASE WHEN has_doc AND has_emb THEN 1 ELSE 0 END")).alias(
                "n_covered"
            ),
            F.sum(F.expr("CASE WHEN has_doc AND NOT has_emb THEN 1 ELSE 0 END")).alias(
                "n_missing_emb"
            ),
            F.sum(F.expr("CASE WHEN NOT has_doc THEN 1 ELSE 0 END")).alias(
                "n_orphan_emb"
            ),
        )
        .withColumn(
            "coverage_permille",
            F.expr(
                "CASE WHEN n_covered + n_missing_emb > 0 THEN"
                " n_covered * 1000 div (n_covered + n_missing_emb) END"
            ),
        )
        .orderBy("lang")
    )


def mm_codec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(modality, format) storage profile of the media corpus —
    the capacity-planning/codec-migration report (which formats carry
    the bytes, what would transcoding save). Payload SIZES come from
    the binary column's length (no decode), so this is metadata-grade
    work: map-side keys, a MODALITIES x FORMATS-bounded aggregation.
    """
    t = multimodal_table(spark, sf_dir)
    return (
        t.select(
            F.col("meta.modality").alias("modality"),
            F.col("meta.format").alias("format"),
            F.length("media").cast("bigint").alias("n_bytes"),
        )
        .groupBy("modality", "format")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .withColumn("avg_bytes", F.expr("total_bytes div n_files"))
        .orderBy("modality", "format")
    )


def mm_codec_stats_sql() -> str:
    mods = ", ".join(f"'{m}'" for m in MODALITIES)
    fmt_case = " ".join(
        f"WHEN '{m}' THEN (["
        + ", ".join(f"'{f}'" for f in FORMATS[m])
        + f"])[1 + doc_id % {len(FORMATS[m])}]"
        for m in MODALITIES
    )
    return f"""
    WITH t AS (
        SELECT ([{mods}])[1 + doc_id % 3] AS modality,
               doc_id, octet_length(encode(text)) AS n_bytes
        FROM documents
    ), f AS (
        SELECT modality,
               CASE modality {fmt_case} END AS format,
               n_bytes
        FROM t
    )
    SELECT modality, format, count(*)::bigint AS n_files,
           sum(n_bytes)::bigint AS total_bytes,
           max(n_bytes)::bigint AS max_bytes,
           (sum(n_bytes) // count(*))::bigint AS avg_bytes
    FROM f GROUP BY modality, format ORDER BY modality, format
    """


# --------------------------------------------------------------------------
# video scene segmentation (frame-hash deltas -> gaps-and-islands)
# --------------------------------------------------------------------------

SCENE_FRAME_STEP_S = 2.0   # one sampled frame per 2s of video
SCENE_MAX_FRAMES = 32      # cap frames per clip
SCENE_HAM_T = 33           # hamming(60-bit) > T => scene boundary


def mm_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene segmentation over video rows: sample frames every 2s,
    fingerprint each frame, and cut a new segment wherever consecutive
    fingerprints differ by more than SCENE_HAM_T of 60 bits — the
    shot-boundary-detection shape (pHash delta thresholding) with the
    cut-points turned into segments by the gaps-and-islands idiom.

    Frame fan-out is JVM-side ``explode(sequence(...))`` — the payload
    column never crosses to Python and never shuffles; per-frame
    60-bit fingerprints come from the deterministic digest stub (the
    production swap-in is a real frame decoder + dHash). One doc_id
    window (single shuffle) carries both the lag-hamming boundary flag
    and the running-sum segment id; the per-segment rollup reuses the
    same partitioning.
    """
    vids = (
        multimodal_table(spark, sf_dir)
        .where(F.col("meta.modality") == "video")
        .select(
            "doc_id",
            F.decode("media", "utf-8").alias("txt"),
            F.col("meta.duration_s").alias("dur"),
        )
        .withColumn(
            "n_frames",
            F.expr(
                f"least({SCENE_MAX_FRAMES}, "
                f"cast(floor(dur / {SCENE_FRAME_STEP_S}) as int) + 1)"
            ),
        )
    )
    frames = vids.select(
        "doc_id",
        "txt",
        F.explode(F.expr("sequence(0, n_frames - 1)")).alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        F.expr(
            "cast(conv(substr(md5(concat(txt, ':', cast(frame_idx as string)))"
            ", 1, 15), 16, 10) as bigint)"
        ).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    run = Window.partitionBy("doc_id").orderBy("frame_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    marked = frames.withColumn("prev", F.lag("h").over(w)).withColumn(
        "boundary",
        F.when(
            F.col("prev").isNotNull()
            & (F.expr(f"bit_count(h ^ prev)") > SCENE_HAM_T),
            1,
        ).otherwise(0),
    )
    return (
        marked.withColumn("seg_id", F.sum("boundary").over(run))
        .groupBy("doc_id", "seg_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.min("frame_idx").alias("start_frame"),
            F.max("frame_idx").alias("end_frame"),
        )
        .select(
            "doc_id",
            F.col("seg_id").cast("bigint").alias("seg_id"),
            "n_frames",
            "start_frame",
            "end_frame",
        )
        .orderBy("doc_id", "seg_id")
    )


def mm_scene_segments_sql() -> str:
    return f"""
    WITH vids AS (
        SELECT doc_id, text AS txt,
               least({SCENE_MAX_FRAMES},
                     floor(((doc_id % 600) / 10.0)
                           / {SCENE_FRAME_STEP_S})::INT + 1) AS n_frames
        FROM documents WHERE doc_id % 3 = 2
    ), frames AS (
        SELECT doc_id,
               unnest(range(0, n_frames)) AS frame_idx,
               txt
        FROM vids
    ), hashed AS (
        SELECT doc_id, frame_idx,
               ('0x' || substr(md5(txt || ':' || frame_idx::VARCHAR), 1, 15))
                   ::ubigint::bigint AS h
        FROM frames
    ), marked AS (
        SELECT doc_id, frame_idx, h,
               lag(h) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        FROM hashed
    ), flagged AS (
        SELECT doc_id, frame_idx,
               CASE WHEN prev IS NOT NULL
                         AND bit_count(xor(h, prev)) > {SCENE_HAM_T}
                    THEN 1 ELSE 0 END AS boundary
        FROM marked
    ), seg AS (
        SELECT doc_id, frame_idx,
               sum(boundary) OVER (PARTITION BY doc_id ORDER BY frame_idx
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS seg_id
        FROM flagged
    )
    SELECT doc_id, seg_id::BIGINT AS seg_id, count(*)::BIGINT AS n_frames,
           min(frame_idx)::BIGINT AS start_frame,
           max(frame_idx)::BIGINT AS end_frame
    FROM seg GROUP BY doc_id, seg_id ORDER BY doc_id, seg_id
    """


# --------------------------------------------------------------------------
# aspect-ratio bucketing (vision-training batch packing)
# --------------------------------------------------------------------------

ASPECT_LOG_SCALE = 4     # bucket = round(log2(w/h) * 4) -> quarter-octaves
ASPECT_BUCKET_CLAMP = 8  # clamp to [-8, 8]: 17 buckets total
ASPECT_BATCH = 16        # images per training batch


def mm_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing + batch packing for image training (the
    SDXL-style bucketing step): images group into quarter-octave
    log2(w/h) buckets so each training batch holds same-shape tensors,
    then each bucket's images pack into fixed-size batches.

    The per-bucket enumeration NEVER uses a global per-bucket sort: an
    image's 0-based rank within its bucket is ``below_sums`` of 1
    grouped by bucket, in doc_id order, so the DuckDB oracle's plain
    per-bucket row_number replays it exactly. Bucket ids compare
    ROUNDED values only (repo float rule).
    """
    img = multimodal_table(spark, sf_dir).where(
        F.col("meta.modality") == "image"
    ).select(
        "doc_id",
        F.col("meta.width").cast("double").alias("w"),
        F.col("meta.height").cast("double").alias("h"),
    )
    # b feeds below_sums' range table AND its block pass; unpinned, the
    # media metadata scan would run once per copy. Narrow image grain:
    # pin it so the fact is scanned once.
    b = img.selectExpr(
        "doc_id",
        f"cast(greatest(-{ASPECT_BUCKET_CLAMP}, least({ASPECT_BUCKET_CLAMP}, "
        f"round(ln(w / h) / ln(2.0) * {ASPECT_LOG_SCALE}, 0))) as int) "
        "AS bucket",
    ).transform(pin)
    # doc_id is distinct, so the count of the bucket's images with a
    # smaller doc_id is an image's 0-based rank within its bucket
    rn = below_sums(b, "doc_id", by=["bucket"], rank=F.lit(1))
    return rn.select(
        "doc_id",
        "bucket",
        (F.col("rank") / ASPECT_BATCH).cast("bigint").alias("batch_id"),
        (F.col("rank") % ASPECT_BATCH).cast("int").alias("slot"),
    ).orderBy("doc_id")


def mm_aspect_buckets_sql() -> str:
    return f"""
    WITH img AS (
        SELECT doc_id,
               (128 + doc_id % 1920)::DOUBLE       AS w,
               (128 + (doc_id * 7) % 1080)::DOUBLE AS h
        FROM documents WHERE doc_id % 3 = 0
    ), b AS (
        SELECT doc_id,
               greatest(-{ASPECT_BUCKET_CLAMP}, least({ASPECT_BUCKET_CLAMP},
                   round(ln(w / h) / ln(2.0) * {ASPECT_LOG_SCALE}, 0)))::INT
                   AS bucket
        FROM img
    ), rn AS (
        SELECT doc_id, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        FROM b
    )
    SELECT doc_id, bucket,
           ((rn - 1) // {ASPECT_BATCH})::BIGINT AS batch_id,
           ((rn - 1) % {ASPECT_BATCH})::INT     AS slot
    FROM rn ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# voice-activity segmentation over audio rows (energy-threshold VAD)
# --------------------------------------------------------------------------

VAD_FRAME_S = 1.0        # one energy frame per second of audio
VAD_MAX_FRAMES = 30      # cap frames per clip
VAD_ENERGY_T = 128       # frame energy (0-255) >= T counts as voiced


def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over the audio rows: per-second frame
    energies (deterministic digest stub standing in for an RMS frame
    scorer), thresholded to voiced/unvoiced, with adjacent voiced
    frames merged into segments — the speech-segmentation front end an
    ASR-corpus pipeline runs before transcription, reported per clip as
    frame/segment counts and the longest voiced run.

    Same discipline as mm_scene_segments: JVM-side explode(sequence)
    frame fan-out (payload bytes never move, never cross to Python),
    ONE doc_id window carrying both the island boundary flag and the
    running segment id, per-clip rollup on the same partitioning. NULL
    media follows the decode-stub rule (empty payload — frames still
    exist, energies digest from the empty string).
    """
    aud = (
        multimodal_table(spark, sf_dir)
        .where(F.col("meta.modality") == "audio")
        .select(
            "doc_id",
            F.coalesce(F.decode("media", "utf-8"), F.lit("")).alias("txt"),
            F.col("meta.duration_s").alias("dur"),
        )
        .withColumn(
            "n_frames",
            F.expr(
                f"least({VAD_MAX_FRAMES}, "
                f"cast(floor(dur / {VAD_FRAME_S}) as int) + 1)"
            ),
        )
    )
    frames = aud.select(
        "doc_id",
        "txt",
        "n_frames",
        F.explode(F.expr("sequence(0, n_frames - 1)")).alias("i"),
    ).select(
        "doc_id",
        "n_frames",
        "i",
        (
            F.expr(
                "cast(conv(substr(md5(concat(txt, ':vad:', cast(i as string)))"
                ", 1, 2), 16, 10) as int)"
            )
            >= VAD_ENERGY_T
        ).alias("voiced"),
    )
    voiced = frames.where("voiced")
    w = Window.partitionBy("doc_id").orderBy("i")
    run = Window.partitionBy("doc_id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # seg and runs built the IDENTICAL island windows twice — the
    # whole explode+per-frame-md5 subtree ran 2x (3 scans with the
    # base join). One (doc, seg) rollup yields all three audit
    # numbers exactly: n_voiced = Σ seg_len, n_segments = max seg_id,
    # longest = max seg_len — one frame pass, one join.
    segrun = (
        voiced.withColumn(
            "newseg",
            F.when(
                F.lag("i").over(w).isNull() | (F.col("i") - F.lag("i").over(w) > 1),
                1,
            ).otherwise(0),
        )
        .withColumn("seg_id", F.sum("newseg").over(run))
        .groupBy("doc_id", "seg_id")
        .agg(F.count(F.lit(1)).alias("seg_len"))
        .groupBy("doc_id")
        .agg(
            F.sum("seg_len").alias("n_voiced"),
            F.max("seg_id").cast("bigint").alias("n_segments"),
            F.max("seg_len").alias("longest_voiced_s"),
        )
    )
    return (
        aud.select("doc_id", "n_frames")
        .join(segrun, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_frames").cast("bigint").alias("n_frames"),
            F.coalesce("n_voiced", F.lit(0)).cast("bigint").alias("n_voiced"),
            F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
            F.coalesce("longest_voiced_s", F.lit(0))
            .cast("bigint")
            .alias("longest_voiced_s"),
        )
        .orderBy("doc_id")
    )


def mm_audio_vad_segments_sql() -> str:
    return f"""
    WITH aud AS (
        SELECT doc_id, coalesce(text, '') AS txt,
               (doc_id % 600) / 10.0 AS dur,
               least({VAD_MAX_FRAMES},
                     floor(((doc_id % 600) / 10.0) / {VAD_FRAME_S})::INT + 1)
                   AS n_frames
        FROM documents WHERE doc_id % 3 = 1
    ), frames AS (
        SELECT doc_id, n_frames, i,
               (('0x' || substr(md5(txt || ':vad:' || i::VARCHAR), 1, 2))::INT
                >= {VAD_ENERGY_T}) AS voiced
        FROM aud, range(0, {VAD_MAX_FRAMES}) t(i)
        WHERE i < n_frames
    ), v AS (
        SELECT doc_id, n_frames, i,
               CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 1
                    THEN 1 ELSE 0 END AS newseg
        FROM frames WHERE voiced
        WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), s AS (
        SELECT doc_id, i,
               sum(newseg) OVER (PARTITION BY doc_id ORDER BY i
                                 ROWS UNBOUNDED PRECEDING) AS seg_id
        FROM v
    ), lens AS (
        SELECT doc_id, seg_id, count(*)::BIGINT AS seg_len
        FROM s GROUP BY 1, 2
    ), per_doc AS (
        SELECT doc_id, sum(seg_len)::BIGINT AS n_voiced,
               max(seg_id)::BIGINT AS n_segments,
               max(seg_len)::BIGINT AS longest_voiced_s
        FROM lens GROUP BY 1
    )
    SELECT a.doc_id, a.n_frames::BIGINT AS n_frames,
           coalesce(p.n_voiced, 0)::BIGINT AS n_voiced,
           coalesce(p.n_segments, 0)::BIGINT AS n_segments,
           coalesce(p.longest_voiced_s, 0)::BIGINT AS longest_voiced_s
    FROM aud a LEFT JOIN per_doc p ON a.doc_id = p.doc_id
    ORDER BY a.doc_id
    """


# --------------------------------------------------------------------------
# audio/video alignment (frame -> nearest audio chunk)
# --------------------------------------------------------------------------


def mm_av_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video alignment metadata: each sampled video frame
    (mm_frame_sample's uniform grid) is paired with the NEAREST audio
    chunk of the same asset's soundtrack (mm_audio_chunk's 5 s / 2.5 s
    hop windows), with the signed skew and an in-window flag — the
    alignment pass a captioning / AV-contrastive pipeline runs before
    joint decode.

    Because the chunk grid is REGULAR, the nearest chunk is CLOSED-FORM
    integer arithmetic (round-to-nearest hop, clamped to the last
    chunk) — no as-of join touches the plan; at 100 TB the pairing
    cost is zero beyond the frame expansion itself. (Irregular chunk
    grids would use q_events_asof_nearest's bounded-bucket shape
    instead.) All quantities are exact integer milliseconds, the
    frame grid is (dur·i) div n — floor arithmetic identical in both
    engines. Zero-duration clips have neither frames nor chunks
    (dropped, both engines).
    """
    media = multimodal_table(spark, sf_dir).where(
        (F.col("meta.modality") == "video") & (F.col("meta.duration_s") > 0)
    )
    hop, win, step_ms = AUDIO_HOP_MS, AUDIO_WIN_MS, int(FRAME_STEP_S * 1000)
    base = media.select(
        "doc_id", ((F.col("doc_id") % 600).cast("bigint") * 100).alias("dur_ms")
    ).withColumn(
        "n_frames",
        F.least(F.lit(N_FRAMES_MAX).cast("bigint"), F.expr(f"dur_ms div {step_ms}") + 1),
    )
    frames = base.select(
        "doc_id",
        "dur_ms",
        "n_frames",
        F.posexplode(F.expr("sequence(0, n_frames - 1)")).alias("frame_idx", "i"),
    ).select(
        "doc_id",
        "dur_ms",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.expr("(dur_ms * i) div n_frames").alias("frame_ms"),
    )
    out = frames.selectExpr(
        "doc_id",
        "frame_idx",
        "frame_ms",
        f"least((frame_ms + {hop // 2}) div {hop}, (dur_ms - 1) div {hop}) AS chunk_idx",
    ).selectExpr(
        "doc_id",
        "frame_idx",
        "frame_ms",
        "cast(chunk_idx as int) AS chunk_idx",
        f"frame_ms - chunk_idx * {hop} AS skew_ms",
        f"(frame_ms >= chunk_idx * {hop}) AND (frame_ms < chunk_idx * {hop} + {win}) AS in_window",
    )
    return out.orderBy("doc_id", "frame_idx")


def mm_av_sync_sql() -> str:
    hop, win, step_ms = AUDIO_HOP_MS, AUDIO_WIN_MS, int(FRAME_STEP_S * 1000)
    return f"""
    WITH v AS (
        SELECT doc_id, ((doc_id % 600) * 100)::BIGINT AS dur_ms,
               least({N_FRAMES_MAX}, (doc_id % 600) * 100 // {step_ms} + 1)::BIGINT
                   AS n_frames
        FROM documents WHERE doc_id % 3 = 2 AND (doc_id % 600) > 0
    ), frames AS (
        SELECT doc_id, dur_ms, i::INT AS frame_idx,
               ((dur_ms * i) // n_frames)::BIGINT AS frame_ms
        FROM v, unnest(generate_series(0, n_frames - 1)) AS u(i)
    ), paired AS (
        SELECT doc_id, frame_idx, frame_ms,
               least((frame_ms + {hop // 2}) // {hop},
                     (dur_ms - 1) // {hop})::INT AS chunk_idx
        FROM frames
    )
    SELECT doc_id, frame_idx, frame_ms, chunk_idx,
           (frame_ms - chunk_idx * {hop})::BIGINT AS skew_ms,
           (frame_ms >= chunk_idx * {hop})
               AND (frame_ms < chunk_idx * {hop} + {win}) AS in_window
    FROM paired ORDER BY doc_id, frame_idx
    """


# --------------------------------------------------------------------------
# payload randomness audit (compressed-vs-raw detection heuristic)
# --------------------------------------------------------------------------

ENTROPY_SAMPLES = 64  # sampled positions per payload (the phash grid)


def mm_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of SAMPLED payload bytes per (modality, format)
    — near-maximal entropy says the payload is already compressed or
    encrypted (recompressing is wasted compute), low entropy flags
    fake/filler assets; the storage-planning companion to
    mm_codec_stats. Uses mm_phash_neardup's bounded sampling grid: 64
    evenly spaced positions per payload, so the per-asset cost is
    CONSTANT regardless of payload size.

    The sampled symbols aggregate to a bounded (modality, format,
    symbol) grid in ONE shuffle; entropy is Σ c·ln c folded over exact
    integer counts (ln of integers — identical operands both engines).
    Zero-length payloads have no samples (dropped, both engines).
    """
    media = multimodal_table(spark, sf_dir).select(
        F.col("meta.modality").alias("modality"),
        F.col("meta.format").alias("format"),
        F.decode("media", "utf-8").alias("text"),
    ).where(F.length("text") > 0)
    ch = (
        f"transform(sequence(1, {ENTROPY_SAMPLES}), i -> "
        f"substr(text, cast(1 + (((i - 1) * length(text)) div {ENTROPY_SAMPLES})"
        f" as int), 1))"
    )
    sym = media.select(
        "modality", "format", F.explode(F.expr(ch)).alias("sym")
    )
    cnt = sym.groupBy("modality", "format", "sym").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = cnt.groupBy("modality", "format").agg(
        F.sum("c").alias("n"),
        F.countDistinct("sym").alias("n_symbols"),
        F.sum(F.expr("c * ln(cast(c as double))")).alias("clnc"),
    )
    return (
        agg.selectExpr(
            "modality",
            "format",
            "n AS n_samples",
            "n_symbols",
            "round(ln(cast(n as double)) - clnc / n, 6) AS entropy_nats",
        )
        .orderBy("modality", "format")
    )


def mm_byte_entropy_sql() -> str:
    mods = ", ".join(f"'{m}'" for m in MODALITIES)
    fmt_case = " ".join(
        f"WHEN '{m}' THEN (["
        + ", ".join(f"'{f}'" for f in FORMATS[m])
        + f"])[1 + doc_id % {len(FORMATS[m])}]"
        for m in MODALITIES
    )
    return f"""
    WITH t AS (
        SELECT ([{mods}])[1 + doc_id % 3] AS modality, doc_id, text
        FROM documents WHERE length(text) > 0
    ), f AS (
        SELECT modality, CASE modality {fmt_case} END AS format, text
        FROM t
    ), sym AS (
        SELECT modality, format,
               substr(text,
                      (1 + (((i - 1) * length(text)) // {ENTROPY_SAMPLES}))::INT,
                      1) AS sym
        FROM f, unnest(generate_series(1, {ENTROPY_SAMPLES})) AS u(i)
    ), cnt AS (
        SELECT modality, format, sym, count(*)::BIGINT AS c
        FROM sym GROUP BY 1, 2, 3
    )
    SELECT modality, format, sum(c)::BIGINT AS n_samples,
           count(DISTINCT sym)::BIGINT AS n_symbols,
           round(ln(sum(c)::DOUBLE) - sum(c * ln(c::DOUBLE)) / sum(c), 6)
               AS entropy_nats
    FROM cnt GROUP BY 1, 2
    ORDER BY modality, format
    """


def mm_bitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective bitrate profile per (modality, format) for the timed
    assets (audio/video): kbps = payload bytes / duration, with exact
    mean / interpolated median / p95 — the storage-planning number
    that catches an over-encoded format before a transcode campaign;
    mm_codec_stats profiles SIZE, this normalizes by TIME.

    Pure metadata arithmetic: bytes from octet length, duration from
    the typed meta (integer ms by construction), bitrate an integer
    ratio both engines derive identically (bits·1000 / ms — exact
    integer division is NOT used; the ratio stays a double of
    identical operands); ONE bounded-grid aggregation. Zero-duration
    assets have no bitrate (dropped both engines).
    """
    media = multimodal_table(spark, sf_dir).where(
        (F.col("meta.modality") != "image") & (F.col("meta.duration_s") > 0)
    )
    rows = media.select(
        F.col("meta.modality").alias("modality"),
        F.col("meta.format").alias("format"),
        (
            F.length(F.col("media")).cast("double")
            * 8.0
            / (F.col("doc_id") % 600).cast("double")
            / 100.0
            * 1000.0
            / 1000.0
        ).alias("kbps"),
    )
    return (
        rows.groupBy("modality", "format")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.round(F.avg("kbps"), 6).alias("mean_kbps"),
            F.round(F.expr("percentile(kbps, 0.5)"), 6).alias("p50_kbps"),
            F.round(F.expr("percentile(kbps, 0.95)"), 6).alias("p95_kbps"),
        )
        .orderBy("modality", "format")
    )


def mm_bitrate_sql() -> str:
    mods = ", ".join(f"'{m}'" for m in MODALITIES)
    fmt_case = " ".join(
        f"WHEN '{m}' THEN (["
        + ", ".join(f"'{f}'" for f in FORMATS[m])
        + f"])[1 + doc_id % {len(FORMATS[m])}]"
        for m in MODALITIES
    )
    return f"""
    WITH t AS (
        SELECT ([{mods}])[1 + doc_id % 3] AS modality, doc_id,
               octet_length(encode(text)) AS n_bytes,
               (doc_id % 600) AS dur_ds
        FROM documents
    ), f AS (
        SELECT modality, CASE modality {fmt_case} END AS format,
               n_bytes::DOUBLE * 8.0 / dur_ds::DOUBLE / 100.0 AS kbps
        FROM t WHERE modality <> 'image' AND dur_ds > 0
    )
    SELECT modality, format, count(*)::BIGINT AS n_assets,
           round(avg(kbps), 6) AS mean_kbps,
           round(quantile_cont(kbps, 0.5), 6) AS p50_kbps,
           round(quantile_cont(kbps, 0.95), 6) AS p95_kbps
    FROM f GROUP BY 1, 2 ORDER BY modality, format
    """


SHARD_BYTES = 65536       # target payload bytes per output shard
SHARD_BLOCK = 4096        # doc_id block for the prefix-sum levels


def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-balanced shard manifest: lay every asset's payload bytes
    end-to-end per modality (doc_id order) and cut the stream into
    ``SHARD_BYTES`` shards — the write-planning step a 100 TB
    multimodal corpus runs before materializing tar/parquet shards, so
    downstream loaders see near-uniform shard sizes regardless of the
    long-tailed per-asset byte distribution. Emits one manifest row per
    (modality, shard): asset count, payload bytes, id span, and the
    permille deviation from the target.

    Scale shape: the global byte offset per modality reuses
    pack_sequences' THREE-level prefix sum, with modality prepended to
    every partition key — (1) intra-block cumsum windowed by (modality,
    doc_id div SHARD_BLOCK); (2) block subtotals per (modality, super);
    (3) super-block subtotals through a tiny per-modality window
    (|corpus|/SHARD_BLOCK² rows), broadcast back. No window task sees
    more than SHARD_BLOCK rows at any corpus size; shard assignment is
    map-side integer arithmetic and the manifest shuffle keys on
    (modality, shard). Exact integers; deviation is integer permille
    (cast BIGINT both engines).
    """
    assets = (
        multimodal_table(spark, sf_dir)
        .select(
            "doc_id",
            F.col("meta.modality").alias("modality"),
            F.length("media").alias("n_bytes"),
        )
        .withColumn("block", F.expr(f"doc_id div {SHARD_BLOCK}"))
        # assets feeds the intra window AND the block totals — unpinned,
        # the binary media scan ran twice just to re-take length(). Pin
        # the 4-integer asset-grain table; the payload bytes are read
        # ONCE.
        .transform(pin)
    )
    intra = assets.withColumn(
        "intra_cum",
        F.sum("n_bytes").over(
            Window.partitionBy("modality", "block")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # (modality, block) grain — |corpus|/SHARD_BLOCK rows; feeds both
    # the super cumsum and the super offsets, so pin it too.
    blocks = (
        assets.groupBy("modality", "block")
        .agg(F.sum("n_bytes").alias("block_total"))
        .withColumn("super", F.expr(f"block div {SHARD_BLOCK}"))
        .transform(pin)
    )
    intra_super = blocks.withColumn(
        "intra_super_cum",
        F.sum("block_total").over(
            Window.partitionBy("modality", "super")
            .orderBy("block")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    super_offsets = (
        blocks.groupBy("modality", "super")
        .agg(F.sum("block_total").alias("super_total"))
        .withColumn(
            "super_offset",
            F.coalesce(
                F.sum("super_total").over(
                    Window.partitionBy("modality")
                    .orderBy("super")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("modality", "super", "super_offset")
    )
    block_offsets = intra_super.join(
        F.broadcast(super_offsets), ["modality", "super"]
    ).select(
        "modality",
        "block",
        (
            F.col("super_offset")
            + F.col("intra_super_cum")
            - F.col("block_total")
        ).alias("block_offset"),
    )
    placed = (
        intra.join(F.broadcast(block_offsets), ["modality", "block"])
        .withColumn(
            "offset",
            F.col("block_offset") + F.col("intra_cum") - F.col("n_bytes"),
        )
        .withColumn("shard", F.expr(f"offset div {SHARD_BYTES}"))
    )
    man = placed.groupBy("modality", "shard").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    return man.selectExpr(
        "modality",
        "shard",
        "n_assets",
        "shard_bytes",
        "first_doc",
        "last_doc",
        "cast("
        + sp_units(
            f"abs(shard_bytes - {SHARD_BYTES})", str(SHARD_BYTES), 3
        )
        + " as bigint) AS dev_permille",
    ).orderBy("modality", "shard")


def mm_shard_manifest_sql() -> str:
    return f"""
    WITH assets AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS modality,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ), placed AS (
        SELECT doc_id, modality, n_bytes,
               (sum(n_bytes) OVER (PARTITION BY modality ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_bytes) // {SHARD_BYTES} AS shard
        FROM assets
    ), man AS (
        SELECT modality, shard::BIGINT AS shard,
               count(*)::BIGINT AS n_assets,
               sum(n_bytes)::BIGINT AS shard_bytes,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM placed GROUP BY 1, 2
    )
    SELECT modality, shard, n_assets, shard_bytes, first_doc, last_doc,
           ({dk_units(f"abs(shard_bytes - {SHARD_BYTES})", str(SHARD_BYTES), 3)})::BIGINT
               AS dev_permille
    FROM man ORDER BY modality, shard
    """
