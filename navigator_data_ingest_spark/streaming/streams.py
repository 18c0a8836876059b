"""Structured Streaming: events source + watermarked windowed ingest.

The reference is batch-only (one PipelineUpdates file per run); a 100 TB
pipeline ingests continuously. These operators express the same
computation as Structured Streaming jobs:

* ``src_stream_events`` — file-based ``readStream`` over the events
  parquet with an explicit schema resolved by a one-footer batch read
  (streaming readers cannot infer), adapting to micros- or nanos-stored
  event times.
* ``stream_ingest`` — event-time pipeline: watermark, exact dedup on
  (event_id, ts) with bounded state (the watermark expires dedup state),
  1-hour tumbling-window aggregation in UPDATE output mode.

For the registry/driver the streams run with ``trigger(availableNow)``
into a memory sink and return the resulting batch DataFrame; on a
cluster the same plan runs forever against an arriving-file or Kafka
source with a parquet/Delta sink — only `.format()`/`.trigger()`
change. Because the test input is a single parquet file, availableNow
processes it as one micro-batch, so update mode emits each window
exactly once and the result is value-equal to the batch oracle.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import LongType, TimestampNTZType

from navigator_data_ingest_spark.sources.sinks import scratch_dir, sink_path
from navigator_data_ingest_spark.sources.tables import (
    load_table,
    path_stamp,
    pin,
    raw_relation,
)


def read_stream_events(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """events parquet as a streaming DataFrame with a real event-time col.

    Streaming readers cannot infer schemas, so the schema is resolved
    with a one-footer BATCH read of the same path — this also absorbs
    the storage representation of ``ts``: TIMESTAMP(MICROS) footers
    arrive as a real timestamp, while TIMESTAMP(NANOS) footers (which
    Spark only reads as a raw long under
    ``spark.sql.legacy.parquet.nanosAsLong``) arrive as a long that is
    integer-divided to microseconds in-stream — the same adaptation
    ``sources/tables.py`` applies on the batch side.

    ``max_files_per_trigger`` bounds each micro-batch (used by tests to
    force multi-batch runs that exercise watermark advancement; on a
    cluster it is the ingest back-pressure knob).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    if glob == "events.parquet":
        # the stored-schema footer read goes through the per-session
        # relation cache (0.3-0.5 s of driver-side resolution per drain
        # otherwise); non-default globs (tests' multi-file feeds) keep
        # the direct read.
        schema = raw_relation(spark, sf_dir, "events").schema
    else:
        schema = (
            spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
        )
    # FileStreamSource wants a directory; scope it to the events file
    # with a glob (on a cluster this is the arriving-files directory)
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(sf_dir)
    if isinstance(schema["ts"].dataType, LongType):
        # integer division: double division corrupts micros at ~1e18 ns
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, TimestampNTZType):
        # watermarks/windows require an instant-typed event time; the
        # session-tz round trip (NTZ wall -> instant -> rendered wall)
        # is the identity within one session
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_dedup_agg(ev: DataFrame) -> DataFrame:
    """Watermark -> exact dedup -> 1-hour tumbling-window aggregation.

    State stays bounded at scale: the 1-hour watermark expires both the
    dropDuplicates state (key includes the event-time column) and closed
    windows.
    """
    return (
        # project to the four consumed columns BEFORE the dedup shuffle
        # (guide §2.3): the dropDuplicates state store keeps the whole
        # row per (event_id, ts) key, so the projection narrows both the
        # exchange and the per-key state at scale. event_id is the event
        # PK, so the kept row is unchanged.
        ev.select("event_id", "ts", "event_type", "value")
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id", "ts"])
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# State-store cost scales with the stream's shuffle-partition count (one
# store per partition per stateful operator, each committing a delta file
# per micro-batch). A driver session runs with the 200-partition default,
# which turns a 10k-row drain into thousands of tiny state commits — so
# drains clamp the partition count for the lifetime of the query (the
# value is captured at query start and pinned by the checkpoint). On a
# real cluster this knob is sized to the state volume instead.
STREAM_SHUFFLE_PARTITIONS = 4


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set each runtime conf in ``confs`` for the block, then restore
    its earlier value, or unset it if the session had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# every drain runs under this clamp
_STREAM_CONFS = {"spark.sql.shuffle.partitions": str(STREAM_SHUFFLE_PARTITIONS)}


def drain(writer: DataStreamWriter, checkpoint: str) -> StreamingQuery:
    """Run ``writer``'s query over all input available now, under the
    stream conf clamp, and return the finished query.

    The package's one way to run a stream: ``checkpoint`` is the
    query's checkpoint location, and ``trigger(availableNow)`` ends the
    query once the input present at its start is processed.
    """
    with scoped_conf(writer._spark, _STREAM_CONFS):
        query = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return query


def _run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a stream into a memory sink; return its table."""
    drain(
        stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        scratch_dir("ckpt", name),
    )
    return stream_df.sparkSession.table(name)


def _qname(kind: str, sf_dir: str) -> str:
    return f"{kind}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"


def src_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pass-through of the events table (stateless append).

    Value-equality with the batch ``SELECT * FROM events`` oracle proves
    the streaming source reads the same rows/types as the batch reader.
    """
    stream = read_stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = _run_to_memory(stream, _qname("src_events", sf_dir), "append")
    return out.orderBy("event_id")


def stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + dedup + tumbling-window agg, the streaming headliner.

    count(DISTINCT) is not available in streaming aggs; the exact
    distinct-users figure has its own batch operator (q_events_windowed).
    """
    agg = windowed_dedup_agg(read_stream_events(spark, sf_dir))
    out = _run_to_memory(agg, _qname("stream_ingest", sf_dir), "update")
    return out.orderBy("window_start", "event_type")


SESSION_GAP = "30 minutes"


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with the NATIVE streaming session window.

    ``F.session_window(ts, gap)`` maintains per-user open sessions in
    the state store, merging events closer than the gap and closing a
    session when the watermark passes its end — the streaming twin of
    the batch lag/cumsum operator (q_events_sessionize). Note the
    session_window end is ``last event + gap`` by definition, so the
    oracle computes ``max(ts) + INTERVAL gap``.
    """
    ev = read_stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    # session-window aggs reject update mode (sessions merge); complete
    # drains the final state here — the infinite-stream deployment uses
    # append mode, emitting each session once the watermark closes it
    out = _run_to_memory(agg, _qname("stream_sess", sf_dir), "complete")
    return out.orderBy("user_id", "session_start")


FIRSTSEEN_SCHEMA = "user_id bigint, first_ts timestamp, first_event_id bigint, first_value double"
FIRSTSEEN_STATE_SCHEMA = "seen boolean, first_ts timestamp, first_event_id bigint, first_value double"


def _firstseen_fn(key, batches, state):
    """Emit each user's FIRST event only; all later events are swallowed.

    Custom stateful logic the built-in operators can't express (it is
    neither an agg nor a windowed dedup: the emitted ROW must carry the
    first event's full payload, chosen by (ts, event_id) order across
    micro-batches). State per user is one tiny tuple; in deployment a
    GroupStateTimeout would expire dormant users.
    """
    import pandas as pd

    best = None  # (ts, event_id, value)
    if state.exists:
        seen, ts, eid, val = state.get
        best = (ts, eid, val)
    emitted_before = best is not None
    for pdf in batches:
        for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
            cand = (ts, eid, val)
            if best is None or cand[:2] < best[:2]:
                best = cand
    if best is not None:
        state.update((True, best[0], best[1], best[2]))
    if best is not None and not emitted_before:
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "first_ts": [best[0]],
                "first_event_id": [best[1]],
                "first_value": [best[2]],
            }
        )


def firstseen_agg(ev: DataFrame) -> DataFrame:
    """Attach the first-seen stateful operator to an event stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _firstseen_fn,
        outputStructType=FIRSTSEEN_SCHEMA,
        stateStructType=FIRSTSEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-per-user via ``applyInPandasWithState``.

    The template for custom stateful streaming operators: grouped state
    keyed by user, Arrow-batched per-group processing, explicit state
    schema. First-SEEN is processing-order semantics: the oracle's
    global (ts, event_id) min matches exactly when the drain is a
    single micro-batch (true for the single-file registry input); the
    cross-batch emit-once behavior is pinned in tests with
    maxFilesPerTrigger.
    """
    out = firstseen_agg(read_stream_events(spark, sf_dir))
    res = _run_to_memory(out, _qname("stream_first", sf_dir), "append")
    return res.orderBy("user_id")


def stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases enriched with the same
    user's clicks from the preceding hour.

    The remaining Structured Streaming capability class: both sides are
    watermarked streams, the join condition carries the event-time range
    bound that lets Spark expire join state (clicks older than the
    watermark minus the interval are dropped from the state store).
    Single-batch availableNow makes the result value-equal to the batch
    interval join, which is the oracle.
    """
    ev = read_stream_events(spark, sf_dir)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").alias("purchase_ts"),
        "click_id",
        F.col("c_ts").alias("click_ts"),
        F.round("click_value", 6).alias("click_value"),
    )
    out = _run_to_memory(joined, _qname("stream_enrich", sf_dir), "append")
    return out.orderBy("purchase_id", "click_id")


def stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with ``dropDuplicatesWithinWatermark``.

    Unlike ``dropDuplicates`` (whose state never expires unless the
    event-time column is part of the key), the within-watermark variant
    expires dedup state once the watermark passes — the right tool when
    the dedup key is business-level (user, event_type) rather than a
    unique event id. Emission keeps the FIRST row seen per key, which
    is processing-order-dependent, so the operator projects the KEY
    COLUMNS ONLY. The registry drain is a single micro-batch (one input
    file), where the projection equals batch ``SELECT DISTINCT``; across
    micro-batches a key RE-EMITS once the watermark has expired its
    state (at-most-once per key per watermark window, not global
    distinct) — pinned in tests/test_streaming.py.
    """
    ev = read_stream_events(spark, sf_dir)
    dedup = (
        # project to key+event-time BEFORE the dedup (guide §2.3):
        # dropDuplicates* semantically keeps whole rows, so the
        # optimizer cannot prune below it — without this the exchange
        # and the per-key state carry every event column.
        ev.select("user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = _run_to_memory(dedup, _qname("stream_dedupwm", sf_dir), "append")
    return out.orderBy("user_id", "event_type")


FEED_FILES = 3


def _scatter_time_ordered_feed(spark: SparkSession, sf_dir: str) -> str:
    """Write events as ``FEED_FILES`` time-ordered parquet files with
    strictly increasing mtimes, so FileStreamSource (which orders by
    modification time) delivers one micro-batch per file in event-time
    order.

    Feed preparation is test scaffolding standing in for an
    arriving-files directory — in deployment the files land over time
    and no scatter step exists. It runs EXECUTOR-SIDE: the exact global
    rank by (ts, event_id) is a scale-safe two-level prefix sum
    (range-partition → per-partition counts → broadcast offsets →
    within-partition row_number), chunk i is rows (n·i//k, n·(i+1)//k]
    of that order (the bound the stream_incremental_files oracle
    replays), and the chunk files are written by a range-partitioned
    Spark write — event payloads never pass through the driver; the
    driver only renames k files and stamps mtimes (metadata ops).

    The feed is a per-process cache keyed by the source file's stamp, so
    a regenerated testdata set (same path, different bytes) gets a new
    feed. It is assembled in a staging root and renamed into place once
    complete: a build that fails midway leaves no partial feed for the
    next call to reuse.
    """
    src = os.path.join(sf_dir, "events.parquet")
    key = f"{sf_dir}|{path_stamp(src)}"
    d = sink_path("feed", key)
    if os.path.isdir(d):
        return d
    stage = scratch_dir("feedstage", key)
    fin = os.path.join(stage, "feed")
    os.makedirs(fin)

    def chunk_file(i: int) -> str:
        return os.path.join(fin, f"chunk{i}.parquet")

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    ev = spark.read.parquet(src)
    data_cols = ev.columns
    n = ev.count()
    if n > 0:
        # level 1: range-partition by the global order; each partition
        # holds a contiguous (ts, event_id) span in partition-index order.
        # the pin fixes the partition assignment: spark_partition_id
        # is only meaningful if the counts job and the write job see the
        # SAME exchange output (range boundaries are sample-based and may
        # differ across independent executions of the plan).
        p = max(FEED_FILES, spark.sparkContext.defaultParallelism)
        ranged = (
            ev.repartitionByRange(p, "ts", "event_id")
            .withColumn("_pid", F.spark_partition_id())
            .transform(pin)
        )
        # per-partition counts are p metadata rows — the only driver collect
        counts = {r._pid: r.c for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()}
        offsets, acc = {}, 0
        for pid in range(p):
            offsets[pid] = acc
            acc += counts.get(pid, 0)
        off_map = F.create_map(
            *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
        )
        local_w = Window.partitionBy("_pid").orderBy("ts", "event_id")
        bounds = [n * i // FEED_FILES for i in range(1, FEED_FILES)]
        rn = off_map[F.col("_pid")] + F.row_number().over(local_w)
        chunk = sum((rn > F.lit(b)).cast("int") for b in bounds)
        parts = os.path.join(stage, "parts")
        (
            ranged.withColumn("_chunk", chunk)
            # range-partition on _chunk co-locates each chunk in ONE task ⇒
            # exactly one data file per chunk directory
            .repartitionByRange(FEED_FILES, "_chunk")
            .select(*data_cols, "_chunk")
            .write.partitionBy("_chunk")
            .parquet(parts)
        )
        for i in range(FEED_FILES):
            cdir = os.path.join(parts, f"_chunk={i}")
            if not os.path.isdir(cdir):
                continue
            files = [f for f in os.listdir(cdir) if f.endswith(".parquet")]
            if len(files) != 1:
                raise RuntimeError(f"chunk {i}: expected 1 file, got {files}")
            shutil.move(os.path.join(cdir, files[0]), chunk_file(i))
    # a chunk with ZERO rows gets no dynamic-partition directory (with
    # n == 0 nothing is written at all): stamp it as a schema-only file
    # cloned from a populated chunk's schema, or the source footer's, so
    # the feed keeps exactly FEED_FILES micro-batches at any row count
    # and the stream runs over empty files instead of failing
    missing = [i for i in range(FEED_FILES) if not os.path.exists(chunk_file(i))]
    if missing:
        import pyarrow.parquet as pq

        donors = [chunk_file(i) for i in range(FEED_FILES) if i not in missing]
        empty = pq.read_schema(donors[0] if donors else src).empty_table()
        for i in missing:
            pq.write_table(empty, chunk_file(i))
    for i in range(FEED_FILES):
        t = 1_000_000 + i * 1000
        os.utime(chunk_file(i), (t, t))
    os.rename(fin, d)  # mtimes survive the rename
    shutil.rmtree(stage)
    return d


def stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode session windows over a real multi-batch feed.

    The deployment-true form of ``stream_sessionize``: three time-ordered
    micro-batches (maxFilesPerTrigger=1) advance the watermark between
    batches, and each session is emitted EXACTLY ONCE, when the
    watermark passes its end. availableNow commits a final flush batch,
    so the emitted set is precisely the sessions with
    ``session_end <= max(ts) - watermark_delay`` — the batch-SQL oracle;
    the still-open tail beyond the watermark is withheld by design.
    """
    d = _scatter_time_ordered_feed(spark, sf_dir)
    ev = read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    out = _run_to_memory(agg, _qname("stream_sessapp", sf_dir), "append")
    return out.orderBy("user_id", "session_start")


TOPK_PER_WINDOW = 3


def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-K event types: streaming pre-aggregation + batch
    rank over the drained aggregate.

    Streaming cannot run ranking window functions (state for a rank is
    unbounded-ordered), and it doesn't need to: the HEAVY part — per
    (window, event_type) counting over the raw stream — is incremental
    state the streaming agg maintains; the top-K cut runs over the
    drained aggregate, which is |windows| x |types| rows (metadata-
    sized, independent of event volume). This split — incremental
    pre-agg in the stream, final rank over the tiny result — is the
    standard production layout (same two-phase shape a dashboard sink
    uses), not a workaround.
    """
    agg = (
        read_stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )
    drained = _run_to_memory(agg, _qname("stream_topk", sf_dir), "update")
    # asc_nulls_last pins the NULL event_type group's rank position:
    # Spark ASC is NULLS FIRST, DuckDB ASC is NULLS LAST
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc_nulls_last("event_type")
    )
    return (
        drained.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK_PER_WINDOW)
        .select("window_start", "event_type", "n_events", "sum_value",
                F.col("rank").cast("int").alias("rank"))
        .orderBy("window_start", "rank")
    )


def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply via ``foreachBatch``: each micro-batch merges
    latest-wins into a versioned parquet state table — the production
    pattern for "stream into a keyed table" on plain files (the same
    merge a Delta/Iceberg MERGE INTO runs; here the compaction is
    explicit). Events act as the changelog: key = user_id, version =
    (ts, event_id), and an ``error`` event is the key's tombstone.

    Semantics that make it oracle-able: tombstones are RETAINED in the
    state (filtered only at read), so the per-batch merge is
    associative and the final state over 3 time-ordered micro-batches
    equals one batch latest-wins over the whole changelog — the DuckDB
    oracle. Each merge is fully distributed (union + one key shuffle);
    the driver only sequences batch ids.
    """
    feed = _scatter_time_ordered_feed(spark, sf_dir)
    state_root = scratch_dir("fbupsert", feed)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cur_path = os.path.join(state_root, f"v{batch_id - 1}")
        nxt_path = os.path.join(state_root, f"v{batch_id}")
        rows = batch_df.select("user_id", "ts", "event_id", "event_type", "value")
        if os.path.isdir(cur_path):
            rows = sp.read.parquet(cur_path).unionByName(rows)
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        (
            rows.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
            .write.mode("overwrite")
            .parquet(nxt_path)
        )

    ev = read_stream_events(spark, feed, glob="*.parquet", max_files_per_trigger=1)
    drain(ev.writeStream.foreachBatch(_merge), scratch_dir("ckpt", "fbupsert"))

    versions = sorted(
        int(d[1:]) for d in os.listdir(state_root) if d.startswith("v")
    )
    final = spark.read.parquet(os.path.join(state_root, f"v{versions[-1]}"))
    return (
        final.where(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
        )
        .orderBy("user_id")
    )


def stream_foreachbatch_upsert_sql() -> str:
    return """
    WITH latest AS (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_event_type, round(value, 6) AS last_value
    FROM latest WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """


def stream_incremental_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once incremental file processing: the checkpoint persists
    across TWO drains of a growing directory, and the second drain
    processes ONLY the file that arrived in between — the property that
    makes Structured Streaming an incremental-ETL scheduler (no
    reprocessing, no dedup bookkeeping; the source's commit log IS the
    watermark over the file listing).

    Phase 1: two time-ordered chunks land, availableNow drains them.
    Phase 2: the third chunk lands, a NEW availableNow run on the SAME
    checkpoint drains it. The operator returns phase 2's emission —
    exactly the third chunk's rows, which the oracle pins as the last
    third of the (ts, event_id)-ordered events table (the same boundary
    arithmetic the feed builder uses).
    """
    feed = _scatter_time_ordered_feed(spark, sf_dir)
    chunks = sorted(os.listdir(feed))
    work = scratch_dir("increm", feed)
    ckpt = os.path.join(work, "_checkpoint")
    data = os.path.join(work, "data")
    sink = os.path.join(work, "sink")
    os.makedirs(data)
    for c in chunks[:2]:
        shutil.copy2(os.path.join(feed, c), os.path.join(data, c))

    def _drain() -> None:
        # a DURABLE sink (parquet), not memory: resuming from a
        # checkpoint is exactly the capability under test, and the
        # memory sink refuses recovery
        ev = read_stream_events(spark, data, glob="*.parquet").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        drain(
            ev.writeStream.format("parquet").option("path", sink).outputMode("append"),
            ckpt,
        )

    def _sink_files() -> set[str]:
        return {
            f for f in os.listdir(sink) if f.endswith(".parquet")
        } if os.path.isdir(sink) else set()

    _drain()
    before = _sink_files()
    shutil.copy2(os.path.join(feed, chunks[2]), os.path.join(data, chunks[2]))
    _drain()  # the same checkpoint: resumes after the first two chunks
    # never empty: the checkpoint starts fresh on every run, so the
    # late chunk is always new to it, and a micro-batch with zero rows
    # (every chunk of an empty corpus, the first two of a one-row one)
    # still commits one schema-only part file
    fresh = sorted(_sink_files() - before)
    out = spark.read.parquet(*[os.path.join(sink, f) for f in fresh])
    return out.orderBy("event_id")


def stream_incremental_files_sql() -> str:
    return """
    WITH t AS (
        SELECT event_id, ts, user_id, event_type, value,
               row_number() OVER (ORDER BY ts, event_id) AS rn,
               count(*) OVER () AS n
        FROM events
    )
    SELECT event_id, ts, user_id, event_type, value
    FROM t WHERE rn > 2 * n // 3
    ORDER BY event_id
    """


OUTER_JOIN_INTERVAL = "1 hour"  # click must precede purchase within this


def stream_outer_join_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join with watermark-expiry
    null emission — the capability inner joins don't exercise: an
    unmatched purchase can only be emitted (null-extended) once the
    watermark proves no qualifying click can still arrive.

    Over a 3-file time-ordered feed (maxFilesPerTrigger=1) the
    watermark advances between micro-batches, so early unmatched
    purchases emit mid-stream and availableNow's final flush evicts the
    rest up to the terminal watermark. The emitted set is exactly:
    every matched pair, plus unmatched purchases with
    ``p_ts < min(max(p_ts), max(c_ts)) - interval`` (the terminal
    global watermark) — the batch-SQL oracle; unmatched purchases
    inside the final watermark window are withheld by design (they are
    still joinable in a live stream).

    Scale shape: join state is keyed on user_id and bounded by the
    interval on BOTH sides (clicks older than wm - interval and
    purchases older than wm are evicted), so state size tracks the
    interval x arrival rate, not stream length.
    """
    d = _scatter_time_ordered_feed(spark, sf_dir)
    ev = read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", OUTER_JOIN_INTERVAL)
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", OUTER_JOIN_INTERVAL)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {OUTER_JOIN_INTERVAL}"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").alias("purchase_ts"),
        "click_id",
        F.col("c_ts").alias("click_ts"),
    )
    out = _run_to_memory(joined, _qname("stream_outerjoin", sf_dir), "append")
    return out.orderBy("purchase_id", "click_id")


def stream_outer_join_expiry_sql() -> str:
    return """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), wm AS (
        SELECT least((SELECT max(purchase_ts) FROM p),
                     (SELECT max(click_ts) FROM c))
               - INTERVAL 1 HOUR AS cut
    ), j AS (
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               c.click_id, c.click_ts
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id
         AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
         AND c.click_ts <= p.purchase_ts
    )
    SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
    FROM j, wm
    WHERE click_id IS NOT NULL OR purchase_ts < wm.cut
    ORDER BY purchase_id, click_id
    """


ACCTBAL_SEGMENT_CUT = 5000.0  # customer-segment boundary on acctbal


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast enrichment — the most common production
    streaming join: events stream in, the customer dimension sits in a
    table, and every micro-batch joins against a BROADCAST snapshot of
    it. Unlike a stream-stream join this holds ZERO join state (the dim
    is re-resolvable per batch, which is also how dim updates become
    visible mid-stream on a cluster), so it scales with the dim size,
    not the stream length — and needs no watermark at all.

    The output is the enriched record stream (append mode, map-side
    only); the segment tag is the dim-derived column downstream
    aggregations would key on.
    """
    ev = read_stream_events(spark, sf_dir)
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.when(F.col("c_acctbal") >= ACCTBAL_SEGMENT_CUT, F.lit("premium"))
            .otherwise(F.lit("standard"))
            .alias("segment"),
        )
    )
    enriched = ev.join(
        F.broadcast(cust), F.col("user_id") == F.col("c_custkey")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "segment",
        F.round("value", 6).alias("value"),
    )
    out = _run_to_memory(enriched, _qname("stream_statenrich", sf_dir), "append")
    return out.orderBy("event_id")


def stream_static_enrich_sql() -> str:
    return f"""
    SELECT event_id, user_id, event_type,
           CASE WHEN c_acctbal >= {ACCTBAL_SEGMENT_CUT}
                THEN 'premium' ELSE 'standard' END AS segment,
           round(value, 6) AS value
    FROM events JOIN customer ON user_id = c_custkey
    ORDER BY event_id
    """


# --------------------------------------------------------------------------
# transformWithStateInPandas (the Spark 4 arbitrary-state API)
# --------------------------------------------------------------------------

TWS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, cents bigint"


class _RunningTotalsProcessor:
    """Per-user running totals via the Spark 4 ``StatefulProcessor``
    contract (init/handleInputRows/close with handle-managed typed
    state). Defined lazily as a plain class and upgraded below so the
    module imports on any pyspark; the operator itself requires 4.x.
    """

    def init(self, handle) -> None:
        self._totals = handle.getValueState(
            "totals", "n bigint, cents bigint"
        )

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np
        import pandas as pd

        n, cents = 0, 0
        if self._totals.exists():
            n, cents = self._totals.get()
        for pdf in rows:
            n += len(pdf)
            # half-up integer cents — the house rounding (floor(x*100+.5));
            # dropna = SQL sum semantics (a NULL value adds nothing; NaN
            # would poison the whole running total)
            v = pdf["value"].dropna().to_numpy()
            cents += int(np.floor(v * 100.0 + 0.5).sum())
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "cents": [cents]}
        )

    def close(self) -> None:
        pass


def _tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf for its
    driver-worker state protocol; probe it up front instead of failing
    three layers deep in the streaming runner."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _totals_fallback_fn(key, batches, state):
    """applyInPandasWithState twin of the StatefulProcessor: identical
    state content and emission."""
    import numpy as np
    import pandas as pd

    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        # dropna = SQL sum semantics (see _RunningTotalsProcessor)
        v = pdf["value"].dropna().to_numpy()
        cents += int(np.floor(v * 100.0 + 0.5).sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "cents": [cents]})


def stream_tws_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` —
    the Spark 4 successor to ``applyInPandasWithState``: named typed
    state slots (value/list/map) fetched from a handle, plus timers.
    This is the API a production incremental aggregation (billing
    counters, per-entity quotas) targets.

    State is one (n, cents) tuple per user — size scales with KEYS, not
    events. Update mode emits each key's refreshed totals per batch; the
    single-file availableNow drain is one batch, so the emitted set
    equals the batch aggregate (the oracle). The TWS path needs the
    RocksDB state-store provider (restored after the drain) and
    google.protobuf in the Python workers; in containers without
    protobuf the operator degrades to an ``applyInPandasWithState``
    twin with identical state content and emission, so the semantics
    stay executable and oracle-checked everywhere while the
    StatefulProcessor code path is exercised wherever the dependency
    exists.
    """
    ev = read_stream_events(spark, sf_dir).select("user_id", "value")
    if not _tws_available():
        from pyspark.sql.streaming.state import GroupStateTimeout

        out = ev.groupBy("user_id").applyInPandasWithState(
            _totals_fallback_fn,
            outputStructType=TWS_OUTPUT_SCHEMA,
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = _run_to_memory(out, _qname("stream_tws", sf_dir), "update")
        return res.orderBy("user_id")

    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    proc_cls = type(
        "RunningTotals", (StatefulProcessor,), dict(_RunningTotalsProcessor.__dict__)
    )
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )
    }
    with scoped_conf(spark, rocksdb):
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc_cls(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        res = _run_to_memory(out, _qname("stream_tws", sf_dir), "update")
    return res.orderBy("user_id")


# --------------------------------------------------------------------------
# foreachBatch multi-sink router (stream demultiplexing)
# --------------------------------------------------------------------------

ROUTER_TYPES = ("click", "view", "purchase", "error")


def stream_multiplex_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream demultiplexing via ``foreachBatch``: one input stream fans
    out to per-route sinks (here one parquet dir per event type plus a
    catch-all) — the production shape when routes differ in format,
    layout, or downstream owner, which a single ``partitionBy`` write
    cannot express.

    Each batch is cached once and filtered per route (route writes are
    independent jobs over the cached batch, appending to immutable
    per-batch files). The read-back re-aggregates every sink and must
    reproduce the per-route totals of the whole feed — proving the
    router is PARTITION-COMPLETE (no event lost or double-routed),
    which is the oracle.
    """
    feed = _scatter_time_ordered_feed(spark, sf_dir)
    root = scratch_dir("router", feed)

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("event_id", "user_id", "event_type", "value").persist()
        try:
            for t in ROUTER_TYPES:
                (
                    b.where(F.col("event_type") == t)
                    .write.mode("append")
                    .parquet(os.path.join(root, f"route={t}"))
                )
            (
                # NULL event_type routes to the catch-all too: bare
                # ~isin() is NULL for NULL keys and would LOSE the event
                # (the router's contract is partition-completeness)
                b.where(
                    ~F.col("event_type").isin(*ROUTER_TYPES)
                    | F.col("event_type").isNull()
                )
                .write.mode("append")
                .parquet(os.path.join(root, "route=other"))
            )
        finally:
            b.unpersist()

    ev = read_stream_events(spark, feed, glob="*.parquet", max_files_per_trigger=1)
    drain(ev.writeStream.foreachBatch(_route), scratch_dir("ckpt", "router"))

    parts = []
    for d in sorted(os.listdir(root)):
        if not d.startswith("route="):
            continue
        route = d.split("=", 1)[1]
        pdir = os.path.join(root, d)
        if any(f.endswith(".parquet") for f in os.listdir(pdir)):
            parts.append(
                spark.read.parquet(pdir).withColumn("route", F.lit(route))
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.expr("sum(cast(floor(value * 100 + 0.5) as bigint))").alias("cents"),
        )
        .orderBy("route")
    )


def stream_multiplex_router_sql() -> str:
    types = ", ".join(f"'{t}'" for t in ROUTER_TYPES)
    return f"""
    WITH routed AS (
        SELECT CASE WHEN event_type IN ({types}) THEN event_type
                    ELSE 'other' END AS route,
               event_id, value
        FROM events
    )
    SELECT route, count(*)::bigint AS n_events,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id,
           sum(floor(value * 100 + 0.5))::bigint AS cents
    FROM routed GROUP BY route ORDER BY route
    """


# --------------------------------------------------------------------------
# event-time TIMEOUT finalization (the last stateful-API feature class)
# --------------------------------------------------------------------------

TIMEOUT_GAP_MIN = 30       # inactivity gap that finalizes a user
TIMEOUT_WM_DELAY = "1 hour"


def _timeout_totals_fn(key, batches, state):
    """Per-user totals finalized ONLY by event-time timeout: rows update
    (n, cents, last_us) and push the timeout forward; when the
    watermark passes last_ts + GAP the state emits once and is removed.
    The emit-on-timeout (not emit-on-update) pattern is how sessionized
    exports and inactivity alerts are built on the state API."""
    import numpy as np
    import pandas as pd

    gap_ms = TIMEOUT_GAP_MIN * 60 * 1000
    if state.hasTimedOut:
        n, cents, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "cents": [cents],
                "last_us": [last_us],
            }
        )
        return
    n, cents, last_us = state.get if state.exists else (0, 0, 0)
    for pdf in batches:
        n += len(pdf)
        # dropna = SQL sum semantics (see _RunningTotalsProcessor)
        v = pdf["value"].dropna().to_numpy()
        cents += int(np.floor(v * 100.0 + 0.5).sum())
        # pandas datetime64 -> epoch micros
        us = (pdf["ts"].astype("int64") // 1000).max()
        last_us = max(last_us, int(us))
    state.update((n, cents, last_us))
    state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
    return
    yield  # pragma: no cover - generator contract


def stream_timeout_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity finalization via EVENT-TIME TIMEOUTS — the stateful
    feature class the other stateful ops don't touch: nothing is
    emitted while a user stays active; the per-user record fires
    exactly once, when the watermark passes last-activity + gap, and
    the state is removed.

    Over the deterministic 3-chunk time-ordered feed, the availableNow
    drain's final flush advances the watermark to max(ts) − delay, so
    the emitted set is EXACTLY the users with
    ``last_ts + gap < max(ts) − delay`` — a pure batch predicate (the
    oracle); still-active users are withheld by design, the same
    contract as APPEND-mode session windows.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    feed = _scatter_time_ordered_feed(spark, sf_dir)
    ev = (
        read_stream_events(spark, feed, glob="*.parquet", max_files_per_trigger=1)
        .withWatermark("ts", TIMEOUT_WM_DELAY)
        .select("user_id", "ts", "value")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _timeout_totals_fn,
        outputStructType="user_id bigint, n_events bigint, cents bigint, last_us bigint",
        stateStructType="n bigint, cents bigint, last_us bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    res = _run_to_memory(out, _qname("stream_timeout", sf_dir), "append")
    return res.orderBy("user_id")


# --------------------------------------------------------------------------
# message-bus (Kafka-shaped) source adapter
# --------------------------------------------------------------------------

BUS_PARTITIONS = 4


def read_stream_bus(spark: SparkSession, sf_dir: str, feed: str) -> DataFrame:
    """Streaming DataFrame in the Kafka WIRE SHAPE (key binary, value
    binary, topic, partition, timestamp) over the arriving-files feed.

    This is the message-bus adapter seam: in deployment the body of
    this function is
    ``spark.readStream.format("kafka").option("kafka.bootstrap.servers",
    ...).option("subscribe", "events").load()`` and NOTHING downstream
    changes — consumers already receive binary key/value columns and
    decode with from_json, exactly as they would from a broker. The
    sandbox has no broker, so the same schema is synthesized from the
    time-ordered event feed (value = the event row as a JSON blob,
    partition = hash of the producer key — the standard keyed-producer
    layout).
    """
    ev = read_stream_events(spark, feed, glob="*.parquet", max_files_per_trigger=1)
    return ev.select(
        F.lit("events").alias("topic"),
        F.pmod(F.col("user_id"), F.lit(BUS_PARTITIONS)).cast("int").alias("partition"),
        F.encode(F.col("event_id").cast("string"), "utf-8").alias("key"),
        F.encode(
            F.to_json(F.struct("event_id", "user_id", "event_type", "value")),
            "utf-8",
        ).alias("value"),
        F.col("ts").alias("timestamp"),
    )


def stream_bus_adapter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume the Kafka-shaped stream end-to-end: binary value ->
    from_json decode -> per-(topic, partition) ingestion accounting
    (message count, integer-cents payload total, max key) — the
    consumer-side bookkeeping every bus pipeline keeps per partition.
    The oracle recomputes the same accounting from the batch events
    table, proving the adapter loses nothing across the wire shape,
    the JSON round trip, and the multi-micro-batch drain.
    """
    feed = _scatter_time_ordered_feed(spark, sf_dir)
    bus = read_stream_bus(spark, sf_dir, feed)
    parsed = bus.select(
        "topic",
        "partition",
        F.from_json(
            F.decode("value", "utf-8"),
            "event_id bigint, user_id bigint, event_type string, value double",
        ).alias("v"),
    )
    agg = parsed.groupBy("topic", "partition").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.expr(
            "sum(cast(floor(v.value * 100 + 0.5) as bigint))"
        ).alias("cents_sum"),
        F.max("v.event_id").alias("max_event_id"),
    )
    out = _run_to_memory(agg, _qname("stream_bus", sf_dir), "complete")
    return out.orderBy("topic", "partition")


def stream_bus_adapter_sql() -> str:
    return f"""
    SELECT 'events' AS topic,
           (user_id % {BUS_PARTITIONS})::int AS partition,
           count(*)::bigint AS n_msgs,
           sum(floor(value * 100 + 0.5))::bigint AS cents_sum,
           max(event_id)::bigint AS max_event_id
    FROM events
    GROUP BY 1, 2
    ORDER BY topic, partition
    """


def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful window aggregations in one streaming query
    (Spark 4: multiple event-time aggs in append mode): hourly
    (window, type) counts feed a second windowed agg that rolls them up
    to days — the two-level pre-aggregation a metrics pipeline runs as
    ONE query instead of a stream-to-stream hop through a bus topic.

    Emission is the append-mode rule at BOTH levels with the same final
    watermark wm = max(ts) - 1h: hourly windows with end <= wm flow to
    the daily level, daily windows with end <= wm emit — verified
    equal to the batch replay, which is the DuckDB oracle. State is
    bounded: level 1 holds <= one open hour per type, level 2 <= one
    open day per type.
    """
    ev = read_stream_events(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("value").alias("v"),
        )
    )
    daily = (
        hourly.groupBy(F.window(F.col("window"), "1 day"), F.col("event_type"))
        .agg(
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.sum("v"), 6).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("day_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_hours").cast("bigint").alias("n_hours"),
            "sum_value",
        )
    )
    out = _run_to_memory(daily, _qname("stream_chainwin", sf_dir), "append")
    return out.orderBy("day_start", "event_type")


def stream_chained_windows_sql() -> str:
    return """
    WITH wm AS (
        SELECT max(ts::TIMESTAMP) - INTERVAL 1 HOUR AS wm FROM events
    ), hourly AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) AS hs,
               event_type, count(*)::BIGINT AS c, sum(value) AS v
        FROM events GROUP BY 1, 2
    ), closed AS (
        SELECT * FROM hourly CROSS JOIN wm
        WHERE hs + INTERVAL 1 HOUR <= wm
    ), daily AS (
        SELECT time_bucket(INTERVAL 1 DAY, hs) AS day_start, event_type,
               sum(c)::BIGINT AS n_events, count(*)::BIGINT AS n_hours,
               round(sum(v), 6) AS sum_value, max(wm) AS wm
        FROM closed GROUP BY 1, 2
    )
    SELECT day_start, event_type, n_events, n_hours, sum_value
    FROM daily WHERE day_start + INTERVAL 1 DAY <= wm
    ORDER BY day_start, event_type
    """


def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store data source certification (Spark 4 ``statestore``
    format): after draining an append-mode hourly windowed agg, BATCH-
    read the query's checkpointed state and return the still-open
    windows — the ops/debugging surface that lets a deployment inspect
    (and a migration rewrite) live streaming state without replaying
    the stream.

    Append mode evicts a window's state when the watermark passes its
    end, so the retained state is EXACTLY the windows with
    end > wm = max(ts) - 1h — an independently recomputable batch
    predicate, which is the DuckDB oracle. The state read is offline
    metadata access (no stream runs for it).
    """
    ev = read_stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    name = _qname("stream_statereader", sf_dir)
    ck = scratch_dir("ckpt", name)
    drain(agg.writeStream.format("memory").queryName(name).outputMode("append"), ck)
    state = spark.read.format("statestore").load(ck)
    # the state rows expose the RAW aggregation buffers (count / sum),
    # not the query's output aliases — the round is applied at read time
    return (
        state.select(
            F.col("key.window.start").alias("window_start"),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("bigint").alias("pending_events"),
            F.round(F.col("value.sum"), 6).alias("pending_sum"),
        )
        .orderBy("window_start", "event_type")
    )


def stream_state_reader_sql() -> str:
    return """
    WITH wm AS (
        SELECT max(ts::TIMESTAMP) - INTERVAL 1 HOUR AS wm FROM events
    ), hourly AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) AS window_start,
               event_type, count(*)::BIGINT AS pending_events,
               round(sum(value), 6) AS pending_sum
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, pending_events, pending_sum
    FROM hourly CROSS JOIN wm
    WHERE window_start + INTERVAL 1 HOUR > wm
    ORDER BY window_start, event_type
    """


QUOTA_PER_HOUR = 3


def _quota_fn(key, batches, state):
    """Per-(user, clock-hour) quota: the first QUOTA_PER_HOUR events of
    a user's hour pass, the rest are throttled. State is (hour_us,
    used) — it RESETS whenever the hour advances, so state size is one
    tuple per active user regardless of history. Rows are processed in
    (ts, event_id) order inside each batch; the time-ordered feed
    keeps cross-batch order, so the decision sequence is deterministic
    and equals the batch row_number-per-(user,hour) rule (the oracle).
    """
    import pandas as pd

    hour_us_cur, used = state.get if state.exists else (-1, 0)
    out = []
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, eid in zip(pdf["ts"].astype("int64") // 1000, pdf["event_id"]):
            hour_us = int(ts) - int(ts) % 3_600_000_000
            if hour_us != hour_us_cur:
                hour_us_cur, used = hour_us, 0
            used += 1
            out.append((int(eid), int(key[0]), used <= QUOTA_PER_HOUR))
    state.update((hour_us_cur, used))
    if out:
        yield pd.DataFrame(
            {
                "event_id": [o[0] for o in out],
                "user_id": [o[1] for o in out],
                "allowed": [o[2] for o in out],
            }
        )


def stream_quota_enforcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key rate limiting (API/politeness quota): at most
    QUOTA_PER_HOUR events per user per clock hour pass; the rest are
    flagged throttled — enforced STATEFULLY across micro-batches with
    one (hour, used) tuple per user (applyInPandasWithState), the
    admission-control shape of a crawler or API gateway.

    Every event is emitted exactly once with its verdict; over the
    time-ordered 3-chunk feed the admission order is deterministic, so
    the verdict equals the batch rule "row_number within (user, hour)
    ordered by (ts, event_id) <= quota" — the DuckDB oracle. Output is
    the per-user admission accounting.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    feed = _scatter_time_ordered_feed(spark, sf_dir)
    ev = (
        read_stream_events(spark, feed, glob="*.parquet", max_files_per_trigger=1)
        .select("user_id", "ts", "event_id")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _quota_fn,
        outputStructType="event_id bigint, user_id bigint, allowed boolean",
        stateStructType="hour_us bigint, used bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(out, _qname("stream_quota", sf_dir), "append")
    return (
        res.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("allowed").cast("int")).cast("bigint").alias("n_allowed"),
            F.sum((~F.col("allowed")).cast("int")).cast("bigint").alias("n_throttled"),
        )
        .orderBy("user_id")
    )


def stream_quota_enforcer_sql() -> str:
    return f"""
    WITH ranked AS (
        SELECT user_id,
               row_number() OVER (
                   PARTITION BY user_id, date_trunc('hour', ts::TIMESTAMP)
                   ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id, count(*)::BIGINT AS n_events,
           sum((rn <= {QUOTA_PER_HOUR})::INT)::BIGINT AS n_allowed,
           sum((rn > {QUOTA_PER_HOUR})::INT)::BIGINT AS n_throttled
    FROM ranked GROUP BY user_id ORDER BY user_id
    """


# --------------------------------------------------------------------------
# per-micro-batch progress accounting (StreamingQueryProgress surface)
# --------------------------------------------------------------------------

def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch progress accounting from the StreamingQueryProgress
    API — the observability surface an operator's dashboards and lag
    alerts read (rows per batch, per-batch max event time). Certified
    by VALUE against the batch oracle: over the deterministic 3-chunk
    time-ordered feed with maxFilesPerTrigger=1, batch k must contain
    exactly the k-th global (ts, event_id)-rank chunk — so the reported
    row counts and event-time maxima are data facts the oracle replays
    with a rank expression, not stream-engine trivia.

    The progress objects are driver-side metadata (one per micro-batch);
    event payloads stay executor-side. Event-time maxima compare at
    SECOND precision (progress strings carry milliseconds; parquet
    micros would false-diverge).
    """
    feed = _scatter_time_ordered_feed(spark, sf_dir)
    ev = read_stream_events(spark, feed, glob="*.parquet", max_files_per_trigger=1)
    name = _qname("stream_progress", feed)
    query = drain(
        ev.withWatermark("ts", "1 hour")
        .select("event_id", "ts")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        scratch_dir("ckpt", "progress"),
    )
    progress = list(query.recentProgress)
    rows = []
    # batch_id is the MICRO-BATCH index, not the position among
    # non-empty batches: with maxFilesPerTrigger=1 a zero-row chunk
    # file (the n=1 feed stamps schema-only chunks) still consumes a
    # batch, and the oracle's rank expression numbers by CHUNK —
    # renumbering after the filter mislabels the surviving batches
    for k, p in enumerate(progress):
        if p["numInputRows"] <= 0:
            continue
        et = p.get("eventTime", {}) or {}
        rows.append(
            (
                k,
                int(p["numInputRows"]),
                (et.get("max") or "")[:19].replace("T", " "),
            )
        )
    out = spark.createDataFrame(
        rows, "batch_id int, n_rows bigint, max_event_ts string"
    )
    return out.orderBy("batch_id")


def stream_progress_metrics_sql() -> str:
    # chunk k of the feed = rows (n*k/3, n*(k+1)/3] of the global
    # (ts, event_id) rank — the same bound _scatter_time_ordered_feed
    # materializes (and stream_incremental_files already certifies)
    return """
    WITH r AS (
        SELECT ts::TIMESTAMP AS ts,
               row_number() OVER (ORDER BY ts, event_id) AS rk,
               count(*) OVER () AS n
        FROM events
    ), chunked AS (
        SELECT ts,
               CASE WHEN rk <= n // 3 THEN 0
                    WHEN rk <= 2 * n // 3 THEN 1
                    ELSE 2 END AS batch_id
        FROM r
    )
    SELECT batch_id::INT AS batch_id, count(*)::BIGINT AS n_rows,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_event_ts
    FROM chunked GROUP BY batch_id ORDER BY batch_id
    """


# --------------------------------------------------------------------------
# sliding (overlapping) windowed aggregation in streaming
# --------------------------------------------------------------------------

def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation — 2-hour windows advancing
    hourly, so every event belongs to TWO open windows at once: the
    overlap case the tumbling (stream_ingest) and session
    (stream_sessionize) operators don't exercise, and the state shape
    behind any streaming moving-average dashboard. Integer-cents sums
    keep the drained aggregate value-comparable to the batch replay
    (each event contributes to exactly slide_count windows — the
    oracle's 2-row explode).
    """
    agg = (
        read_stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("cast(floor(value * 100 + 0.5) as bigint)")
            ).alias("cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    out = _run_to_memory(agg, _qname("stream_sliding", sf_dir), "update")
    return out.orderBy("window_start", "event_type")


def stream_sliding_agg_sql() -> str:
    # each event lands in the window starting at its truncated hour and
    # the one an hour earlier (2h width / 1h slide)
    return """
    WITH slots AS (
        SELECT date_trunc('hour', ts::TIMESTAMP) - (k * INTERVAL 1 HOUR)
                   AS window_start,
               event_type, value
        FROM events, generate_series(0, 1) g(k)
    )
    SELECT window_start, event_type,
           count(*)::BIGINT AS n_events,
           coalesce(sum(floor(value * 100 + 0.5)), 0)::BIGINT AS cents
    FROM slots
    GROUP BY 1, 2 ORDER BY 1, 2
    """


def stream_unique_users_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per hourly window on a stream — via the
    canonical two-level pattern, because streaming aggregation does NOT
    support count(DISTINCT): dropDuplicates on (window-hour, user)
    bounds the dedup state with the watermark, then a windowed COUNT of
    the survivors is exact. THE pattern every streaming-DAU dashboard
    ships; approx_count_distinct would be the engine-specific shortcut
    the oracle could never certify.

    Complete-mode drain here (the registry contract drains final
    state); the deployment runs append with the same plan. Oracle:
    batch distinct per hour — the two-level stream is exactly batch
    DISTINCT at the terminal watermark UNDER THE FIXTURE'S DELIVERY
    SHAPE: the file source drains the parquet input in one micro-batch
    (no maxFilesPerTrigger), so no (hour_start, user) row can arrive
    after the 2-hour watermark has passed its hour. With multi-batch
    out-of-order delivery, dropDuplicates would DROP late rows the
    batch oracle still counts — if a future change splits the drain
    into triggers or shuffles the source, widen the watermark to cover
    the fixture's full time span (or feed batches in event-time order)
    to keep the equality.
    """
    ev = read_stream_events(spark, sf_dir)
    dedup = (
        # project to the dedup key early (guide §2.3): dropDuplicates
        # keeps whole rows, so without this the exchange and state
        # carry every event column; only (hour_start, user_id) is
        # consumed downstream.
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .withWatermark("hour_start", "2 hours")
        .dropDuplicates(["hour_start", "user_id"])
    )
    agg = dedup.groupBy(
        F.window("hour_start", "1 hour").alias("w")
    ).agg(F.count(F.lit(1)).alias("unique_users"))
    out = _run_to_memory(
        agg.select(
            F.col("w.start").alias("window_start"), "unique_users"
        ),
        _qname("stream_uniqusers", sf_dir),
        "complete",
    )
    return out.orderBy("window_start")


def stream_foreachbatch_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` idempotent-retry certification — the batch-id
    replay contract: foreachBatch delivers each micro-batch AT LEAST
    once (a sink failure after a partial write re-runs the SAME batch
    id), so a correct sink must key its writes by batch id and
    overwrite, never append. This op drains 3 time-ordered micro-
    batches into per-batch aggregate files (out/b<id>, mode=overwrite —
    the idempotent discipline), captures each batch's input alongside,
    then REPLAYS the middle batch through the same apply function with
    the same batch id (the post-failure re-delivery), and returns the
    re-aggregated totals. Because the write is batch-id-keyed
    overwrite, the replay is a no-op and the result equals the one-shot
    batch aggregate — the DuckDB oracle. An append-mode sink would
    double-count the replayed batch and fail the oracle, which is
    exactly what this certifies against.

    Each per-batch aggregate is fully distributed (map-side partials to
    a bounded type grid); the driver only sequences batch ids.
    """
    feed = _scatter_time_ordered_feed(spark, sf_dir)
    root = scratch_dir("fbretry", feed)
    seen_batches: list[int] = []

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # capture the delivered input (so the test harness can replay
        # the exact batch), then write the batch aggregate keyed by
        # batch id with OVERWRITE — the idempotence that makes
        # at-least-once delivery exactly-once at the sink
        inp = os.path.join(root, f"in_b{batch_id}")
        out = os.path.join(root, f"out_b{batch_id}")
        batch_df.write.mode("overwrite").parquet(inp)
        sp = batch_df.sparkSession
        (
            sp.read.parquet(inp)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    F.expr("cast(floor(value * 100 + 0.5) as bigint)")
                ).alias("cents"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        seen_batches.append(batch_id)

    ev = read_stream_events(spark, feed, glob="*.parquet", max_files_per_trigger=1)
    drain(ev.writeStream.foreachBatch(_apply), scratch_dir("ckpt", "fbretry"))
    # simulate the at-least-once re-delivery: re-run the MIDDLE batch
    # through the same apply with the same batch id, under the clamp the
    # drained batches ran with
    replay_id = sorted(seen_batches)[len(seen_batches) // 2]
    with scoped_conf(spark, _STREAM_CONFS):
        # eager checkpoint: the replayed frame must not lazily read the
        # very capture directory _apply is about to overwrite
        replay_df = spark.read.parquet(
            os.path.join(root, f"in_b{replay_id}")
        ).localCheckpoint(eager=True)
        _apply(replay_df, replay_id)

    outs = [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith("out_b")
    ]
    per_batch = spark.read.parquet(*outs)
    return (
        per_batch.groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("event_type")
    )


def stream_foreachbatch_retry_sql() -> str:
    return """
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """
