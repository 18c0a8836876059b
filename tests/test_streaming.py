"""Streaming semantics tests: dedup state and watermark late-data drops.

The registry round-trip already proves availableNow parity with the
batch oracle; these tests force MULTI-batch runs (maxFilesPerTrigger=1)
to exercise what only shows up across micro-batches: watermark
advancement dropping late data, and duplicate suppression.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from navigator_data_ingest_spark.streaming.streams import (
    _run_to_memory,
    _scatter_time_ordered_feed,
    drain,
    read_stream_events,
    scoped_conf,
    windowed_dedup_agg,
)
from tests.conftest import SF_SMOKE

BASE_NS = 1_767_225_600_000_000_000  # 2026-01-01T00:00:00Z in ns
HOUR_NS = 3_600_000_000_000


def _write_events(path: str, rows: list[tuple[int, int, float]]) -> None:
    """rows: (event_id, ts_ns, value); one parquet file."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([r[2] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )


def test_dedup_suppresses_duplicate_events(spark):
    d = tempfile.mkdtemp(prefix="nav_stream_dedup_")
    # event 1 appears three times with identical (event_id, ts)
    _write_events(
        os.path.join(d, "a.parquet"),
        [(1, BASE_NS, 1.0), (1, BASE_NS, 1.0), (1, BASE_NS, 1.0), (2, BASE_NS, 2.0)],
    )
    agg = windowed_dedup_agg(read_stream_events(spark, d, glob="*.parquet"))
    out = _run_to_memory(agg, "t_dedup", "update").collect()
    assert len(out) == 1
    assert out[0].n_events == 2  # not 4
    assert out[0].sum_value == 3.0


def test_watermark_drops_late_data_across_batches(spark):
    """A sufficiently-late event is dropped once the watermark commits.

    Spark commits the watermark conservatively with a one-batch lag
    (the value derived from batch N's max event time takes effect in
    batch N+2's late-row filter), so the drop needs three micro-batches:
    batch 0 sets max event time 12:00, batch 1 lets the 11:00 watermark
    commit, batch 2's 09:30 event lands behind it and is dropped.
    """
    d = tempfile.mkdtemp(prefix="nav_stream_late_")
    a = os.path.join(d, "a.parquet")
    b = os.path.join(d, "b.parquet")
    c = os.path.join(d, "c.parquet")
    _write_events(a, [(1, BASE_NS + 10 * HOUR_NS, 1.0), (2, BASE_NS + 12 * HOUR_NS, 1.0)])
    _write_events(b, [(3, BASE_NS + 11 * HOUR_NS + HOUR_NS // 2, 1.0)])
    _write_events(c, [(4, BASE_NS + 9 * HOUR_NS + HOUR_NS // 2, 100.0)])
    # deterministic processing order via strictly increasing mtimes
    for i, f in enumerate((a, b, c)):
        os.utime(f, (1_700_000_000 + i * 100,) * 2)
    agg = windowed_dedup_agg(
        read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
    )
    rows = _run_to_memory(agg, "t_late", "update").collect()
    hours = sorted(r.window_start.hour for r in rows)
    assert 9 not in hours, f"late event survived the watermark: {rows}"
    assert hours == [10, 11, 12]
    assert all(r.sum_value < 100.0 for r in rows)


def test_firstseen_emits_once_across_batches(spark):
    """A user present in several micro-batches yields exactly one row —
    the state survives batch boundaries and suppresses re-emission."""
    from navigator_data_ingest_spark.streaming.streams import (
        firstseen_agg,
    )

    d = tempfile.mkdtemp(prefix="nav_stream_first_")
    a, b = os.path.join(d, "a.parquet"), os.path.join(d, "b.parquet")
    _write_events(a, [(10, BASE_NS + 2 * HOUR_NS, 5.0), (11, BASE_NS + 1 * HOUR_NS, 7.0)])
    _write_events(b, [(12, BASE_NS, 9.0)])  # same user, earlier ts, later batch
    os.utime(a, (1_700_000_000,) * 2)
    os.utime(b, (1_700_000_100,) * 2)
    agg = firstseen_agg(
        read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
    )
    rows = _run_to_memory(agg, "t_firstseen", "append").collect()
    assert len(rows) == 1
    # first SEEN = batch-1's (ts, event_id) min, not the global min
    assert rows[0].first_event_id == 11 and rows[0].first_value == 7.0


def test_session_append_emits_each_closed_session_once(spark):
    """APPEND-mode session windows across real micro-batches: sessions
    whose end the final watermark passed emit exactly once; the open
    tail is withheld."""
    from pyspark.sql import functions as F
    from navigator_data_ingest_spark.streaming.streams import SESSION_GAP

    d = tempfile.mkdtemp(prefix="nav_sess_append_")
    min10 = HOUR_NS // 6
    # S1: two events t0, t0+10m (end t0+40m) | S2: t0+5h (end t0+5h30m)
    # S3: t0+10h (end t0+10h30m) — final watermark t0+9h withholds it
    files = [
        ("a.parquet", [(1, BASE_NS, 1.0), (2, BASE_NS + min10, 2.0)]),
        ("b.parquet", [(3, BASE_NS + 5 * HOUR_NS, 3.0)]),
        ("c.parquet", [(4, BASE_NS + 10 * HOUR_NS, 4.0)]),
    ]
    for i, (name, rows) in enumerate(files):
        p = os.path.join(d, name)
        _write_events(p, rows)
        os.utime(p, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    ev = read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    out = _run_to_memory(agg, "t_sess_append", "append")
    rows = sorted(
        (r.session_end.timestamp(), r.n_events) for r in out.collect()
    )
    base_s = BASE_NS / 1e9
    assert rows == [
        (base_s + 40 * 60, 2),          # S1 closed, emitted once
        (base_s + 5 * 3600 + 1800, 1),  # S2 closed, emitted once
    ]


def test_dedup_within_watermark_reemits_after_state_expiry(spark):
    """dropDuplicatesWithinWatermark: a duplicate inside the watermark
    window is suppressed (and EXTENDS the key's state expiry — chained
    dedup); a key recurring after the watermark expired its state
    re-emits — at-most-once per watermark window, not global distinct."""
    d = tempfile.mkdtemp(prefix="nav_dedupwm_")

    def write(path, rows):  # rows: (event_id, ts_ns, event_type)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.int64()),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array([r[2] for r in rows]),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            path,
        )

    files = [
        # batch 1: key (1,'click') twice -> one emission, expiry t0+1h
        ("a.parquet", [(1, BASE_NS, "click"), (2, BASE_NS + 1000, "click")]),
        # batches 2+3: a DIFFERENT key advances the watermark past the
        # click-state expiry without touching click state (two batches:
        # the watermark commit lags one batch)
        ("b.parquet", [(3, BASE_NS + 5 * HOUR_NS, "view")]),
        ("c.parquet", [(5, BASE_NS + 6 * HOUR_NS, "view")]),
        # batch 4: 'click' again; its state expired -> re-emits
        ("d.parquet", [(4, BASE_NS + 10 * HOUR_NS, "click")]),
    ]
    for i, (name, rows) in enumerate(files):
        p = os.path.join(d, name)
        write(p, rows)
        os.utime(p, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    ev = read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
    dedup = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type")
    )
    out = _run_to_memory(dedup, "t_dedupwm", "append")
    emitted = sorted(r.event_id for r in out.collect())
    # event 2 suppressed (within-window duplicate); 5 suppressed
    # (duplicate 'view' within window); 4 re-emitted after expiry
    assert emitted == [1, 3, 4]


def test_tws_totals_accumulate_across_batches(spark):
    """Per-user totals state survives micro-batch boundaries: a user
    spread over two batches re-emits UPDATED totals (update mode), and
    the last emission per user equals the whole-feed aggregate."""
    from navigator_data_ingest_spark.streaming.streams import (
        TWS_OUTPUT_SCHEMA,
        _run_to_memory,
        _totals_fallback_fn,
        _tws_available,
    )

    d = tempfile.mkdtemp(prefix="nav_stream_tws_")
    a, b = os.path.join(d, "a.parquet"), os.path.join(d, "b.parquet")
    _write_events(a, [(1, BASE_NS, 1.25), (2, BASE_NS + HOUR_NS, 2.50)])
    _write_events(b, [(3, BASE_NS + 2 * HOUR_NS, 4.00)])
    os.utime(a, (1_700_000_000,) * 2)
    os.utime(b, (1_700_000_100,) * 2)
    ev = read_stream_events(
        spark, d, glob="*.parquet", max_files_per_trigger=1
    ).select("user_id", "value")
    if _tws_available():  # container-dependent: TWS path where protobuf exists
        from navigator_data_ingest_spark.streaming.streams import (
            stream_tws_totals,  # noqa: F401  (full path covered by registry)
        )
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = ev.groupBy("user_id").applyInPandasWithState(
        _totals_fallback_fn,
        outputStructType=TWS_OUTPUT_SCHEMA,
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = _run_to_memory(out, "t_tws", "update").collect()
    # update mode: one emission per batch containing the user -> 2 rows,
    # totals strictly growing, final row = whole-feed aggregate
    assert len(rows) == 2
    assert sorted((r.n_events, r.cents) for r in rows) == [(2, 375), (3, 775)]


def test_timeout_finalize_fires_only_past_watermark(spark):
    """Event-time timeouts: a user inactive since long before the final
    watermark emits exactly once; a user active near the stream's end
    stays withheld (state alive at drain end)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from navigator_data_ingest_spark.streaming.streams import (
        _run_to_memory,
        _timeout_totals_fn,
        read_stream_events,
    )

    d = tempfile.mkdtemp(prefix="nav_stream_timeout_")
    a, b = os.path.join(d, "a.parquet"), os.path.join(d, "b.parquet")
    # user 1: one event at t0 (inactive afterwards)
    _write_events(a, [(1, BASE_NS, 2.00)])
    # batch 2 advances event time by 4h: watermark (1h delay) passes
    # user 1's timeout (t0 + 30min); user 1 here is the SAME user id, so
    # use a different writer: craft user 2 rows manually
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([2], pa.int64()),
                "ts": pa.array([BASE_NS + 4 * HOUR_NS], pa.int64()),
                "user_id": pa.array([2], pa.int64()),
                "event_type": pa.array(["click"]),
                "value": pa.array([5.0], pa.float64()),
                "props": pa.array(["{}"]),
            }
        ),
        b,
    )
    os.utime(a, (1_700_000_000,) * 2)
    os.utime(b, (1_700_000_100,) * 2)
    ev = (
        read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", "value")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _timeout_totals_fn,
        outputStructType="user_id bigint, n_events bigint, cents bigint, last_us bigint",
        stateStructType="n bigint, cents bigint, last_us bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    rows = _run_to_memory(out, "t_timeout", "append").collect()
    # user 1 (idle 4h > 30min gap behind the 3h watermark) fired once;
    # user 2 (defines the watermark, still active) withheld
    assert [(r.user_id, r.n_events, r.cents) for r in rows] == [(1, 1, 200)]


def test_chained_windows_emit_closed_days_once(spark):
    """Two chained event-time aggs in one query: a day closes only when
    the watermark passes its end; the closed day emits exactly once
    with the full-day totals, the open day is withheld."""
    from pyspark.sql import functions as F
    from navigator_data_ingest_spark.streaming.streams import _run_to_memory

    d = tempfile.mkdtemp(prefix="nav_stream_chain_")
    a, b = os.path.join(d, "a.parquet"), os.path.join(d, "b.parquet")
    # day 1: two events in different hours
    _write_events(a, [(1, BASE_NS, 1.0), (2, BASE_NS + 2 * HOUR_NS, 2.0)])
    # day 2 noon: watermark -> day2 11:00, closing day 1 entirely
    _write_events(b, [(3, BASE_NS + 36 * HOUR_NS, 4.0)])
    os.utime(a, (1_700_000_000,) * 2)
    os.utime(b, (1_700_000_100,) * 2)
    ev = read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1)
    hourly = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("value").alias("v"))
    )
    daily = (
        hourly.groupBy(F.window(F.col("window"), "1 day"), "event_type")
        .agg(F.sum("c").alias("n_events"), F.round(F.sum("v"), 6).alias("sum_value"))
        .select(F.col("window.start").alias("day_start"), "n_events", "sum_value")
    )
    rows = _run_to_memory(daily, "t_chain", "append").collect()
    got = [(str(r.day_start), r.n_events, r.sum_value) for r in rows]
    assert got == [("2026-01-01 00:00:00", 2, 3.0)], got


def test_state_reader_exposes_only_unemitted_windows(spark):
    """After an append-mode drain, the statestore read returns exactly
    the windows the watermark has NOT yet closed."""
    from pyspark.sql import functions as F
    from navigator_data_ingest_spark.sources.sinks import scratch_dir

    d = tempfile.mkdtemp(prefix="nav_stream_statrd_")
    a = os.path.join(d, "a.parquet")
    # two closed hours + the watermark-defining last hour
    _write_events(
        a, [(1, BASE_NS, 1.0), (2, BASE_NS + 1 * HOUR_NS, 2.0), (3, BASE_NS + 5 * HOUR_NS, 4.0)]
    )
    ev = read_stream_events(spark, d, glob="*.parquet")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ck = scratch_dir("ckpt", "t_statereader")
    drain(
        agg.writeStream.format("memory").queryName("t_statereader").outputMode("append"),
        ck,
    )
    emitted = {str(r["window"]["start"]) for r in spark.table("t_statereader").collect()}
    state = spark.read.format("statestore").load(ck)
    pending = {str(r["key"]["window"]["start"]) for r in state.collect()}
    # wm = 05:00 - 1h = 04:00: hours 00 and 01 emitted, hour 05 pending
    assert emitted == {"2026-01-01 00:00:00", "2026-01-01 01:00:00"}
    assert pending == {"2026-01-01 05:00:00"}


def test_quota_enforcer_state_carries_across_batches(spark):
    """A user's in-hour admission count must persist across micro-batch
    boundaries: 2 events in batch 1 + 2 more in the SAME hour in batch
    2 -> only 1 of the later pair passes (quota 3)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from navigator_data_ingest_spark.streaming.streams import (
        _quota_fn,
        _run_to_memory,
        read_stream_events,
    )

    d = tempfile.mkdtemp(prefix="nav_stream_quota_")
    a, b = os.path.join(d, "a.parquet"), os.path.join(d, "b.parquet")
    m = 60_000_000_000  # one minute in ns
    _write_events(a, [(1, BASE_NS, 1.0), (2, BASE_NS + m, 1.0)])
    _write_events(b, [(3, BASE_NS + 2 * m, 1.0), (4, BASE_NS + 3 * m, 1.0)])
    os.utime(a, (1_700_000_000,) * 2)
    os.utime(b, (1_700_000_100,) * 2)
    ev = read_stream_events(spark, d, glob="*.parquet", max_files_per_trigger=1).select(
        "user_id", "ts", "event_id"
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _quota_fn,
        outputStructType="event_id bigint, user_id bigint, allowed boolean",
        stateStructType="hour_us bigint, used bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = _run_to_memory(out, "t_quota", "append").orderBy("event_id").collect()
    assert [(r.event_id, r.allowed) for r in rows] == [
        (1, True), (2, True), (3, True), (4, False)
    ]


def test_scoped_conf_restores_or_unsets(spark):
    """A key the session had gets its value back and a key it lacked is
    unset again, also when the block raises."""
    had, lacked = "spark.sql.shuffle.partitions", "spark.nav.test.scoped"
    before = spark.conf.get(had)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {had: "3", lacked: "x"}):
            assert spark.conf.get(had) == "3"
            assert spark.conf.get(lacked) == "x"
            raise RuntimeError("drain failed")
    assert spark.conf.get(had) == before
    assert spark.conf.get(lacked, None) is None


def test_time_ordered_feed_is_a_per_process_cache(spark):
    """The feed lives in a root of this process, holds one file per
    micro-batch, and a second call returns it without running a job."""
    d = _scatter_time_ordered_feed(spark, SF_SMOKE)
    assert os.path.basename(d).endswith(f"_{os.getpid()}")
    assert sorted(os.listdir(d)) == [f"chunk{i}.parquet" for i in range(3)]
    sc = spark.sparkContext
    group = f"feed_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "feed reuse")
    try:
        again = _scatter_time_ordered_feed(spark, SF_SMOKE)
    finally:
        sc._jsc.clearJobGroup()
    assert again == d
    assert sc.statusTracker().getJobIdsForGroup(group) == []
