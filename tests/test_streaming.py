"""Streaming-layer tests: pipeline wiring, stateful folds, watermarked
windows, and the StateTable — driven with file-source micro-batches +
memory sinks and processAllAvailable() for determinism (the Spark analog
of the reference's synchronized-generator test mode, SURVEY §5).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F


def ts(minute: float) -> datetime:
    return datetime(2024, 1, 1) + timedelta(minutes=minute)


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path)


def _write_batch(spark, path: str, rows, schema: str, batch: int) -> None:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _file_stream(spark, path: str, schema: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def test_pipeline_end_to_end(spark, stream_dir):
    """Source -> map handler -> memory sink through the Pipeline registry
    (the @handle/stream() flow, reference core.py:675-713)."""
    from slipstream_async_spark.streaming.pipeline import Pipeline, memory_sink

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, emoji string"
    _write_batch(spark, src_path, [(ts(0.0), "🏆"), (ts(1.0), "📞")], schema, 0)

    p = Pipeline()

    @p.handle(_file_stream(spark, src_path, schema), sink=[memory_sink("out_basic")])
    def upper(df):
        return df.select("ts", F.concat(F.col("emoji"), F.lit("!")).alias("shout"))

    p.stream()
    p.process_all_available()
    got = sorted(r["shout"] for r in spark.sql("SELECT * FROM out_basic").collect())
    assert got == ["🏆!", "📞!"]

    # Late-arriving micro-batch flows through incrementally.
    _write_batch(spark, src_path, [(ts(2.0), "😀")], schema, 1)
    p.process_all_available()
    assert spark.sql("SELECT * FROM out_basic").count() == 3
    p.stop()


def test_read_stream_from_parquet_explicit_schema(spark, stream_dir):
    """S5: two pyarrow-written files stream through
    ``read_stream_from_parquet`` under the caller's schema, one file per
    trigger, into a memory sink."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from slipstream_async_spark.sources.readers import read_stream_from_parquet

    src_path = os.path.join(stream_dir, "src")
    os.makedirs(src_path)
    for i, keys in enumerate(([1, 2], [3])):
        pq.write_table(
            pa.table({"k": keys, "s": [f"r{k}" for k in keys]}),
            os.path.join(src_path, f"part-{i}.parquet"),
        )
    df = read_stream_from_parquet(spark, src_path, "k bigint, s string")
    q = df.writeStream.format("memory").queryName("out_s5").start()
    try:
        q.processAllAvailable()
        batches = [p["numInputRows"] for p in q.recentProgress]
    finally:
        q.stop()
    got = sorted(map(tuple, spark.sql("SELECT k, s FROM out_s5").collect()))
    assert got == [(1, "r1"), (2, "r2"), (3, "r3")]
    assert sorted(n for n in batches if n) == [1, 2]

def test_stateful_fold_count(spark, stream_dir):
    """A1 streaming: running per-key count via applyInPandasWithState —
    the reference's emoji counter (getting_started.rst:113-123)."""
    from slipstream_async_spark.streaming.stateful import stateful_fold

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, emoji string, v double"
    _write_batch(
        spark, src_path,
        [(ts(0.0), "🏆", 1.0), (ts(1.0), "📞", 1.0), (ts(2.0), "🏆", 1.0)],
        schema, 0,
    )
    counts = stateful_fold(
        _file_stream(spark, src_path, schema), ["emoji"], "v", fold="count",
        out_col="n",
    )
    q = (
        counts.writeStream.format("memory").queryName("out_fold")
        .outputMode("update").start()
    )
    q.processAllAvailable()
    first = {
        r["emoji"]: r["n"]
        for r in spark.sql(
            "SELECT emoji, max(n) AS n FROM out_fold GROUP BY emoji"
        ).collect()
    }
    assert first == {"🏆": 2.0, "📞": 1.0}

    # Second micro-batch continues from persisted state.
    _write_batch(spark, src_path, [(ts(3.0), "🏆", 1.0)], schema, 1)
    q.processAllAvailable()
    after = {
        r["emoji"]: r["n"]
        for r in spark.sql(
            "SELECT emoji, max(n) AS n FROM out_fold GROUP BY emoji"
        ).collect()
    }
    q.stop()
    assert after["🏆"] == 3.0


def test_windowed_agg_with_watermark(spark, stream_dir):
    """A4 + T1/T6: tumbling event-time window with watermark — append mode
    emits a window only once the watermark passes it; late data beyond
    the delay is dropped (the reference's heartbeat/buffer-or-drop,
    features.rst:260-270)."""
    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, emoji string"
    _write_batch(
        spark, src_path,
        [(ts(0.0), "a"), (ts(0.5), "b"), (ts(1.2), "c")], schema, 0,
    )
    agg = (
        _file_stream(spark, src_path, schema)
        .withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("out_win")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    # Watermark = 1.2min - 30s; window [0,1) closed and emitted.
    # Then an on-time batch advances the watermark past [1,2).
    _write_batch(spark, src_path, [(ts(3.0), "d")], schema, 1)
    q.processAllAvailable()
    # A very late event for window [0,1) must be dropped (not re-emitted).
    _write_batch(spark, src_path, [(ts(0.1), "late")], schema, 2)
    q.processAllAvailable()
    rows = {r["ws"]: r["n"] for r in spark.sql("SELECT * FROM out_win").collect()}
    q.stop()
    assert rows[ts(0.0)] == 2
    assert rows[ts(1.0)] == 1


def test_streaming_dedup_within_watermark(spark, stream_dir):
    from slipstream_async_spark.streaming.stateful import streaming_dedup

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, k string"
    _write_batch(
        spark, src_path,
        [(ts(0.0), "x"), (ts(0.1), "x"), (ts(0.2), "y")], schema, 0,
    )
    out = streaming_dedup(
        _file_stream(spark, src_path, schema), ["k"], "ts", "10 minutes"
    )
    q = (
        out.writeStream.format("memory").queryName("out_dd")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    # Duplicate in a later batch inside the watermark window: dropped.
    _write_batch(spark, src_path, [(ts(0.3), "x")], schema, 1)
    q.processAllAvailable()
    got = sorted(r["k"] for r in spark.sql("SELECT * FROM out_dd").collect())
    q.stop()
    assert got == ["x", "y"]


def test_foreach_batch_multi_sink(spark, stream_dir):
    """P6 fan-out: one source, every record to two sinks via foreachBatch
    (reference routes each output to each sink in order,
    core.py:626-635)."""
    from slipstream_async_spark.streaming.pipeline import (
        Pipeline, foreach_batch_sink,
    )

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, v long"
    _write_batch(spark, src_path, [(ts(0.0), 1), (ts(1.0), 2)], schema, 0)

    sink_a: list[int] = []
    sink_b: list[int] = []

    def multi(batch_df, epoch_id):
        rows = [r["v"] for r in batch_df.collect()]
        sink_a.extend(rows)
        sink_b.extend(v * 10 for v in rows)

    p = Pipeline()

    @p.handle(_file_stream(spark, src_path, schema), sink=[foreach_batch_sink(multi)])
    def identity(df):
        return df

    p.stream()
    p.process_all_available()
    p.stop()
    assert sorted(sink_a) == [1, 2]
    assert sorted(sink_b) == [10, 20]


def test_sliding_count_stateful_per_event(spark, stream_dir):
    """A3 exact semantics in streaming: every event emits its own
    trailing-window count (reference cookbook.rst:244-280 golden shape),
    state carried across micro-batches and pruned to the horizon."""
    from slipstream_async_spark.streaming.stateful import sliding_count_stateful

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, k string"
    # window = 3 minutes; batch 1: events at 0, 1, 2.5 min
    _write_batch(
        spark, src_path,
        [(ts(0.0), "x"), (ts(1.0), "x"), (ts(2.5), "x")], schema, 0,
    )
    out = sliding_count_stateful(
        _file_stream(spark, src_path, schema), "k", "ts", window_seconds=180
    )
    q = (
        out.writeStream.format("memory").queryName("out_slide")
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["ts"], r["n"])
            for r in spark.sql("SELECT * FROM out_slide").collect()
        }
        assert got == {(ts(0.0), 1), (ts(1.0), 2), (ts(2.5), 3)}
        # batch 2: event at 4.5min -> window (1.5, 4.5] holds {2.5, 4.5};
        # the 0.0/1.0 entries were pruned/outside.
        _write_batch(spark, src_path, [(ts(4.5), "x")], schema, 1)
        q.processAllAvailable()
        got = {
            (r["ts"], r["n"])
            for r in spark.sql("SELECT * FROM out_slide").collect()
        }
        assert (ts(4.5), 2) in got
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, stream_dir):
    """J2 true streaming form: two unbounded sides, watermarks on both,
    equi-key + event-time range condition — Spark buffers each side's
    state only within the watermark bound (the engine-managed version of
    the reference's shared-cache cross-stream join, cookbook.rst:292)."""
    lpath = os.path.join(stream_dir, "left")
    rpath = os.path.join(stream_dir, "right")
    _write_batch(
        spark, lpath,
        [(ts(0.0), "u1", "view"), (ts(10.0), "u2", "view")],
        "lts timestamp, uid string, what string", 0,
    )
    _write_batch(
        spark, rpath,
        [(ts(2.0), "u1", 9.99), (ts(40.0), "u2", 5.0)],
        "rts timestamp, uid string, amount double", 0,
    )
    left = _file_stream(
        spark, lpath, "lts timestamp, uid string, what string"
    ).withWatermark("lts", "1 minute")
    right = _file_stream(
        spark, rpath, "rts timestamp, uid string, amount double"
    ).withWatermark("rts", "1 minute")
    joined = left.join(
        right,
        (left["uid"] == right["uid"])
        & (right["rts"] >= left["lts"])
        & (right["rts"] <= left["lts"] + F.expr("INTERVAL 5 MINUTES")),
    ).select(left["uid"], "lts", "rts", "amount")
    q = (
        joined.writeStream.format("memory").queryName("out_ssj")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        rows = [
            (r["uid"], r["amount"])
            for r in spark.sql("SELECT * FROM out_ssj").collect()
        ]
        # u1's purchase at +2m is inside [lts, lts+5m]; u2's at +30m is not.
        assert rows == [("u1", 9.99)]
    finally:
        q.stop()


def test_ttl_fold_accumulates_and_expires(spark, stream_dir):
    """U3 TTL form: applyInPandasWithState with ProcessingTimeTimeout —
    accumulates across micro-batches within the TTL, restarts from zero
    for a key idle longer than the TTL."""
    import time

    from slipstream_async_spark.streaming.stateful import ttl_fold

    schema = "ts timestamp, k string, v double"

    # ProcessingTimeTimeout keeps scheduling timer-sweep batches even
    # with no new data, so processAllAvailable() never quiesces — poll
    # the sink with a deadline instead. Micro-batch latency in this
    # environment can exceed several seconds, so the two TTL behaviors
    # are verified on two streams: a long TTL (accumulation survives
    # batch gaps) and a short TTL (state forgets across a forced gap).
    def wait_for(q, table, pred, deadline=90.0):
        vals = []
        t0 = time.time()
        while time.time() - t0 < deadline:
            vals = sorted(
                r["agg_value"] for r in spark.sql(
                    f"SELECT * FROM {table} WHERE k = 'x'"
                ).collect()
            )
            if pred(vals):
                return vals
            if q.exception():
                raise q.exception()
            time.sleep(0.5)
        raise AssertionError(f"timed out waiting; last saw {vals}")

    # Phase A — TTL far above batch latency: the fold ACCUMULATES.
    src_a = os.path.join(stream_dir, "src_a")
    _write_batch(
        spark, src_a, [(ts(0.0), "x", 1.0), (ts(1.0), "x", 2.0)], schema, 0
    )
    qa = (
        ttl_fold(
            _file_stream(spark, src_a, schema), "k", "v", ttl_ms=600_000
        )
        .writeStream.format("memory").queryName("out_ttl_a")
        .outputMode("update").start()
    )
    try:
        wait_for(qa, "out_ttl_a", lambda v: 3.0 in v)
        _write_batch(spark, src_a, [(ts(2.0), "x", 4.0)], schema, 1)
        wait_for(qa, "out_ttl_a", lambda v: 7.0 in v)
    finally:
        qa.stop()

    # Phase B — TTL below the forced inter-batch gap: state EXPIRES
    # (timeout sweep or lazy staleness check) and the fold restarts.
    src_b = os.path.join(stream_dir, "src_b")
    _write_batch(spark, src_b, [(ts(0.0), "x", 9.0)], schema, 0)
    qb = (
        ttl_fold(
            _file_stream(spark, src_b, schema), "k", "v", ttl_ms=2000
        )
        .writeStream.format("memory").queryName("out_ttl_b")
        .outputMode("update").start()
    )
    try:
        wait_for(qb, "out_ttl_b", lambda v: 9.0 in v)
        time.sleep(3.0)  # > ttl_ms: key 'x' is now stale
        _write_batch(spark, src_b, [(ts(1.0), "x", 5.0)], schema, 1)
        vals = wait_for(qb, "out_ttl_b", lambda v: 5.0 in v)
        assert 14.0 not in vals  # restarted at 5, not 9+5
    finally:
        qb.stop()


def test_proxy_two_query_chain(spark, stream_dir):
    """S9 Proxy end-to-end: handler A's sink table is handler B's source,
    both queries live — the reference's in-process pub/sub bridge
    (slipstream/caching.py:34-46) as two chained streaming queries with a
    StateTable in between."""
    from slipstream_async_spark.streaming.state import StateTable, foreach_batch_upsert

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, k string, v string"
    _write_batch(spark, src_path, [(ts(0.0), "a", "1")], schema, 0)

    table = StateTable(spark, os.path.join(stream_dir, "state"))
    upstream = (
        _file_stream(spark, src_path, schema)
        .select(F.col("k").alias("key"), F.col("v").alias("value"))
        .writeStream.foreachBatch(foreach_batch_upsert(table))
        .option("checkpointLocation", os.path.join(stream_dir, "ck_up"))
        .start()
    )
    downstream = (
        table.changelog_stream()
        .writeStream.format("memory").queryName("proxy_out")
        .outputMode("append").start()
    )
    try:
        upstream.processAllAvailable()
        downstream.processAllAvailable()
        got = {
            (r["key"], r["value"])
            for r in spark.sql("SELECT * FROM proxy_out").collect()
        }
        assert got == {("a", "1")}
        # second message flows through BOTH queries
        _write_batch(spark, src_path, [(ts(1.0), "b", "2")], schema, 1)
        upstream.processAllAvailable()
        downstream.processAllAvailable()
        got = {
            (r["key"], r["value"])
            for r in spark.sql("SELECT * FROM proxy_out").collect()
        }
        assert got == {("a", "1"), ("b", "2")}
    finally:
        upstream.stop()
        downstream.stop()
        table.destroy()


def test_session_window_streaming(spark, stream_dir):
    """A6 true streaming form: event-time session windows (5-minute gap)
    with watermark — a session closes (append-mode emit) only once the
    watermark passes its end; events within the gap extend it
    (cookbook.rst:223 "dynamic-size, overlapping, on some condition")."""
    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, uid string"
    _write_batch(
        spark, src_path,
        [(ts(0.0), "u"), (ts(2.0), "u"), (ts(4.0), "u")], schema, 0,
    )
    agg = (
        _file_stream(spark, src_path, schema)
        .withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "uid")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("ws"), F.col("w.end").alias("we"),
            "uid", "n",
        )
    )
    q = (
        agg.writeStream.format("memory").queryName("out_sess")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # Nothing emitted yet: watermark (4min - 1min) has not passed the
        # open session's end (4 + 5 = 9min).
        assert spark.sql("SELECT * FROM out_sess").count() == 0
        # An event at 20min pushes the watermark to 19min > 9min: the
        # first session closes with its THREE merged events.
        _write_batch(spark, src_path, [(ts(20.0), "u")], schema, 1)
        q.processAllAvailable()
        _write_batch(spark, src_path, [(ts(40.0), "u")], schema, 2)
        q.processAllAvailable()
        rows = {
            (r["ws"], r["we"], r["n"])
            for r in spark.sql("SELECT * FROM out_sess").collect()
        }
        assert (ts(0.0), ts(9.0), 3) in rows
        assert (ts(20.0), ts(25.0), 1) in rows
    finally:
        q.stop()


def test_stream_health_monitor(spark, stream_dir):
    """T2/T3/T6/T9 control plane: StreamHealthMonitor observes a live
    watermarked query via StreamingQueryListener — progress counts,
    watermark advance, late-drop accounting, and the terminated hook —
    with no change to the query plan."""
    from datetime import timedelta

    from slipstream_async_spark.streaming.monitor import StreamHealthMonitor

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, k string"
    _write_batch(spark, src_path, [(ts(0.0), "a"), (ts(1.2), "b")], schema, 0)

    ended: list[str] = []
    mon = StreamHealthMonitor(
        downtime_threshold=timedelta(minutes=60),
        on_terminated=lambda qid, exc: ended.append(qid),
    )
    spark.streams.addListener(mon)
    agg = (
        _file_stream(spark, src_path, schema)
        .withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory").queryName("out_mon")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # Advance watermark, then send one hopeless straggler: dropped.
        _write_batch(spark, src_path, [(ts(10.0), "c")], schema, 1)
        q.processAllAvailable()
        _write_batch(spark, src_path, [(ts(0.1), "late")], schema, 2)
        q.processAllAvailable()

        qid = str(q.id)
        assert mon.wait_until(
            lambda s: qid in s and s[qid].n_progress >= 3
            and s[qid].input_rows == 4
        ), f"no progress captured: {mon.snapshot()}"
        snap = mon.snapshot()[qid]
        assert snap.watermark is not None
        assert snap.max_event_time >= ts(10.0)
        assert snap.dropped_by_watermark >= 1  # T6 observable
        assert not snap.is_down
    finally:
        q.stop()
    assert mon.wait_until(lambda s: s[str(q.id)].terminated)
    assert ended and ended[0] == str(q.id)  # T9 exit hook
    spark.streams.removeListener(mon)


def test_stream_health_monitor_downtime_recovery(spark, stream_dir):
    """T2 downtime + T3 recovery across queries: the query whose
    event-time frontier lags the global frontier beyond the threshold is
    flagged down (callback fires); catching up flips it back."""
    from datetime import timedelta

    from slipstream_async_spark.streaming.monitor import StreamHealthMonitor

    a_path = os.path.join(stream_dir, "a")
    b_path = os.path.join(stream_dir, "b")
    schema = "ts timestamp, k string"
    _write_batch(spark, a_path, [(ts(0.0), "a")], schema, 0)
    _write_batch(spark, b_path, [(ts(0.0), "b")], schema, 0)

    downs: list[str] = []
    ups: list[str] = []
    mon = StreamHealthMonitor(
        downtime_threshold=timedelta(minutes=60),
        # re-entering the monitor from the callback must not deadlock
        # (callbacks fire outside the lock)
        on_downtime=lambda qid, lag: downs.append(
            (qid, mon.snapshot()[qid].is_down)[0]
        ),
        on_recovery=lambda qid: ups.append(qid),
    )
    spark.streams.addListener(mon)

    def start(path, name):
        return (
            _file_stream(spark, path, schema)
            .withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count("*").alias("n"))
            .writeStream.format("memory").queryName(name)
            .outputMode("append").start()
        )

    qa, qb = start(a_path, "mon_a"), start(b_path, "mon_b")
    try:
        qa.processAllAvailable(); qb.processAllAvailable()
        # A advances to t=120min; B stays at 0 -> lag 120min > 60min.
        _write_batch(spark, a_path, [(ts(120.0), "a")], schema, 1)
        qa.processAllAvailable()
        assert mon.wait_until(
            lambda s: str(qb.id) in s and s[str(qb.id)].is_down
        ), f"B never flagged down: {mon.snapshot()}"
        assert downs == [str(qb.id)]
        # B catches up -> recovery.
        _write_batch(spark, b_path, [(ts(119.0), "b")], schema, 1)
        qb.processAllAvailable()
        assert mon.wait_until(
            lambda s: not s[str(qb.id)].is_down
        ), "B never recovered"
        assert ups == [str(qb.id)]
    finally:
        qa.stop(); qb.stop()
        spark.streams.removeListener(mon)


def test_complete_mode_periodic_snapshot(spark, stream_dir):
    """A2 periodic snapshot (reference getting_started.rst:125-128: a
    timer dumps the whole cache): complete output mode re-emits the FULL
    aggregate state each trigger — the engine-managed version of
    dict(cache.items())."""
    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, emoji string"
    _write_batch(spark, src_path, [(ts(0.0), "🏆"), (ts(1.0), "🏆")], schema, 0)
    agg = (
        _file_stream(spark, src_path, schema)
        .groupBy("emoji")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory").queryName("out_snap")
        .outputMode("complete").start()
    )
    try:
        q.processAllAvailable()
        snap1 = {
            r["emoji"]: r["n"]
            for r in spark.sql("SELECT * FROM out_snap").collect()
        }
        assert snap1 == {"🏆": 2}
        # Next batch: the snapshot is REPLACED with full state (both keys),
        # not appended.
        _write_batch(spark, src_path, [(ts(2.0), "📞")], schema, 1)
        q.processAllAvailable()
        snap2 = {
            r["emoji"]: r["n"]
            for r in spark.sql("SELECT * FROM out_snap").collect()
        }
        assert snap2 == {"🏆": 2, "📞": 1}
        assert spark.sql("SELECT * FROM out_snap").count() == 2
    finally:
        q.stop()


def test_stream_static_lookup_join(spark, stream_dir):
    """J3 true streaming form: an unbounded stream enriched against a
    bounded dimension (broadcast per micro-batch) — the reference's
    cache-lookup enrichment (getting_started.rst:87) with the dim as a
    static DataFrame."""
    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, code string, v long"
    _write_batch(
        spark, src_path, [(ts(0.0), "a", 1), (ts(1.0), "zz", 2)], schema, 0
    )
    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "code string, label string"
    )
    joined = (
        _file_stream(spark, src_path, schema)
        .join(F.broadcast(dim), "code", "left")
        .select("v", "label")
    )
    q = (
        joined.writeStream.format("memory").queryName("out_lkp")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["v"], r["label"])
            for r in spark.sql("SELECT * FROM out_lkp").collect()
        }
        assert got == {(1, "alpha"), (2, None)}  # no-match keeps NULL
    finally:
        q.stop()


def test_rate_source_smoke(spark):
    """S11 timer source: the rate source as the interval-trigger
    generator (cookbook.rst:18-27) — AvailableNow drains what the
    clock produced, schema is the fixed (timestamp, value) envelope."""
    import time as _time

    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "100")
        .load()
    )
    assert [f.name for f in df.schema.fields] == ["timestamp", "value"]
    q = (
        df.writeStream.format("memory").queryName("out_rate").start()
    )
    try:
        # The rate clock starts WITH the query; give it a tick, then
        # drain whatever it produced.
        _time.sleep(1.5)
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) AS n FROM out_rate").collect()[0]["n"]
        assert n > 0
    finally:
        q.stop()


def test_lookup_join_sees_live_state_updates(spark, stream_dir):
    """J3 freshness semantics from the reference: a handler reads
    cache[key] as it is NOW, not as it was at query start
    (getting_started.rst:87 — the cache is shared, live state). Spark's
    static-DataFrame join snapshots its input, so the live form re-reads
    the StateTable inside foreachBatch — each micro-batch joins the
    state table's CURRENT version."""
    from slipstream_async_spark.streaming.state import StateTable

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, code string"
    table = StateTable(spark, os.path.join(stream_dir, "state"))
    table.put("a", "old")

    got: list[tuple] = []

    def enrich(batch_df, epoch_id):
        joined = batch_df.join(
            table.df().select(
                F.col("key").alias("code"),
                # values are stored JSON-encoded; decode the scalar
                F.get_json_object("value", "$").alias("label"),
            ),
            "code", "left",
        )
        got.extend((r["code"], r["label"]) for r in joined.collect())

    _write_batch(spark, src_path, [(ts(0.0), "a")], schema, 0)
    q = (
        _file_stream(spark, src_path, schema)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(stream_dir, "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert got == [("a", "old")]
        # State mutates BETWEEN micro-batches; the next batch must see it.
        table.put("a", "new")
        _write_batch(spark, src_path, [(ts(1.0), "a")], schema, 1)
        q.processAllAvailable()
        assert got == [("a", "old"), ("a", "new")]
    finally:
        q.stop()
        table.destroy()


def test_pipeline_pipes_compose_before_handler(spark, stream_dir):
    """P9 pipes (reference core.py:244-255 + the cookbook accumulate
    example): transforms in pipe=[...] apply IN ORDER before the handler
    — here a per-key running sum feeds a handler that formats it."""
    from slipstream_async_spark.streaming.pipeline import Pipeline, memory_sink

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, k string, v long"
    _write_batch(
        spark, src_path,
        [(ts(0.0), "a", 1), (ts(1.0), "a", 2), (ts(2.0), "a", 3)],
        schema, 0,
    )

    p = Pipeline()

    def double(df):
        return df.withColumn("v", F.col("v") * 2)

    def add_one(df):
        return df.withColumn("v", F.col("v") + 1)

    @p.handle(
        _file_stream(spark, src_path, schema),
        pipe=[double, add_one],  # order matters: (v*2)+1, not (v+1)*2
        sink=[memory_sink("out_piped")],
    )
    def fmt(df):
        return df.select(F.concat(F.lit("v="), F.col("v")).alias("s"))

    p.stream()
    p.process_all_available()
    got = sorted(r["s"] for r in spark.sql("SELECT * FROM out_piped").collect())
    p.stop()
    assert got == ["v=3", "v=5", "v=7"]


def test_stream_health_monitor_wall_clock_stall(spark, stream_dir):
    """Single-query stall (no second frontier to compare against): the
    explicit check_now() sweep flags a query whose progress events went
    silent beyond the threshold on the wall clock."""
    from datetime import timedelta

    from slipstream_async_spark.streaming.monitor import StreamHealthMonitor

    src_path = os.path.join(stream_dir, "src")
    schema = "ts timestamp, k string"
    _write_batch(spark, src_path, [(ts(0.0), "a")], schema, 0)

    downs: list[str] = []
    mon = StreamHealthMonitor(
        downtime_threshold=timedelta(seconds=1),
        on_downtime=lambda qid, lag: downs.append(qid),
    )
    spark.streams.addListener(mon)
    q = (
        _file_stream(spark, src_path, schema)
        .writeStream.format("memory").queryName("out_stall")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        qid = str(q.id)
        assert mon.wait_until(lambda s: qid in s and s[qid].n_progress >= 1)
        import time as _time

        _time.sleep(1.3)  # silent past the 1s threshold
        mon.check_now()
        assert downs and downs[0] == qid
        assert mon.snapshot()[qid].is_down
    finally:
        q.stop()
        spark.streams.removeListener(mon)


def test_streaming_asof_enrichment_two_streams(spark, stream_dir):
    """The reference's flagship live scenario (cookbook.rst:289-356) as
    two concurrent streaming queries: a weather stream maintains keyed
    state; an activity stream enriches each micro-batch with the latest
    weather at-or-before its event time via an as-of join against the
    state snapshot — the stream-to-state temporal join, end to end.

    The demonstrated shape is the PARTITIONED one (``by="city"`` — the
    cookbook keys its temporal state per city): per-key windows
    distribute, so this exact pattern survives a 1000-executor stream.
    The no-``by`` global fallback is exercised (and warned about) only
    in tests/test_operators.py's dedicated fallback tests."""
    from slipstream_async_spark.operators.joins import asof_join
    from slipstream_async_spark.streaming.state import StateTable, foreach_batch_upsert

    w_path = os.path.join(stream_dir, "weather")
    a_path = os.path.join(stream_dir, "activity")
    w_schema = "ts timestamp, city string, condition string"
    a_schema = "ts timestamp, city string, activity string"
    _write_batch(
        spark, w_path,
        [(ts(0.0), "ams", "sunny"), (ts(10.0), "ams", "rainy"),
         (ts(0.0), "rtm", "cloudy")],
        w_schema, 0,
    )
    _write_batch(spark, a_path, [(ts(5.0), "ams", "walk")], a_schema, 0)

    table = StateTable(spark, os.path.join(stream_dir, "wstate"))
    weather_q = (
        _file_stream(spark, w_path, w_schema)
        .select(
            # composite key: per-city temporal state (the cookbook keys
            # its cache per city, cookbook.rst:289-356)
            F.concat_ws(
                "|", "city", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
            ).alias("key"),
            F.col("condition").alias("value"),
        )
        .writeStream.foreachBatch(foreach_batch_upsert(table))
        .option("checkpointLocation", os.path.join(stream_dir, "ck_w"))
        .start()
    )

    enriched: list[tuple] = []

    def enrich(batch_df, epoch_id):
        weather = table.df().select(
            F.split_part("key", F.lit("|"), F.lit(1)).alias("city"),
            F.to_timestamp(F.split_part("key", F.lit("|"), F.lit(2))).alias("ts"),
            F.col("value").alias("condition"),
        )
        out = asof_join(batch_df, weather, on="ts", by="city").select(
            "ts", "activity", "condition_right"
        )
        enriched.extend(
            (r["ts"], r["activity"], r["condition_right"]) for r in out.collect()
        )

    # drain the weather side first: enrichment state must exist before
    # the dependent stream consumes (the reference's Checkpoint pause
    # semantics — here expressed as start ordering)
    weather_q.processAllAvailable()
    activity_q = (
        _file_stream(spark, a_path, a_schema)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(stream_dir, "ck_a"))
        .start()
    )
    try:
        activity_q.processAllAvailable()
        assert (ts(5.0), "walk", "sunny") in enriched

        # weather moves on; a later activity sees the newer state, an
        # activity BEFORE all weather keeps the NULL fallback, and keys
        # never cross: rtm's run at t=12 matches rtm's cloudy, not ams rain
        _write_batch(spark, a_path,
                     [(ts(12.0), "ams", "run"), (ts(-1.0), "ams", "sleep"),
                      (ts(12.0), "rtm", "bike")],
                     a_schema, 1)
        activity_q.processAllAvailable()
        got = {(a, c) for _, a, c in enriched}
        assert ("run", "rainy") in got and ("sleep", None) in got
        assert ("bike", "cloudy") in got  # per-key isolation
    finally:
        weather_q.stop()
        activity_q.stop()
        table.destroy()


def test_streaming_incremental_dedup_two_batches(spark, stream_dir):
    """The nightly-ingest dedup story as a streaming query (cache-update
    -stream pattern, reference cookbook.rst:522-588): micro-batch 2 is
    deduped against the standing index that micro-batch 1 built — the
    cross-batch near-dup pair appears ONLY after batch 2, batch 1's
    in-batch pair appears immediately, and unrelated docs never pair."""
    from slipstream_async_spark.streaming.dedup_flow import (
        indexed_incremental_dedup_sink,
    )
    from slipstream_async_spark.streaming.neardup_index import (
        NearDupPrefixIndex,
    )
    from slipstream_async_spark.streaming.pipeline import (
        Pipeline,
        foreach_batch_sink,
    )
    from slipstream_async_spark.streaming.state import StateTable

    src = os.path.join(stream_dir, "docs_src")
    schema = "doc_id long, text string"
    dup = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely unrelated text about spark structured streaming"
    # batch 1: two exact-ish copies (in-batch pair) + one unrelated doc
    _write_batch(
        spark, src,
        [(1, dup), (2, dup + " ok"), (3, other)],
        schema, 0,
    )

    corpus = StateTable(spark, os.path.join(stream_dir, "dedup_corpus"))
    pairs = StateTable(spark, os.path.join(stream_dir, "dedup_pairs"))
    index = NearDupPrefixIndex(
        spark, os.path.join(stream_dir, "dedup_index"), threshold=0.5
    )
    p = Pipeline()

    @p.handle(
        _file_stream(spark, src, schema),
        sink=[foreach_batch_sink(
            indexed_incremental_dedup_sink(corpus, pairs, index),
            checkpoint=os.path.join(stream_dir, "dedup_ckpt"),
        )],
    )
    def flow(df):
        return df

    p.stream()
    try:
        p.process_all_available()
        got1 = set(pairs.keys())
        assert got1 == {"1|1|2"}, got1
        assert set(corpus.keys()) == {"1", "2", "3"}

        # batch 2: a near-copy of doc 1 (cross-batch dup, found ONLY
        # via the standing index) + a fresh unrelated doc
        _write_batch(
            spark, src,
            [(4, dup + " yes"), (5, "totally different content here")],
            schema, 1,
        )
        p.process_all_available()
        got2 = set(pairs.keys())
        assert got2 == {"1|1|2", "1|1|4", "1|2|4"}, got2
        assert set(corpus.keys()) == {"1", "2", "3", "4", "5"}
        # jaccard values ride along as the pair payload
        assert float(pairs.get("1|1|4")) >= 0.5
    finally:
        p.stop()
        corpus.destroy()
        pairs.destroy()
        index.destroy()


def test_streaming_bloom_gated_exact_dedup(spark, stream_dir):
    """The key_may_exist-before-get cache pattern as a streaming query:
    the Bloom bitmap PERSISTS in a StateTable across micro-batches, so
    batch 2's definitely-new docs never join the standing fingerprint
    table (gate accounting proves it), while its exact dup of a batch-1
    doc is still caught through the gate. In-batch dups resolve to the
    min-id canonical immediately."""
    from slipstream_async_spark.streaming.dedup_flow import (
        bloom_gated_exact_dedup_sink,
    )
    from slipstream_async_spark.streaming.pipeline import (
        Pipeline,
        foreach_batch_sink,
    )
    from slipstream_async_spark.streaming.state import StateTable

    src = os.path.join(stream_dir, "bloom_src")
    schema = "doc_id long, text string"
    dup = "same normalized content words"
    # batch 1: docs 1+2 share a fingerprint (in-batch dup), 3 distinct,
    # 9 has NULL text — no dedup signal, must be diverted (not silently
    # lost, not declared a dup of other null docs) and counted
    _write_batch(
        spark, src,
        [(1, dup), (2, "words content normalized same"),
         (3, "something else"), (9, None)],
        schema, 0,
    )

    fingerprints = StateTable(spark, os.path.join(stream_dir, "bg_fps"))
    bloom_state = StateTable(spark, os.path.join(stream_dir, "bg_bloom"))
    dupes = StateTable(spark, os.path.join(stream_dir, "bg_dupes"))
    stats: list = []
    p = Pipeline()

    @p.handle(
        _file_stream(spark, src, schema),
        sink=[foreach_batch_sink(
            bloom_gated_exact_dedup_sink(
                fingerprints, bloom_state, dupes, stats=stats,
            ),
            checkpoint=os.path.join(stream_dir, "bg_ckpt"),
        )],
    )
    def flow(df):
        return df

    p.stream()
    try:
        p.process_all_available()
        # doc 2 is a bag-of-words dup of doc 1 -> canonical 1
        assert dict(dupes.items()) == {"2": "1"}
        assert set(fingerprints.values()) == {"1", "3"}
        # the bitmap persisted: 16-word table, some rows set
        assert 0 < len(list(bloom_state.keys())) <= 16
        assert stats[-1]["n_batch"] == 3
        # empty standing bloom: nothing can be a maybe-hit in batch 1
        assert stats[-1]["n_maybe"] == 0
        # the null-text doc was diverted and accounted, and appears in
        # neither the dup verdicts nor the registered fingerprints
        assert stats[-1]["n_null_fp"] == 1
        assert "9" not in dict(dupes.items())
        assert "9" not in set(fingerprints.values())

        # batch 2: doc 4 duplicates doc 1 (cross-batch, caught through
        # the gate), doc 5 is fresh (should be gated OUT of the join)
        _write_batch(
            spark, src,
            [(4, dup), (5, "entirely fresh wording here")],
            schema, 1,
        )
        p.process_all_available()
        assert dict(dupes.items()) == {"2": "1", "4": "1"}
        assert set(fingerprints.values()) == {"1", "3", "5"}
        s2 = stats[-1]
        assert s2["n_batch"] == 2 and s2["n_dup"] == 1
        assert s2["n_null_fp"] == 0
        # the gate let through the true dup; the fresh doc may only
        # pass as a bloom false positive, never as a requirement
        assert 1 <= s2["n_maybe"] <= 2
    finally:
        p.stop()
        fingerprints.destroy()
        bloom_state.destroy()
        dupes.destroy()


def test_bloom_gate_saturation_warns(spark, stream_dir):
    """The gate's words dial was documented but SILENT: once the
    standing fingerprint count implies FPR > 0.5, the bloom passes most
    absent keys and the sink has degraded to the ungated join. The sink
    must estimate the FPR each epoch from the fingerprint table's
    parquet footers (no Spark job) and warn loudly — and record the
    estimate in stats."""
    import warnings as _w

    import pytest as _pytest

    from pyspark.sql import functions as F

    from slipstream_async_spark.streaming.dedup_flow import (
        bloom_gated_exact_dedup_sink,
    )
    from slipstream_async_spark.streaming.state import StateTable

    fps = StateTable(spark, os.path.join(stream_dir, "sat_fps"))
    bloom = StateTable(spark, os.path.join(stream_dir, "sat_bloom"))
    dupes = StateTable(spark, os.path.join(stream_dir, "sat_dupes"))
    stats: list = []
    # words=2 -> 124 bits: saturates after a few dozen keys
    sink = bloom_gated_exact_dedup_sink(
        fps, bloom, dupes, words=2, stats=stats
    )
    docs = spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("unique text "), F.col("id")).alias("text"),
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        sink(docs, 0)  # standing table empty: no warning yet
    assert not [w for w in rec if "saturated" in str(w.message)]
    assert stats[0]["gate_fpr_est"] == 0.0
    # epoch 1 sees ~200 standing fingerprints in 124 bits -> FPR ~ 1
    more = spark.range(200, 220).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("unique text "), F.col("id")).alias("text"),
    )
    with _pytest.warns(RuntimeWarning, match="saturated"):
        sink(more, 1)
    assert stats[1]["gate_fpr_est"] > 0.5
    fps.destroy()
    bloom.destroy()
    dupes.destroy()


def test_bloom_gate_fails_closed_on_size_change(spark, stream_dir):
    """A bloom table written at one ``words`` and probed at another
    would read most standing fingerprints as definitely new, skip their
    exact check and overwrite their canonical ids. The sink raises
    instead, naming both sizes, and commits nothing; once the table is
    rebuilt from the fingerprint table at the new size, a duplicate of
    a standing document is found again."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from slipstream_async_spark.operators.membership import bitmap_rows
    from slipstream_async_spark.streaming.dedup_flow import (
        bloom_gated_exact_dedup_sink,
    )
    from slipstream_async_spark.streaming.state import StateTable

    fps, bloom, dupes = (
        StateTable(spark, os.path.join(stream_dir, f"resize_{n}"))
        for n in ("fps", "bloom", "dupes")
    )
    docs = spark.range(40).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )
    bloom_gated_exact_dedup_sink(fps, bloom, dupes, words=16)(docs, 0)
    again = spark.createDataFrame([("x", "text 7")], "doc_id string, text string")
    versions = (fps.version, bloom.version, dupes.version)
    with _pytest.raises(ValueError, match=r"words=16.*words=32"):
        bloom_gated_exact_dedup_sink(fps, bloom, dupes, words=32)(again, 1)
    assert (fps.version, bloom.version, dupes.version) == versions
    bloom.replace_all(bitmap_rows([0] * 32, fps.snapshot(), "key"))
    bloom_gated_exact_dedup_sink(fps, bloom, dupes, words=32)(again, 1)
    assert dupes.get("x") == "7"
    for t in (fps, bloom, dupes):
        t.destroy()


def test_streaming_ann_enrichment_from_materialized_index(spark, stream_dir):
    """The write-once/probe-many index read path as a streaming query:
    an IVF index is materialized offline, then two micro-batches of
    query vectors probe it through a foreachBatch flow; every enriched
    result must equal the direct (batch) index probe for the same
    query, and batch-2 queries must NOT disturb batch-1 results."""
    from slipstream_async_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk,
    )
    from slipstream_async_spark.sources.readers import load_table
    from slipstream_async_spark.streaming.ann_flow import ann_enrich_sink
    from slipstream_async_spark.streaming.pipeline import (
        Pipeline,
        foreach_batch_sink,
    )
    from slipstream_async_spark.streaming.state import StateTable

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index_path = os.path.join(stream_dir, "ann_index")
    ivf_index_write(corpus, index_path, n_lists=8)

    def queries_for(lo, hi):
        return corpus.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(F.col("vec_id").alias("query_id"), "embedding")

    def expected_for(lo, hi):
        got = ivf_topk(
            None, queries_for(lo, hi), k=3, n_probe=4,
            index_path=index_path,
        ).collect()
        exp = {}
        for r in sorted(
            got, key=lambda r: (r["query_id"], -r["cosine"], r["vec_id"])
        ):
            exp.setdefault(str(r["query_id"]), []).append(
                f"{r['vec_id']}:{r['cosine']:.6f}"
            )
        return {q: ",".join(v) for q, v in exp.items()}

    src = os.path.join(stream_dir, "ann_queries")
    schema = "query_id long, embedding array<float>"
    b1 = [(int(r["query_id"]), list(r["embedding"]))
          for r in queries_for(0, 4).collect()]
    _write_batch(spark, src, b1, schema, 0)

    results = StateTable(spark, os.path.join(stream_dir, "ann_results"))
    p = Pipeline()

    @p.handle(
        _file_stream(spark, src, schema),
        sink=[foreach_batch_sink(
            ann_enrich_sink(index_path, results, k=3, n_probe=4),
            checkpoint=os.path.join(stream_dir, "ann_ckpt"),
        )],
    )
    def flow(df):
        return df

    p.stream()
    try:
        p.process_all_available()
        assert dict(results.items()) == expected_for(0, 4)

        b2 = [(int(r["query_id"]), list(r["embedding"]))
              for r in queries_for(4, 8).collect()]
        _write_batch(spark, src, b2, schema, 1)
        p.process_all_available()
        combined = expected_for(0, 4) | expected_for(4, 8)
        assert dict(results.items()) == combined
    finally:
        p.stop()
        results.destroy()


def test_composed_session_dedup_cdc_pipeline(spark, stream_dir):
    """The composed end-to-end pipeline the reference's correction
    scenario implies (tests/integration/test_kafka_integration.py:
    128-162 composes consume -> window -> cache -> downstream): file
    source -> watermarked SESSION windows -> bloom-gated dedup sink
    over the closed sessions -> changelog CDC read-back by a second
    streaming query. Golden: two users with byte-identical session
    shapes dedup to one canonical (min doc_id), the dup verdict is
    published on the dupes changelog, and the CDC reader sees it."""
    from pyspark.sql import functions as F

    from slipstream_async_spark.streaming.dedup_flow import (
        bloom_gated_exact_dedup_sink,
    )
    from slipstream_async_spark.streaming.state import StateTable

    src = os.path.join(stream_dir, "comp_src")
    schema = "ts timestamp, user_id string, v long"
    # user a and user b each have a 2-event session of identical shape
    # (n_events=2, span 5 min); user z's lone event differs (n=1)
    _write_batch(
        spark, src,
        [(ts(0.0), "a", 1), (ts(5.0), "a", 2),
         (ts(60.0), "b", 3), (ts(65.0), "b", 4),
         (ts(120.0), "z", 5)],
        schema, 0,
    )

    fps = StateTable(spark, os.path.join(stream_dir, "c_fps"))
    bloom = StateTable(spark, os.path.join(stream_dir, "c_bloom"))
    dupes = StateTable(spark, os.path.join(stream_dir, "c_dupes"))
    stats: list = []
    inner = bloom_gated_exact_dedup_sink(
        fps, bloom, dupes, text_col="text", id_col="doc_id", stats=stats
    )

    def composed_sink(batch_df, epoch_id):
        docs = batch_df.select(
            F.concat_ws(
                "|", "user_id", F.col("session_window.start").cast("string")
            ).alias("doc_id"),
            F.to_json(
                F.struct(
                    "n_events",
                    (
                        F.col("session_window.end").cast("long")
                        - F.col("session_window.start").cast("long")
                    ).alias("span"),
                )
            ).alias("text"),
        )
        inner(docs, epoch_id)

    sess = (
        _file_stream(spark, src, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        sess.writeStream.outputMode("append")
        .foreachBatch(composed_sink)
        .option("checkpointLocation", os.path.join(stream_dir, "ck_comp"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past every session so they all close
        _write_batch(spark, src, [(ts(60 * 24.0), "w", 9)], schema, 1)
        q.processAllAvailable()

        # a|... and b|... sessions share a fingerprint -> ONE canonical
        # (string-min = a's), b's session flagged dup; z's is unique
        dup_rows = {
            r["key"]: r["value"] for r in dupes.snapshot().collect()
        }
        assert len(dup_rows) == 1
        ((dup_key, canon),) = dup_rows.items()
        assert dup_key.startswith("b|") and canon.startswith("a|")
        fp_canons = {r["value"] for r in fps.snapshot().collect()}
        assert any(c.startswith("a|") for c in fp_canons)
        assert any(c.startswith("z|") for c in fp_canons)

        # CDC read-back: a second streaming query consumes the dup
        # verdicts from the changelog, in version order
        cdc = (
            dupes.changelog_stream(max_files_per_trigger=None)
            .writeStream.format("memory")
            .queryName("comp_cdc")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(stream_dir, "ck_cdc"))
            .start()
        )
        cdc.processAllAvailable()
        got = spark.sql(
            "SELECT key, value, op FROM comp_cdc WHERE op = 'put'"
        ).collect()
        cdc.stop()
        assert [(r["key"], r["value"]) for r in got] == [(dup_key, canon)]

        # replay idempotence: re-running the dup batch through the sink
        # converges (no new dup rows, no canonical flip)
        assert dupes.snapshot().count() == 1
    finally:
        q.stop()
        for t in (fps, bloom, dupes):
            t.destroy()


def test_ann_enrich_sink_large_list_generic_lane(spark, stream_dir):
    """Above MAPSIDE_MAX_LISTS the streaming ANN sink must pick the
    generic crossJoin+window probe lane at setup (a plan-literal of
    thousands of centroids would bloat every serialized stage) — and
    the enriched results must equal the direct batch probe, exactly as
    they do on the literal lane. A replayed epoch commits nothing."""
    from slipstream_async_spark.operators.similarity import (
        MAPSIDE_MAX_LISTS,
        ivf_index_write,
        ivf_topk,
    )
    from slipstream_async_spark.sources.readers import load_table
    from slipstream_async_spark.streaming.ann_flow import ann_enrich_sink
    from slipstream_async_spark.streaming.state import StateTable

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index_path = os.path.join(stream_dir, "ann_index_big")
    n_lists = MAPSIDE_MAX_LISTS + 14
    ivf_index_write(corpus, index_path, n_lists=n_lists)
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    results = StateTable(spark, os.path.join(stream_dir, "ann_big_res"))
    sink = ann_enrich_sink(index_path, results, k=3, n_probe=4)
    sink(queries, 0)
    # epoch-fenced: a same-closure replay and a replay after a restart
    # (a new sink) commit no duplicate version or changelog events
    v, n_log = results.version, results.changelog().count()
    sink(queries, 0)
    ann_enrich_sink(index_path, results, k=3, n_probe=4)(queries, 0)
    assert (results.version, results.changelog().count()) == (v, n_log)
    got = {r["key"]: r["value"] for r in results.snapshot().collect()}
    exp = {}
    for r in sorted(
        ivf_topk(
            None, queries, k=3, n_probe=4, index_path=index_path
        ).collect(),
        key=lambda r: (r["query_id"], -r["cosine"], r["vec_id"]),
    ):
        exp.setdefault(str(r["query_id"]), []).append(
            f"{r['vec_id']}:{r['cosine']:.6f}"
        )
    assert got == {q: ",".join(v) for q, v in exp.items()}
    results.destroy()
