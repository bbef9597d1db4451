"""Streaming operator tests: file-source micro-batches driven with
``trigger(availableNow=True)`` into memory sinks."""

from __future__ import annotations

import datetime
import json

import pytest

from pyspark.sql import functions as F


def _write_events_json(tmp_path, rows):
    p = tmp_path / "stream_in"
    p.mkdir()
    with open(p / "batch0.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)


def test_hourly_event_counts_stream(spark, tmp_path):
    from owl_etl_spark.streaming.windows import hourly_event_counts

    rows = [
        {"ts": "2024-01-01T00:10:00", "event_type": "click", "value": 1.0, "user_id": 1},
        {"ts": "2024-01-01T00:50:00", "event_type": "click", "value": 2.0, "user_id": 1},
        {"ts": "2024-01-01T01:10:00", "event_type": "view", "value": 3.0, "user_id": 2},
    ]
    path = _write_events_json(tmp_path, rows)
    schema = "ts timestamp, event_type string, value double, user_id bigint"
    stream = spark.readStream.schema(schema).json(path)
    out = hourly_event_counts(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = {
        (r.window_start.hour, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    assert res[(0, "click")] == (2, 3.0)
    assert res[(1, "view")] == (1, 3.0)


def test_session_counts_stream(spark, tmp_path):
    from owl_etl_spark.streaming.windows import session_counts

    rows = [
        {"ts": "2024-01-01T00:00:00", "user_id": 1},
        {"ts": "2024-01-01T00:10:00", "user_id": 1},   # same session
        {"ts": "2024-01-01T02:00:00", "user_id": 1},   # new session
        {"ts": "2024-01-01T00:00:00", "user_id": 2},
    ]
    path = _write_events_json(tmp_path, rows)
    stream = spark.readStream.schema("ts timestamp, user_id bigint").json(path)
    out = session_counts(stream, gap="30 minutes", watermark="4 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows_out = spark.sql("SELECT * FROM sessions_test").collect()
    by_user = {}
    for r in rows_out:
        by_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(by_user[1]) == [1, 2]
    assert by_user[2] == [1]


def test_streaming_latest_per_key(spark, tmp_path):
    from owl_etl_spark.streaming.dedup_stream import streaming_latest_per_key

    rows = [
        {"k": "f1", "fecha": "2025-06-30", "val": "old", "ts": "2024-01-01T00:00:00"},
        {"k": "f1", "fecha": "2025-07-31", "val": "new", "ts": "2024-01-01T00:01:00"},
        {"k": "f2", "fecha": "2025-05-31", "val": "only", "ts": "2024-01-01T00:02:00"},
    ]
    path = _write_events_json(tmp_path, rows)
    stream = spark.readStream.schema("k string, fecha string, val string, ts timestamp").json(path)
    out = streaming_latest_per_key(stream, ["k"], "fecha", "ts", state_timeout_ms=None)
    q = (
        out.writeStream.format("memory")
        .queryName("latest_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM latest_test").collect()
    # f1 improves twice (old then new), f2 once — downstream upsert
    # keyed on k converges to the newest values
    last = {}
    for r in emitted:
        if r.k not in last or r.fecha > last[r.k][0]:
            last[r.k] = (r.fecha, r.val)
    assert last == {"f1": ("2025-07-31", "new"), "f2": ("2025-05-31", "only")}


def test_streaming_batch_equivalence(spark, tmp_path):
    """The SAME transformation (hourly_event_counts) over the same rows
    must produce identical aggregates in batch mode and in streaming
    micro-batch mode — the mode-independence property that makes the
    medallion incremental path trustworthy."""
    from owl_etl_spark.streaming.windows import hourly_event_counts

    rows = [
        {"ts": "2024-01-01T00:10:00", "event_type": "click", "value": 1.5, "user_id": 1},
        {"ts": "2024-01-01T00:40:00", "event_type": "click", "value": 2.5, "user_id": 2},
        {"ts": "2024-01-01T01:05:00", "event_type": "view", "value": 3.0, "user_id": 1},
        {"ts": "2024-01-01T02:59:00", "event_type": "view", "value": 4.0, "user_id": 3},
    ]
    path = _write_events_json(tmp_path, rows)
    schema = "ts timestamp, event_type string, value double, user_id bigint"

    batch = hourly_event_counts(spark.read.schema(schema).json(path))
    batch_res = {
        (r.window_start, r.event_type): (r.n_events, r.total_value) for r in batch.collect()
    }

    stream = hourly_event_counts(spark.readStream.schema(schema).json(path))
    q = (
        stream.writeStream.format("memory")
        .queryName("equiv_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_res = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM equiv_test").collect()
    }
    assert batch_res == stream_res


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked interval join: purchases attributed to the click that
    preceded them within the attribution window, both sides unbounded."""
    from owl_etl_spark.streaming.joins import stream_stream_interval_join

    clicks_dir = tmp_path / "clicks"; clicks_dir.mkdir()
    buys_dir = tmp_path / "buys"; buys_dir.mkdir()
    (clicks_dir / "c0.json").write_text(
        json.dumps({"user_id": 1, "l_ts": "2024-01-01T00:00:00", "page": "home"}) + "\n"
        + json.dumps({"user_id": 2, "l_ts": "2024-01-01T00:00:00", "page": "promo"}) + "\n"
    )
    (buys_dir / "b0.json").write_text(
        json.dumps({"user_id": 1, "r_ts": "2024-01-01T00:10:00", "amount": 5.0}) + "\n"
        + json.dumps({"user_id": 1, "r_ts": "2024-01-01T01:00:00", "amount": 9.0}) + "\n"
        + json.dumps({"user_id": 3, "r_ts": "2024-01-01T00:05:00", "amount": 7.0}) + "\n"
    )
    clicks = spark.readStream.schema("user_id bigint, l_ts timestamp, page string").json(
        str(clicks_dir)
    )
    buys = spark.readStream.schema("user_id bigint, r_ts timestamp, amount double").json(
        str(buys_dir)
    )
    joined = stream_stream_interval_join(clicks, buys, "user_id", max_lag="30 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT user_id, page, amount FROM attrib_test").collect()
    # Only user 1's 00:10 purchase is within (click, click+30min]; the
    # 01:00 purchase is too late, users 2/3 have no counterpart.
    assert [(r.user_id, r.page, r.amount) for r in rows] == [(1, "home", 5.0)]


def test_sessionize_stateful_timeout_eviction(spark, tmp_path):
    """Event-time-timeout sessionizer: a session is emitted when the
    watermark passes last_event+gap, and its state is evicted."""
    import os as _os

    from owl_etl_spark.streaming.joins import sessionize_stateful

    src = tmp_path / "sess_in"; src.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")
    # Batch 0: user 1 has a 2-event burst; user 2's late event pushes
    # the NEXT batch's watermark far past user 1's gap timer.
    f0 = src / "batch0.json"
    f0.write_text(
        json.dumps({"user_id": 1, "ts": "2024-01-01T00:00:00"}) + "\n"
        + json.dumps({"user_id": 1, "ts": "2024-01-01T00:10:00"}) + "\n"
        + json.dumps({"user_id": 2, "ts": "2024-01-01T02:00:00"}) + "\n"
    )
    # Batch 1: unrelated user keeps the stream moving; no user-1 data.
    f1 = src / "batch1.json"
    f1.write_text(json.dumps({"user_id": 9, "ts": "2024-01-01T02:30:00"}) + "\n")
    _os.utime(f0, (1700000000, 1700000000))
    _os.utime(f1, (1700000100, 1700000100))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    out = sessionize_stateful(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_state_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT user_id, session_start_ms, session_end_ms, n_events FROM sess_state_test"
    ).collect()
    # Batch 1 ran with watermark = 02:00 (max ts of batch 0), so user
    # 1's timer (00:10 + 30min = 00:40) fired: one closed session.
    # Users 2/9 remain open (timers at 02:30/03:00 >= watermark).
    # Boundaries are epoch-ms instants (2024-01-01T00:00/00:10 UTC).
    assert [
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events) for r in rows
    ] == [(1, 1704067200000, 1704067800000, 2)]


def test_sessionize_stateful_gap_split_in_batch(spark, tmp_path):
    """A new event arriving more than gap after the previous one closes
    the old session inline (no timer needed)."""
    from owl_etl_spark.streaming.joins import sessionize_stateful

    rows = [
        {"user_id": 5, "ts": "2024-01-01T00:00:00"},
        {"user_id": 5, "ts": "2024-01-01T00:05:00"},
        {"user_id": 5, "ts": "2024-01-01T01:00:00"},  # > 30min gap
    ]
    path = _write_events_json(tmp_path, rows)
    stream = spark.readStream.schema("user_id bigint, ts timestamp").json(path)
    out = sessionize_stateful(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_split_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT session_start_ms, session_end_ms, n_events FROM sess_split_test"
    ).collect()
    assert [
        (r.session_start_ms, r.session_end_ms, r.n_events) for r in got
    ] == [(1704067200000, 1704067500000, 2)]


def test_rate_source_soak_multi_batch(spark):
    """Soak: a continuously-generating rate source driven through the
    watermarked hourly aggregation for several micro-batches. Asserts
    the query stays healthy (no exception), processes multiple
    batches, makes watermark progress, and the aggregate totals match
    the number of generated rows."""
    from owl_etl_spark.streaming.windows import hourly_event_counts

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("event_type"),
            (F.col("value") % 7).cast("double").alias("value"),
        )
    )
    out = hourly_event_counts(stream, watermark="10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("rate_soak")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 45
        batches = 0
        while time.time() < deadline:
            time.sleep(1)
            p = q.lastProgress
            if p:
                batches = max(batches, p["batchId"])
                if batches >= 5 and p["stateOperators"]:
                    break
        assert q.exception() is None
        assert batches >= 5, f"only {batches} micro-batches in soak window"
        total = spark.sql("SELECT sum(n_events) AS n FROM rate_soak").collect()[0].n
        assert total and total > 0
        # event_type domain is exactly {0,1,2}
        types = {
            r.event_type
            for r in spark.sql("SELECT DISTINCT event_type FROM rate_soak").collect()
        }
        assert types <= {"0", "1", "2"} and types
        wm = q.lastProgress["eventTime"].get("watermark")
        assert wm is not None and not wm.startswith("1970")
    finally:
        q.stop()


def test_streaming_cdc_apply_changelog(spark, tmp_path):
    """Upserts emit is_delete=false, a delete op emits a tombstone, and
    a late (lower-sequence) change after a delete is suppressed — the
    replay-safety property of the CDC compactor."""
    from owl_etl_spark.streaming.dedup_stream import streaming_cdc_apply

    rows = [
        {"k": "u1", "seq": "002", "op": "upsert", "val": "b", "ts": "2024-01-01T00:00:00"},
        {"k": "u1", "seq": "001", "op": "upsert", "val": "a", "ts": "2024-01-01T00:01:00"},
        {"k": "u2", "seq": "001", "op": "upsert", "val": "x", "ts": "2024-01-01T00:02:00"},
        {"k": "u2", "seq": "003", "op": "delete", "val": None, "ts": "2024-01-01T00:03:00"},
        {"k": "u2", "seq": "002", "op": "upsert", "val": "y", "ts": "2024-01-01T00:04:00"},
    ]
    path = _write_events_json(tmp_path, rows)
    stream = spark.readStream.schema(
        "k string, seq string, op string, val string, ts timestamp"
    ).json(path)
    out = streaming_cdc_apply(
        stream, ["k"], "seq", "op", "ts", delete_ops=("delete",), state_timeout_ms=None
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cdc_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM cdc_test ORDER BY k, seq").collect()
    # u1: batch compacts to the seq-002 upsert (the out-of-order 001 is
    # never emitted)
    u1 = [(r.seq, r.op, r.is_delete) for r in emitted if r.k == "u1"]
    assert u1 == [("002", "upsert", False)]
    # u2: batch compacts to the seq-003 tombstone; the lower-sequence
    # upserts (001, 002) are suppressed — a late change cannot
    # un-delete the key
    u2 = [(r.seq, r.op, r.is_delete) for r in emitted if r.k == "u2"]
    assert u2 == [("003", "delete", True)]
    # applying the changelog converges to: u1=b, u2 deleted
    state = {}
    for r in sorted(emitted, key=lambda r: (r.k, r.seq)):
        if r.is_delete:
            state.pop(r.k, None)
        else:
            state[r.k] = r.val
    assert state == {"u1": "b"}


def test_stream_static_enrich_broadcast_join(spark, tmp_path):
    """Stateless broadcast enrichment: known keys enrich, unknown keys
    survive as null (left join) — and the plan holds no streaming
    state."""
    from owl_etl_spark.streaming.joins import stream_static_enrich

    dim_dir = tmp_path / "dim"; dim_dir.mkdir()
    (dim_dir / "d1.json").write_text(
        json.dumps({"k": "a", "label": "alpha"}) + "\n"
        + json.dumps({"k": "b", "label": "beta"}) + "\n"
    )
    src = tmp_path / "src"; src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"k": "a", "v": 1, "ts": "2024-01-01T00:00:00"}) + "\n"
        + json.dumps({"k": "z", "v": 2, "ts": "2024-01-01T00:01:00"}) + "\n"
    )
    dim = spark.read.schema("k string, label string").json(str(dim_dir))
    stream = spark.readStream.schema("k string, v long, ts timestamp").json(str(src))
    out = stream_static_enrich(stream, dim, on=["k"])
    q = (
        out.writeStream.format("memory").queryName("enrich_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.v: r.label for r in spark.sql("SELECT * FROM enrich_test").collect()}
    assert got == {1: "alpha", 2: None}
    assert q.lastProgress["stateOperators"] in ([], None)  # stateless


