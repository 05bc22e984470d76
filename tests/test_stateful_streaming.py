"""applyInPandasWithState sessionizer: cross-batch state on a real stream
(file source, availableNow, memory sink) and agreement with the batch
window-based sessionizer on closed sessions."""

from __future__ import annotations

import json
import os
import time

from lightrag_spark.streaming.stateful import sessionize_stateful

SCHEMA = "user_id long, event_id long, ts string"


def _write_batch(d, name, rows):
    path = os.path.join(d, name)
    with open(path + ".tmp", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(path + ".tmp", path)


def _await_drained(q, timeout=120):
    """availableNow does not end on its own here: the processing-time
    timeout makes Spark keep running no-data batches until every open
    session times out (30 min).  A no-data batch that completes after a
    data batch proves all input is committed, so stop the query there.  (A
    restart may first replay the no-data batch the previous stop cut
    short, so a 0-row batch before any data proves nothing.)"""
    deadline = time.monotonic() + timeout
    while q.isActive and time.monotonic() < deadline:
        rows = [p["numInputRows"] for p in q.recentProgress]
        if any(n == 0 and any(rows[:i]) for i, n in enumerate(rows)):
            break
        time.sleep(0.2)
    q.stop()


def _run_available_now(spark, src_dir, ckpt, out_dir):
    """Parquet sink (fault-tolerant): re-running with the same checkpoint is
    a genuine recovery — state survives across restarts.  Rows accumulate in
    out_dir across runs."""
    stream = spark.readStream.schema(SCHEMA).json(src_dir)
    q = (
        sessionize_stateful(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    return spark.read.parquet(out_dir)


def test_sessions_close_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # batch 1: user 1 has two sessions separated by a >30min gap inside the
    # batch (closes session 1); session 2 stays open in state.
    t0 = 1_700_000_000
    _write_batch(src, "b1.json", [
        {"user_id": 1, "event_id": 1, "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t0))},
        {"user_id": 1, "event_id": 2, "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t0 + 60))},
        {"user_id": 1, "event_id": 3, "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t0 + 4000))},
        {"user_id": 2, "event_id": 4, "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t0))},
    ])
    out = str(tmp_path / "out")
    out1 = _run_available_now(spark, src, ckpt, out).collect()
    closed1 = {(r.user_id, r.session_idx): r for r in out1}
    assert (1, 1) in closed1
    assert closed1[(1, 1)].n_events == 2
    assert closed1[(1, 1)].end_epoch == t0 + 60
    assert closed1[(1, 1)].closed_by == "gap"
    # user 1 session 2 and user 2 session 1 are still OPEN (in state)
    assert (1, 2) not in closed1 and (2, 1) not in closed1

    # batch 2: a late event for user 1 beyond the gap -> closes session 2
    # (state survived the restart via the checkpoint); user 2 gets a
    # within-gap event -> still open.
    _write_batch(src, "b2.json", [
        {"user_id": 1, "event_id": 5, "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t0 + 10_000))},
        {"user_id": 2, "event_id": 6, "ts": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(t0 + 600))},
    ])
    out2 = _run_available_now(spark, src, ckpt, out).collect()
    closed2 = {(r.user_id, r.session_idx): r for r in out2}
    assert (1, 2) in closed2, closed2  # state survived the restart
    assert closed2[(1, 2)].n_events == 1
    assert closed2[(1, 2)].start_epoch == t0 + 4000
    # user 2's session absorbed the new event without closing
    assert all(k[0] != 2 for k in closed2)


def test_agrees_with_batch_sessionizer_on_closed_sessions(spark, tmp_path):
    """Run the stateful operator over the events testdata as ONE batch; its
    gap-closed sessions must match the window-based sessionize_events for
    every session except each user's final (still-open) one."""
    from pyspark.sql import functions as F

    from lightrag_spark.operators.datapipe import sessionize_events

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "src2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(src)
    rows = [
        {"user_id": r.user_id, "event_id": r.event_id, "ts": str(r.ts)}
        for r in events.collect()
    ]
    _write_batch(src, "all.json", rows)
    got = {
        (r.user_id, r.session_idx): r.n_events
        for r in _run_available_now(spark, src, ckpt, str(tmp_path / "out2")).collect()
    }

    want_all = {
        (r.user_id, r.session_idx): r.n_events
        for r in sessionize_events(events).collect()
    }
    last_sidx = {}
    for (u, s) in want_all:
        last_sidx[u] = max(last_sidx.get(u, 0), s)
    want_closed = {
        k: v for k, v in want_all.items() if k[1] != last_sidx[k[0]]
    }
    assert got == want_closed


def test_watermarked_window_counts_drop_late_events(spark, tmp_path):
    """Append-mode windowed agg: a window's row emits once the watermark
    passes its end; an event arriving later than the watermark is dropped."""
    from lightrag_spark.streaming.incremental import windowed_ingest_counts

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    os.makedirs(src)
    t0 = 1_700_000_000  # aligned far from window edges

    def ts(sec):
        return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))

    # batch 1: two events in window W0 [t0, t0+600), one event much later
    # (advances the watermark beyond W0's end -> W0 finalizes)
    _write_batch(src, "b1.json", [
        {"user_id": 1, "event_id": 1, "ts": ts(t0 + 10)},
        {"user_id": 1, "event_id": 2, "ts": ts(t0 + 20)},
        {"user_id": 1, "event_id": 3, "ts": ts(t0 + 7200)},
    ])
    wout = str(tmp_path / "wout")
    stream = spark.readStream.schema(SCHEMA).json(src)
    out = windowed_ingest_counts(stream, window_minutes=10, watermark_minutes=30)
    q = (
        out.writeStream.format("parquet").option("path", wout)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows1 = spark.read.parquet(wout).collect()
    closed = {(r.user_id, r.window_start.timestamp()): r.n_events for r in rows1}
    assert closed.get((1, float(t0 - t0 % 600))) == 2  # W0 finalized with 2
    # the t0+7200 window is still open (watermark hasn't passed it)
    assert all(ws < t0 + 7200 for (_, ws) in closed)

    # batch 2: a LATE event for W0 (older than watermark) must be dropped —
    # W0 already emitted and never re-emits in append mode.
    _write_batch(src, "b2.json", [
        {"user_id": 1, "event_id": 4, "ts": ts(t0 + 30)},
        {"user_id": 1, "event_id": 5, "ts": ts(t0 + 9000)},
    ])
    q2 = (
        windowed_ingest_counts(
            spark.readStream.schema(SCHEMA).json(src), window_minutes=10,
            watermark_minutes=30,
        )
        .writeStream.format("parquet").option("path", wout)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    rows2 = spark.read.parquet(wout).collect()
    # W0 emitted exactly once ever: the late event was discarded by the
    # watermark, so no second W0 row appears after batch 2
    w0 = [r for r in rows2 if r.window_start.timestamp() == t0 - t0 % 600]
    assert len(w0) == 1 and w0[0].n_events == 2


def test_sliding_window_counts_stream_equals_batch(spark, tmp_path):
    """Sliding windows (10 min / 5 min slide): every event lands in exactly
    two windows; the streaming append-mode result over finalized windows
    equals the batch face on the same frame."""
    from lightrag_spark.streaming.incremental import sliding_ingest_counts

    src = str(tmp_path / "slsrc")
    ckpt = str(tmp_path / "slckpt")
    os.makedirs(src)
    t0 = 1_700_000_400  # divisible by 600 -> aligned on both window grids

    def ts(sec):
        return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))

    rows = [
        {"user_id": 1, "event_id": 1, "ts": ts(t0 + 10)},
        {"user_id": 1, "event_id": 2, "ts": ts(t0 + 20)},
        {"user_id": 1, "event_id": 3, "ts": ts(t0 + 310)},
        # watermark advancer: its own windows stay open / unemitted
        {"user_id": 1, "event_id": 4, "ts": ts(t0 + 7200)},
    ]
    _write_batch(src, "b1.json", rows)
    out_dir = str(tmp_path / "slout")
    q = (
        sliding_ingest_counts(
            spark.readStream.schema(SCHEMA).json(src),
            window_minutes=10,
            slide_minutes=5,
            watermark_minutes=30,
        )
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.timestamp(), r.user_id): r.n_events
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        (float(t0 - 300), 1): 2,   # [t0-300, t0+300): e1, e2
        (float(t0), 1): 3,         # [t0, t0+600): e1, e2, e3
        (float(t0 + 300), 1): 1,   # [t0+300, t0+900): e3
    }
    # batch face over the same rows agrees on those windows
    batch = spark.createDataFrame(
        [(r["user_id"], r["event_id"], r["ts"]) for r in rows], SCHEMA
    )
    want = {
        (r.window_start.timestamp(), r.user_id): r.n_events
        for r in sliding_ingest_counts(
            batch, window_minutes=10, slide_minutes=5
        ).collect()
    }
    for k, v in got.items():
        assert want[k] == v
