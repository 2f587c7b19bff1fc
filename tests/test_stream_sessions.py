"""Streaming gap sessionization (native session_window) parity: the
batch window-lag operator, the batch session_window rollup, and the
watermarked STREAM must produce identical session rollups — including
the gap-exactly-at-threshold boundary (continues) and tie timestamps."""

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geojson_vt_rs_spark.operators.sessions import sessionize
from geojson_vt_rs_spark.streaming.ingest import EVENT_SCHEMA
from geojson_vt_rs_spark.streaming.sessions import (
    batch_session_rollup,
    stream_sessionize,
)

GAP = 1_000_000  # 1s
BASE = dt.datetime(2026, 1, 1)


def _ev(eid, user, us, value):
    return (eid, BASE + dt.timedelta(microseconds=us), user, "click",
            value, None)


# user 1: diff == GAP continues, diff == GAP+1 splits; user 2: tie ts;
# user 3: single event session.
ROWS = [
    _ev(10, 1, 0, 1.25),
    _ev(11, 1, GAP, 2.00),
    _ev(12, 1, 2 * GAP + 1, 0.10),
    _ev(20, 2, 5, 1.005),
    _ev(21, 2, 5, 2.00),
    _ev(22, 2, 5 + GAP + 1, 3.00),
    _ev(30, 3, 7, 4.44),
]


def _rollup_set(rows):
    return sorted(
        (r["user_id"], r["n_events"], r["start_us"], r["end_us"],
         r["duration_us"], r["sum_value_cents"])
        for r in rows
    )


def test_stream_sessionize_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    df = spark.createDataFrame(ROWS, EVENT_SCHEMA)

    batch = _rollup_set(
        sessionize(df, "user_id", "ts", "event_id", "value", gap_us=GAP)
        .collect()
    )
    native = _rollup_set(batch_session_rollup(df, GAP).collect())
    assert native == batch

    # stream: real events, then two far-future sentinel files (user -1)
    # so the advancing watermark provably closes every real session.
    df.coalesce(1).write.mode("append").parquet(src)
    for i, far_us in enumerate([10**12, 2 * 10**12]):
        spark.createDataFrame(
            [_ev(900 + i, -1, far_us, 0.0)], EVENT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

    stream_sessionize(spark, src, out, ckpt, gap_us=GAP)
    stream_sessionize(spark, src, out, ckpt, gap_us=GAP)  # flush resume

    got = spark.read.parquet(out).filter("user_id >= 0").collect()
    assert _rollup_set(got) == batch
    # append mode: every session emitted exactly once across both runs
    assert len(got) == len(set(map(tuple, got)))

    # late-data contract: an event older than the checkpointed watermark
    # (persisted at the sentinel ts) arrives in a later run — it belongs
    # to a long-closed session and must be DROPPED, not re-emitted or
    # double-counted
    spark.createDataFrame(
        [_ev(950, 1, 3, 9.99)], EVENT_SCHEMA   # user 1, inside session 1
    ).coalesce(1).write.mode("append").parquet(src)
    stream_sessionize(spark, src, out, ckpt, gap_us=GAP)
    got2 = spark.read.parquet(out).filter("user_id >= 0").collect()
    assert _rollup_set(got2) == batch           # unchanged
    assert len(got2) == len(got)                # nothing re-emitted
