"""rolling_stats three-way parity: RANGE-frame boundaries (row exactly
window-1 old included, window old excluded), same-us tie peers share a
frame, partitioning invariance."""

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.rolling import (
    duck_rolling_sql,
    rolling_stats,
)

W = 100  # toy window (us)
EPOCH = datetime.datetime(1970, 1, 1)

# (event_id, user, us, value)
ROWS = [
    (1, 1, 0, 1.00),
    (2, 1, 99, 1.00),    # 99 - 0 = W-1 -> event 1 still IN its frame
    (3, 1, 100, 1.00),   # 100 - 0 = W  -> event 1 OUT, event 2 in
    (4, 2, 50, 2.00),
    (5, 2, 50, 3.00),    # tie: both rows see BOTH (peers share frame)
    (6, 3, 10, 0.005),   # rounding boundary: floor(0.5+0.5)=1 cent
]


def _py(rows, w):
    out = {}
    for eid, u, us, _ in rows:
        frame = [r for r in rows if r[1] == u and us - w + 1 <= r[2] <= us]
        out[eid] = (
            u, us, len(frame),
            sum(int(v * 100 + 0.5) for *_x, v in frame),
        )
    return out


def test_rolling_three_way(spark):
    df = spark.createDataFrame(
        [
            (eid, EPOCH + datetime.timedelta(microseconds=us), u, v)
            for eid, u, us, v in ROWS
        ],
        ["event_id", "ts", "user_id", "value"],
    )
    want = _py(ROWS, W)
    for parts in (None, 1, 5):
        d = df if parts is None else df.repartition(parts)
        got = {
            r["event_id"]: (
                r["user_id"], r["us"], r["win_events"], r["win_value_cents"]
            )
            for r in rolling_stats(
                d, "user_id", "ts", "event_id", "value", window_us=W
            ).collect()
        }
        assert got == want
    assert want[2][2] == 2 and want[3][2] == 2   # boundary in/out
    assert want[4][2] == 2 and want[5][2] == 2   # tie peers
    assert want[6][3] == 1                        # .5-cent rounds up

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO ev VALUES (?,?,?,?)",
        [
            (eid, EPOCH + datetime.timedelta(microseconds=us), u, v)
            for eid, u, us, v in ROWS
        ],
    )
    duck = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            duck_rolling_sql("ev", "user_id", "ts", "event_id", "value", W)
        ).fetchall()
    }
    assert duck == want
