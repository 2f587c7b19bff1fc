"""Three-way parity for sessionize and range_join_points: Spark vs
DuckDB twin vs a plain-Python reference, on edge-case frames (tie
timestamps, gap exactly at the threshold, interval boundary
inclusivity, intervals spanning / inside one bucket), plus
partitioning invariance."""

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.rangejoin import (
    campaign_order_stats,
    duck_campaign_order_stats_sql,
    range_join_points,
)
from geojson_vt_rs_spark.operators.sessions import (
    duck_sessionize_sql,
    sessionize,
)

EPOCH = datetime.datetime(1970, 1, 1)


def _ts(us):
    return EPOCH + datetime.timedelta(microseconds=us)


GAP = 1_000_000  # 1s for the toy frames

# (event_id, user, us, value) — user 1: gap exactly == GAP continues,
# gap GAP+1 splits; user 2: tie timestamps (order falls to event_id);
# user 3: single event.
SESS_ROWS = [
    (10, 1, 0, 1.25),
    (11, 1, GAP, 2.00),          # exactly GAP later -> same session
    (12, 1, 2 * GAP + 1, 0.10),  # GAP+1 later -> new session
    (20, 2, 5, 1.005),           # .5 cent boundary: floor(100.5+0.5)=101
    (21, 2, 5, 2.00),            # tie ts, higher id sorts second
    (22, 2, 5 + GAP + 1, 3.00),
    (30, 3, 7, 4.44),
]


def _py_sessionize(rows, gap_us):
    by_user = {}
    for eid, u, us, v in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        by_user.setdefault(u, []).append((us, eid, v))
    out = {}
    for u, evs in by_user.items():
        seq, prev = 0, None
        for us, eid, v in evs:
            if prev is None or us - prev > gap_us:
                seq += 1
                out[(u, seq)] = []
            out[(u, seq)].append((us, v))
            prev = us
    return {
        k: (
            len(evs),
            min(us for us, _ in evs),
            max(us for us, _ in evs),
            max(us for us, _ in evs) - min(us for us, _ in evs),
            sum(int(v * 100 + 0.5) for _, v in evs),
        )
        for k, evs in out.items()
    }


def test_sessionize_three_way(spark):
    df = spark.createDataFrame(
        [(eid, u, _ts(us), v) for eid, u, us, v in SESS_ROWS],
        ["event_id", "user_id", "ts", "value"],
    )
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"],
            r["start_us"],
            r["end_us"],
            r["duration_us"],
            r["sum_value_cents"],
        )
        for r in sessionize(
            df, "user_id", "ts", "event_id", "value", gap_us=GAP
        ).collect()
    }
    assert got == _py_sessionize(SESS_ROWS, GAP)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev(event_id BIGINT, user_id BIGINT, "
        "ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO ev VALUES (?,?,?,?)",
        [(eid, u, _ts(us), v) for eid, u, us, v in SESS_ROWS],
    )
    duck = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.execute(
            duck_sessionize_sql(
                "ev", "user_id", "ts", "event_id", "value", gap_us=GAP
            )
        ).fetchall()
    }
    assert duck == got


def test_sessionize_null_ts_matches_duckdb(spark):
    """NULL-timestamp rows: Spark's window orders them LAST explicitly
    (asc_nulls_last) to match DuckDB's ASC default, so null-ts rows join
    the key's final session on both engines (ADVICE r5)."""
    rows = SESS_ROWS + [(40, 1, None, 0.50), (41, 1, None, 0.25),
                        (50, 4, None, 9.99)]
    df = spark.createDataFrame(
        [
            (eid, u, _ts(us) if us is not None else None, v)
            for eid, u, us, v in rows
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["start_us"], r["end_us"],
            r["duration_us"], r["sum_value_cents"],
        )
        for r in sessionize(
            df, "user_id", "ts", "event_id", "value", gap_us=GAP
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev(event_id BIGINT, user_id BIGINT, "
        "ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO ev VALUES (?,?,?,?)",
        [
            (eid, u, _ts(us) if us is not None else None, v)
            for eid, u, us, v in rows
        ],
    )
    duck = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.execute(
            duck_sessionize_sql(
                "ev", "user_id", "ts", "event_id", "value", gap_us=GAP
            )
        ).fetchall()
    }
    assert duck == got
    # the FIRST null-ts row joins user 1's last real session (its gap
    # test is NULL -> ELSE 0 on both engines); every further null row
    # has lag == NULL -> prev-IS-NULL opens a new session on both
    assert got[(1, 2)][0] == 2  # session 2 = event 12 + first null row
    assert max(seq for u, seq in got if u == 1) == 3
    # an all-null key still yields exactly one session
    assert (4, 1) in got and got[(4, 1)][0] == 1


def test_sessionize_partitioning_invariance(spark):
    df = spark.createDataFrame(
        [(eid, u, _ts(us), v) for eid, u, us, v in SESS_ROWS],
        ["event_id", "user_id", "ts", "value"],
    )
    base = sorted(
        map(tuple, sessionize(
            df, "user_id", "ts", "event_id", "value", gap_us=GAP
        ).collect())
    )
    for n in (1, 7):
        rep = sorted(
            map(tuple, sessionize(
                df.repartition(n), "user_id", "ts", "event_id", "value",
                gap_us=GAP,
            ).collect())
        )
        assert rep == base


W = 100  # toy bucket width (us)

# (interval_id, lo, hi): inside one bucket, spanning buckets, empty,
# zero-length, hi exactly on a bucket edge.
IV_ROWS = [
    (1, 10, 20),     # inside bucket 0
    (2, 90, 210),    # spans buckets 0..2
    (3, 300, 300),   # zero-length: matches nothing (half-open)
    (4, 500, 600),   # hi on a bucket edge
    (5, 150, 160),   # overlaps interval 2 (point in 2 intervals)
]
# (pid, us): boundary points us==lo (in) and us==hi (out).
PT_ROWS = [
    (100, 10),   # == lo of iv1 -> in
    (101, 20),   # == hi of iv1 -> out
    (102, 155),  # in iv2 AND iv5
    (103, 209),  # last us of iv2
    (104, 210),  # == hi of iv2 -> out
    (105, 599),  # in iv4
    (106, 600),  # == hi of iv4 -> out
    (107, 5000), # no interval
]


def _py_range_join(ivs, pts):
    return sorted(
        (iid, pid)
        for iid, lo, hi in ivs
        for pid, us in pts
        if lo <= us < hi
    )


def test_range_join_boundaries(spark):
    iv = spark.createDataFrame(IV_ROWS, ["interval_id", "lo_us", "hi_us"])
    pts = spark.createDataFrame(PT_ROWS, ["pid", "us"])
    got = sorted(
        (r["interval_id"], r["pid"])
        for r in range_join_points(iv, pts, bucket_us=W).collect()
    )
    expect = _py_range_join(IV_ROWS, PT_ROWS)
    assert got == expect
    # pairs are duplicate-free by construction
    assert len(got) == len(set(got))
    # and invariant to the bucket width
    for w in (1, 37, 10_000):
        got_w = sorted(
            (r["interval_id"], r["pid"])
            for r in range_join_points(iv, pts, bucket_us=w).collect()
        )
        assert got_w == expect


SF_DIR = "/root/testdata/sf0.001"


def test_campaign_order_stats_matches_duckdb(spark):
    got = sorted(
        map(tuple, campaign_order_stats(
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
        ).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"'{SF_DIR}/orders.parquet'"
    )
    duck = sorted(
        map(tuple, con.execute(duck_campaign_order_stats_sql()).fetchall())
    )
    assert got == duck
    assert len(got) > 0
