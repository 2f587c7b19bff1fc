"""Property-based cross-engine fuzzing for the round-5-continuation
ops (hypothesis): DuckDB oracle == plain-Python reference over random
event streams / corpora / interval sets.  Spark == DuckDB is pinned
separately on crafted + real tables (test_sessions_rangejoin.py,
test_chunking.py, test_rolling.py) — the triangle covers all three
implementations without paying a Spark job per example."""

import datetime
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_vt_rs_spark.operators.chunking import duck_chunk_pack_sql
from geojson_vt_rs_spark.operators.rangejoin import (
    duck_campaign_order_stats_sql,
)
from geojson_vt_rs_spark.operators.rolling import duck_rolling_sql
from geojson_vt_rs_spark.operators.sessions import duck_sessionize_sql

EPOCH = datetime.datetime(1970, 1, 1)


def _ts(us):
    return EPOCH + datetime.timedelta(microseconds=us)


_event = st.tuples(
    st.integers(0, 3),             # user
    st.integers(0, 50),            # us (dense: forces ties + threshold)
    st.integers(-500, 500),        # value in cents (exact as v/100)
)


@given(evs=st.lists(_event, min_size=1, max_size=25), gap=st.integers(1, 12))
@settings(max_examples=150, deadline=None)
def test_sessionize_duck_matches_python(evs, gap):
    rows = [
        (i, u, us, cents / 100.0) for i, (u, us, cents) in enumerate(evs)
    ]
    by_user = {}
    for eid, u, us, v in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        by_user.setdefault(u, []).append((us, v))
    want = {}
    for u, seq in by_user.items():
        sid, prev = 0, None
        for us, v in seq:
            if prev is None or us - prev > gap:
                sid += 1
                want[(u, sid)] = [0, us, us, 0]
            s = want[(u, sid)]
            s[0] += 1
            s[2] = us
            import math
            s[3] += math.floor(v * 100 + 0.5)
            prev = us
    expect = {
        k: (v[0], v[1], v[2], v[2] - v[1], v[3]) for k, v in want.items()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev(event_id BIGINT, user_id BIGINT, ts TIMESTAMP, "
        "value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO ev VALUES (?,?,?,?)",
        [(eid, u, _ts(us), v) for eid, u, us, v in rows],
    )
    got = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.execute(
            duck_sessionize_sql("ev", "user_id", "ts", "event_id", "value",
                                gap_us=gap)
        ).fetchall()
    }
    assert got == expect


@given(
    orders=st.lists(
        st.tuples(st.integers(0, 40), st.integers(-2000, 2000)),
        min_size=1, max_size=30, unique_by=lambda t: t[0],
    ),
    every=st.integers(1, 5),
)
@settings(max_examples=150, deadline=None)
def test_range_join_duck_matches_python(orders, every):
    day_us = 86400000000
    rows = [(k, _ts(abs(k) * 3 * day_us), cents / 100.0) for k, cents in orders]
    ivs = [
        (k, abs(k) * 3 * day_us, abs(k) * 3 * day_us + (k % 28 + 1) * day_us)
        for k, _ in orders if k % every == 0
    ]
    import math
    pts = [(abs(k) * 3 * day_us, math.floor(v * 100 + 0.5))
           for k, ts, v in rows]
    expect = {}
    for iid, lo, hi in ivs:
        hits = [(us, c) for us, c in pts if lo <= us < hi]
        if hits:
            expect[iid] = (len(hits), sum(c for _, c in hits))

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_orderdate TIMESTAMP, "
        "o_totalprice DOUBLE)"
    )
    con.executemany("INSERT INTO orders VALUES (?,?,?)",
                    [(k, ts, v) for k, ts, v in rows])
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            duck_campaign_order_stats_sql(every=every)
        ).fetchall()
    }
    assert got == expect


_text = st.one_of(
    st.none(),
    st.text(alphabet="ab \t\x0b\n", max_size=30),
)


@given(
    docs=st.lists(_text, min_size=1, max_size=15),
    chunk_len=st.integers(1, 7),
)
@settings(max_examples=150, deadline=None)
def test_chunk_pack_duck_matches_python(docs, chunk_len):
    rows = [(i * 3, t) for i, t in enumerate(docs)]  # sparse ids
    toks = {
        d: len([w for w in re.split(r"[ \t\n\x0b\f\r]+", t.strip()) if w])
        if t else 0
        for d, t in rows
    }
    expect, start = {}, 0
    for d in sorted(toks):
        n = toks[d]
        if n == 0:
            continue
        for c in range(start // chunk_len, (start + n - 1) // chunk_len + 1):
            lo, hi = max(start, c * chunk_len), min(start + n,
                                                    (c + 1) * chunk_len)
            nd, f, l, tt = expect.get(c, (0, d, d, 0))
            expect[c] = (nd + 1, min(f, d), max(l, d), tt + hi - lo)
        start += n

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", rows)
    got = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            duck_chunk_pack_sql(chunk_len=chunk_len)
        ).fetchall()
    }
    assert got == expect
    # conservation
    assert sum(v[3] for v in got.values()) == sum(toks.values())


@given(evs=st.lists(_event, min_size=1, max_size=25), w=st.integers(1, 15))
@settings(max_examples=150, deadline=None)
def test_rolling_duck_matches_python(evs, w):
    import math
    rows = [(i, u, us, cents / 100.0) for i, (u, us, cents) in enumerate(evs)]
    expect = {}
    for eid, u, us, _ in rows:
        frame = [r for r in rows if r[1] == u and us - w + 1 <= r[2] <= us]
        expect[eid] = (
            u, us, len(frame),
            sum(math.floor(v * 100 + 0.5) for *_x, v in frame),
        )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO ev VALUES (?,?,?,?)",
        [(eid, _ts(us), u, v) for eid, u, us, v in rows],
    )
    got = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            duck_rolling_sql("ev", "user_id", "ts", "event_id", "value", w)
        ).fetchall()
    }
    assert got == expect
