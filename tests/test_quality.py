"""Repetition-metric invariants (operators/quality.py): Spark counts
match a naive Python twin and the DuckDB exprs on edge corpora."""

import re
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.quality import (
    duck_repetition_exprs,
    with_repetition,
)

ROWS = [
    (0, "a b a b a b"),           # heavy bigram repetition
    (1, "all distinct words here"),
    (2, "one"),                   # single token: no bigrams
    (3, None),
    (4, ""),
    (5, "x x x x x x x x"),
    (6, "  pad \t mid  pad mid pad  "),
]


def _naive(text):
    if text is None:
        return (None, None, None)
    ws = [w for w in re.split(r"[ \t\n\x0b\f\r]+", text.strip()) if w]
    bigrams = [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
    return (
        len(ws),
        len(set(ws)),
        sum(c - 1 for c in Counter(bigrams).values()),
    )


def test_repetition_matches_naive_and_duckdb(spark):
    df = spark.createDataFrame(ROWS, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_distinct_tokens"],
            r["n_dup_bigrams"],
        )
        for r in with_repetition(df).collect()
    }
    for doc_id, text in ROWS:
        assert got[doc_id] == _naive(text), (doc_id, got[doc_id])
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", ROWS)
    e = duck_repetition_exprs()
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"SELECT doc_id, {e['n_tokens']}, {e['n_distinct_tokens']}, "
            f"{e['n_dup_bigrams']} FROM t"
        ).fetchall()
    }
    assert got == want
    assert got[0] == (6, 2, 3) and got[5] == (8, 1, 6)
