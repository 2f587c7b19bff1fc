"""topk_ngrams cross-engine parity: edge corpus (ties at the cut,
null/empty/short text, vertical-tab whitespace) and the sf0.001
documents table."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.ngram_stats import (
    duck_topk_ngrams_sql,
    topk_ngrams,
)

ROWS = [
    (0, "a b c a b c a b c"),      # 'a b c' x3 (wrapping grams too)
    (1, "x y z x y z"),
    (2, None),
    (3, ""),
    (4, "one two"),                # shorter than n=3: no grams
    (5, "p\x0bq r s"),             # \x0b IS a token split (Java \s)
    (6, "tie one two"),            # singleton grams tie at the cut
    (7, "tie two one"),
]


def _compare(spark, rows, n, k):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["gram"], r["cnt"]) for r in topk_ngrams(df, n=n, k=k).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?,?)", rows)
    want = con.execute(duck_topk_ngrams_sql(n=n, k=k)).fetchall()
    assert got == [tuple(w) for w in want]
    return got


def test_topk_ngrams_edge_corpus(spark):
    got = _compare(spark, ROWS, n=3, k=5)  # k cuts INTO the ties
    assert got[0] == ("a b c", 3)
    grams = [g for g, _ in got]
    assert grams == sorted(grams, key=lambda g: (-dict(got)[g], g))


def test_topk_ngrams_vertical_tab_and_short(spark):
    got = dict(_compare(spark, ROWS, n=2, k=50))
    assert "p q" in got          # \x0b split both engines
    assert got.get("one two") == 2  # doc 4's only bigram + doc 6's


def test_topk_ngrams_sf(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = [
        (r["gram"], r["cnt"]) for r in topk_ngrams(docs, n=3, k=100).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = [tuple(w) for w in con.execute(duck_topk_ngrams_sql()).fetchall()]
    assert got == want and len(got) == 100
