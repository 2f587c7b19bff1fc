"""BM25 exactness (operators/search.py): Spark == DuckDB oracle ==
plain-Python on the real table AND on crafted corpora exercising the
edge paths — ASCII-only whitespace class (vertical tab), null text rows,
score ties at the top-k cut, and partitioning invariance (the per-doc
score is an integer sum, so row placement cannot move a result)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.search import (
    bm25_topk,
    duck_bm25_sql,
    python_bm25,
)

SF_DIR = "/root/testdata/sf0.001"


def _all_three(spark, rows, k=20, q=3, parts=None):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    if parts:
        docs = docs.repartition(parts)
    got = [
        (r["doc_id"], r["score_fp"], r["n_terms"])
        for r in bm25_topk(docs, k=k, n_query_terms=q).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = [
        (int(a), int(b), int(c))
        for a, b, c in con.execute(
            duck_bm25_sql(k=k, n_query_terms=q)
        ).fetchall()
    ]
    py = python_bm25(rows, k=k, n_query_terms=q)
    return got, want, py


def test_bm25_real_table_three_way(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = [
        (r["doc_id"], r["score_fp"], r["n_terms"])
        for r in bm25_topk(docs).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = [
        (int(a), int(b), int(c))
        for a, b, c in con.execute(duck_bm25_sql()).fetchall()
    ]
    rows = [(int(r["doc_id"]), r["text"]) for r in docs.collect()]
    py = python_bm25(rows)
    assert got == want == py
    assert len(got) == 20
    # ranked: scores non-increasing, ties broken by doc_id ascending
    for a, b in zip(got, got[1:]):
        assert (-a[1], a[0]) < (-b[1], b[0])


def test_bm25_whitespace_class_and_nulls(spark):
    # '\x0b' IS a separator for the pinned ASCII class (Java \s), and
    # would NOT be under RE2's \s — the corpus forces the distinction;
    # null text rows must vanish from N, T and the ranking
    rows = [
        (0, "apple\x0bapple banana"),
        (1, "apple\tbanana\nbanana"),
        (2, "apple banana cherry cherry"),
        (3, "cherry\x0ccherry\rcherry"),
        (4, None),
        (5, "banana"),
    ]
    got, want, py = _all_three(spark, rows, k=10, q=2)
    assert got == want == py
    assert all(i != 4 for i, _, _ in got)


def test_bm25_quote_and_backslash_tokens(spark):
    # corpus tokens containing SQL/string metacharacters must flow
    # through the Column API untouched (term literals are never
    # interpolated into expression text)
    rows = [
        (0, "don't don't o'brien"),
        (1, "don't back\\slash"),
        (2, "back\\slash back\\slash don't"),
        (3, "plain words here"),
    ]
    got, want, py = _all_three(spark, rows, k=4, q=2)
    assert got == want == py
    assert len(got) == 3  # doc 3 shares no top-2 term


def test_bm25_tie_cut_and_partitioning(spark):
    # 6 identical docs tie exactly; with k=4 the cut keeps the 4 lowest
    # doc_ids — both engines must agree on the boundary
    rows = [(i, "zzz zzz common") for i in range(6)] + [
        (10 + i, f"common w{i}") for i in range(8)
    ]
    got, want, py = _all_three(spark, rows, k=4, q=2)
    assert got == want == py
    assert [i for i, _, _ in got] == [0, 1, 2, 3]
    got7, want7, _ = _all_three(spark, rows, k=4, q=2, parts=7)
    assert got7 == got and want7 == want
