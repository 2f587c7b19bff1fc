"""Property-based cross-engine fuzzing for the round-5 curation ops
(hypothesis): DuckDB oracle == plain-Python reference over hundreds of
random corpora / vector sets.  Spark == DuckDB is pinned separately on
crafted + real tables (test_search.py / test_clustering.py) — together
the triangle covers all three implementations without paying a Spark
job per hypothesis example."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_vt_rs_spark.operators.clustering import (
    duck_kmeans_sql,
    python_kmeans,
)
from geojson_vt_rs_spark.operators.search import duck_bm25_sql, python_bm25

# words over a tiny alphabet (forces df ties + tf>1), joined by the full
# ASCII whitespace class incl. \x0b/\x0c (the RE2-vs-Java divergence)
_word = st.text(alphabet="abz'\\", min_size=1, max_size=3)
_sep = st.sampled_from([" ", "\t", "\n", "\x0b", "\x0c", "\r", "  "])


@st.composite
def _doc(draw):
    n = draw(st.integers(0, 12))
    parts = [draw(_word) for _ in range(n)]
    seps = [draw(_sep) for _ in range(n)]
    return "".join(w + s for w, s in zip(parts, seps))


@given(
    docs=st.lists(st.one_of(st.none(), _doc()), min_size=1, max_size=20),
    k=st.integers(1, 8),
    q=st.integers(1, 4),
)
@settings(max_examples=120, deadline=None)
def test_bm25_duck_matches_python(docs, k, q):
    rows = list(enumerate(docs))
    if not any(t and t.strip() for t in docs):
        return  # empty corpus: operator raises driver-side by contract
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
    assert want == py


@given(
    data=st.data(),
    n=st.integers(4, 24),
    dims=st.integers(2, 6),
    k=st.integers(2, 4),
    iters=st.integers(1, 4),
)
@settings(max_examples=100, deadline=None)
def test_kmeans_duck_matches_python(data, n, dims, k, iters):
    vec = st.lists(
        st.floats(-2.0, 2.0, allow_nan=False, width=32),
        min_size=dims, max_size=dims,
    )
    rows = [
        (i, data.draw(st.one_of(st.none(), vec))) for i in range(n)
    ]
    if sum(v is not None for _, v in rows) < k:
        return  # not enough seeds: operator raises driver-side
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])"
    )
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = {
        int(c): (int(nm), int(w), int(cs))
        for c, nm, w, cs in con.execute(
            duck_kmeans_sql(n_clusters=k, iterations=iters, dims=dims)
        ).fetchall()
    }
    py = python_kmeans(
        [(i, v) for i, v in rows if v is not None], k, iters
    )
    assert want == py
