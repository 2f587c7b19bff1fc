"""LM bigram-perplexity scoring: cross-engine exactness + semantics.

Three-way contract (the bm25/kmeans pattern): Spark batch kernel ==
DuckDB oracle == plain-Python reference, on a corpus that includes
every shape that has burned a kernel before (non-ASCII whitespace,
\\x0b separator, null/empty/1-token text, trailing-NUL tokens, a
repetitive long doc).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from geojson_vt_rs_spark.operators.lm import (
    bigram_hist,
    duck_bigram_hist_ctes,
    duck_lm_perplexity_sql,
    lm_perplexity_topk,
    python_lm_perplexity,
)

ROWS = [
    (0, "the cat sat on the mat", "en"),
    (1, "the cat sat on the hat", "en"),
    (2, "the dog sat on the mat", "en"),
    (3, "uno dos tres cuatro cinco uno dos", "es"),
    (4, "nbsp is　not a separator here", "en"),
    (5, "vtab\x0bis\x0ba\x0bseparator", "es"),
    (6, None, "en"),
    (7, "", "es"),
    (8, "solo", "en"),
    (9, " \t\n ", "es"),
    (10, ("the cat sat " * 400).strip(), "en"),
    (11, "foo\x00 foo foo\x00bar foo", "en"),
    (12, "zzz qqq xxx vvv kkk jjj", None),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        ROWS, "doc_id long, text string, lang string"
    ).persist()


def _duck(docs):
    con = duckdb.connect()
    con.register("documents_v", docs.toPandas())
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_v")
    return con


def test_hist_batch_matches_expr(spark, docs):
    """The histogram kernel == the DuckDB twin's expression formulation
    (duck_bigram_hist_ctes) on every hostile shape of ROWS."""
    def key(r):
        return (r["doc_id"], r["lang"], r["b1"], r["b2"], r["c"])

    batch = sorted(map(key, bigram_hist(docs).collect()))
    want = sorted(
        _duck(docs).execute(
            f"WITH {duck_bigram_hist_ctes()} SELECT * FROM hist"
        ).fetchall()
    )
    assert batch == want and len(batch) > 0
    # null/empty/whitespace/1-token docs emit nothing
    assert not any(r[0] in (6, 7, 8, 9) for r in batch)


def test_topk_three_way(spark, docs):
    got_b = [tuple(r) for r in lm_perplexity_topk(docs, k=50).collect()]

    con = _duck(docs)
    want_sql = con.execute(duck_lm_perplexity_sql(k=50)).fetchall()
    assert got_b == [tuple(r) for r in want_sql]

    want_py = python_lm_perplexity(ROWS, k=50)
    assert got_b == want_py


def test_fluency_semantics(spark, docs):
    """The repetitive doc (10) reuses the corpus's most frequent
    bigrams, so it must rank strictly more fluent than the
    disjoint-vocab doc (12); scores are non-negative; partitioning
    invariance holds (integer sums)."""
    full = {
        r["doc_id"]: r["avg_nll_fp"]
        for r in lm_perplexity_topk(docs, k=50).collect()
    }
    assert full[10] < full[12]
    assert all(v >= 0 for v in full.values())
    rep = {
        r["doc_id"]: r["avg_nll_fp"]
        for r in lm_perplexity_topk(
            docs.repartition(7, "lang"), k=50
        ).collect()
    }
    assert rep == full


def test_topk_cut_order(spark, docs):
    """k smaller than the scored-doc count: the cut keeps the k lowest
    (avg_nll_fp, doc_id) — deterministic under ties."""
    all_rows = lm_perplexity_topk(docs, k=50).collect()
    top3 = lm_perplexity_topk(docs, k=3).collect()
    assert [tuple(r) for r in top3] == [tuple(r) for r in all_rows[:3]]
