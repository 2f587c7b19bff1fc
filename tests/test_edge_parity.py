"""Off-happy-path cross-engine parity for the round-5 curation ops.

The driver testdata is null-free, so the oracle gate never exercises
null text / empty text / null lang / null embeddings.  These tests run
the SAME Spark-vs-DuckDB comparison on a crafted corpus WITH those
shapes, so an engine-dependent null path can't hide behind a clean
corpus (the round-4 advisory pattern: the batch tokenizer diverged only
on documents the parity corpus didn't contain).
"""

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


DOCS_ROWS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta iota", "en"),
    (1, None, "en"),            # null text: no tokens, no grams
    (2, "", "es"),              # empty text
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "es"),
    (4, "nbsp separated words only four", "en"),  # non-ASCII ws
    (5, "short", None),         # null lang: target predicate is false
    # vertical tab: Java \s splits it, RE2's '\s' does NOT — the
    # shared _duck_words() helper pins the explicit ASCII class on the
    # DuckDB side so both engines tokenize this doc identically
    (6, "vt\x0bsplit words here must count like the rest too", "en"),
]

EMB_ROWS = [
    (0, [1.0] * 8),
    (1, [1.0] * 8),             # exact dup of vec 0
    (2, None),                  # null embedding: must not crash or pair
    (3, [0.5] * 8),             # scaled dup (cos 1.0 with 0 and 1)
    (4, [-1.0] * 8),            # antipode (cos -1.0)
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def edge_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("edge")
    docs = spark.createDataFrame(
        DOCS_ROWS, "doc_id long, text string, lang string"
    )
    docs.write.mode("overwrite").parquet(str(base / "docs"))
    emb = spark.createDataFrame(
        EMB_ROWS, "vec_id long, embedding array<double>"
    )
    emb.write.mode("overwrite").parquet(str(base / "emb"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{base}/docs/*.parquet'"
    )
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{base}/emb/*.parquet'"
    )
    return base, con


def _compare(spark_df, con, sql, min_rows):
    g, w = _canon(spark_df.toPandas()), _canon(con.sql(sql).df())
    assert g.shape == w.shape and len(g) >= min_rows, (g.shape, w.shape)
    pd.testing.assert_frame_equal(g.astype(w.dtypes.to_dict()), w)


def test_importance_topk_edge_parity(spark, edge_tables):
    from geojson_vt_rs_spark.operators.importance import (
        duck_importance_topk_sql,
        importance_topk,
    )

    base, con = edge_tables
    docs = spark.read.parquet(str(base / "docs"))
    _compare(
        importance_topk(docs, k=10), con, duck_importance_topk_sql(k=10), 4
    )


def test_dup_spans_edge_parity(spark, edge_tables):
    from geojson_vt_rs_spark.operators.decontam import (
        duck_dup_span_sql,
        dup_span_stats,
    )

    base, con = edge_tables
    docs = spark.read.parquet(str(base / "docs"))
    _compare(dup_span_stats(docs, k=8), con, duck_dup_span_sql(k=8), 2)


def test_semantic_dedup_edge_parity(spark, edge_tables):
    from geojson_vt_rs_spark.operators.ann import (
        duck_semantic_dedup_sql,
        semantic_dedup,
    )

    base, con = edge_tables
    emb = spark.read.parquet(str(base / "emb"))
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(
            "vec_id < 2 AND embedding IS NOT NULL"
        ).collect()
    )
    got = semantic_dedup(emb, cents, threshold=0.3)
    _compare(
        got, con, duck_semantic_dedup_sql(n_centroids=2, threshold=0.3), 2
    )
    # the null-embedding row must never appear in a pair on either side
    assert not any(r["vec_id"] == 2 for r in got.collect())
