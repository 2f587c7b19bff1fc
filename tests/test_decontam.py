"""Decontamination invariants (operators/decontam.py): n-gram expr
exactness vs a naive Python twin (incl. null/short/messy-whitespace
docs), anti-join completeness, and broadcast-vs-shuffle equivalence."""

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geojson_vt_rs_spark.operators.decontam import (
    EVAL_CUT,
    _spark_ngrams,
    contaminated_doc_ids,
    decontaminate,
)
from geojson_vt_rs_spark.operators.sampling import hash_bucket

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _naive_ngrams(text, n=5):
    if text is None:
        return None
    # ASCII-\s only, matching Java/RE2 semantics (Python \s is Unicode)
    ws = [w for w in re.split(r"[ \t\n\x0b\f\r]+", text.strip()) if w]
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]


def test_ngram_expr_matches_naive(spark):
    rows = [
        (0, "a b c d e f g"),
        (1, "one two three four five"),  # exactly n
        (2, "too short here"),  # < n words
        (3, None),
        (4, "  x\t y  z w v u  "),  # messy ASCII whitespace
        (5, ""),
        (6, "nb sp one two three four five six"),  # U+00A0 is NOT
        # a token break (Java/RE2 ASCII \s semantics, CLAUDE.md)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", F.expr(_spark_ngrams(5)).alias("g")
        ).collect()
    }
    for doc_id, text in rows:
        assert got[doc_id] == _naive_ngrams(text), (doc_id, got[doc_id])
    assert got[6][0] == "nb sp one two three four"


def test_decontaminate_removes_exactly_the_flagged(spark):
    docs = _docs(spark).select("doc_id", "text")
    bad = {r["doc_id"] for r in contaminated_doc_ids(docs).collect()}
    assert bad  # corpus near-dups guarantee non-empty at EVAL_CUT=1000
    train = {
        r["doc_id"]
        for r in docs.filter(
            hash_bucket(F.col("doc_id"), "decon-v1") >= EVAL_CUT
        ).collect()
    }
    assert bad < train  # flagged ids are train ids, and not all of them
    clean = {r["doc_id"] for r in decontaminate(docs).collect()}
    assert clean == train - bad


def test_broadcast_and_shuffle_semi_join_agree(spark):
    docs = _docs(spark).select("doc_id", "text")
    a = sorted(
        r["doc_id"]
        for r in contaminated_doc_ids(docs, broadcast_eval=True).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in contaminated_doc_ids(docs, broadcast_eval=False).collect()
    )
    assert a == b and a


def test_dup_span_stats_planted(spark):
    """Planted shared 8-token span across two docs flags exactly the
    overlapping gram positions; a self-repeating doc and unique docs
    score 0; <k-word docs produce no row; permille is the exact
    integer ratio."""
    from geojson_vt_rs_spark.operators.decontam import dup_span_stats

    span = "a b c d e f g h"            # 8 tokens -> exactly 1 gram
    rows = [
        (0, span + " x1 y1 z1"),        # grams: 4; 1 shared with doc 1
        (1, "p q " + span),             # grams: 3; 1 shared with doc 0
        (2, span.replace("a", "q0")),   # unique 8-token doc: 1 gram, 0 dup
        (3, " ".join(["r"] * 20)),      # self-repeats only: not cross-doc
        (4, "one two three"),           # < k words: no grams, no row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        int(r["doc_id"]): (r["n_grams"], r["n_dup_grams"], r["dup_permille"])
        for r in dup_span_stats(docs, k=8).collect()
    }
    assert got == {
        0: (4, 1, 250),
        1: (3, 1, 333),
        2: (1, 0, 0),
        3: (13, 0, 0),
    }
