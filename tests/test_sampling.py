"""Curation operator invariants (operators/sampling.py): split totality
and determinism, stratified-sample containment, and quota_cap exactness
(salted two-phase rank == plain single-window top-k)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from geojson_vt_rs_spark.operators.sampling import (
    N_BUCKETS,
    assign_split,
    hash_bucket,
    quota_cap,
    split_thresholds,
    stratified_sample,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_split_total_and_deterministic(spark):
    docs = _docs(spark)
    n = docs.count()
    d = assign_split(docs)
    # total: every row gets exactly one split, no nulls
    per = {
        r["split"]: r["count"] for r in d.groupBy("split").count().collect()
    }
    assert sum(per.values()) == n and None not in per
    assert set(per) <= {"train", "val", "test"}
    # ~90/5/5 within hash noise
    assert abs(per["train"] / n - 0.9) < 0.05
    # deterministic: re-running and re-partitioning yields identical rows
    a = sorted(d.select("doc_id", "split").collect())
    b = sorted(
        assign_split(docs.repartition(7)).select("doc_id", "split").collect()
    )
    assert a == b


def test_split_thresholds_absorb_rounding():
    ts = split_thresholds((("a", 0.333), ("b", 0.333), ("c", 0.334)))
    assert ts[-1][1] == N_BUCKETS


def test_stratified_sample_containment(spark):
    docs = _docs(spark)
    kept = stratified_sample(docs, "lang", {"en": 0.3})
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    all_rows = docs.select("doc_id", "lang").collect()
    # non-en strata untouched; en subset is a deterministic bucket cut
    non_en = {r["doc_id"] for r in all_rows if r["lang"] != "en"}
    assert non_en <= kept_ids
    en_total = sum(1 for r in all_rows if r["lang"] == "en")
    en_kept = len(kept_ids) - len(non_en)
    assert 0 < en_kept < en_total
    assert abs(en_kept / en_total - 0.3) < 0.1
    # subset property: a lower rate keeps a subset of a higher rate
    kept_lo = {
        r["doc_id"]
        for r in stratified_sample(docs, "lang", {"en": 0.1})
        .select("doc_id")
        .collect()
    }
    assert kept_lo <= kept_ids


def test_quota_cap_exact_vs_plain_window(spark):
    docs = _docs(spark).select(
        "doc_id", "source", F.length("text").alias("n")
    )
    order = [F.col("n").desc(), F.col("doc_id").asc()]
    got = quota_cap(docs, ["source"], order, k=7, n_salts=4)
    w = Window.partitionBy("source").orderBy(*order)
    want = (
        docs.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= 7)
    )
    a = sorted(got.select("doc_id", "source", "_rank").collect())
    b = sorted(want.select("doc_id", "source", "_rank").collect())
    assert a == b and len(a) > 0


def test_quota_cap_exact_under_skew(spark):
    # one giant group + singleton groups; k smaller and larger than groups
    rows = [(i, "big", i % 13) for i in range(500)] + [
        (1000 + i, f"s{i}", i) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    order = [F.col("n").desc(), F.col("doc_id").asc()]
    for k in (3, 10):
        got = sorted(
            quota_cap(df, ["source"], order, k=k, n_salts=8)
            .select("doc_id", "source")
            .collect()
        )
        w = Window.partitionBy("source").orderBy(*order)
        want = sorted(
            df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k)
            .select("doc_id", "source")
            .collect()
        )
        assert got == want


def test_pack_to_budget_exact_vs_single_window(spark):
    from geojson_vt_rs_spark.operators.sampling import (
        hash_bucket,
        pack_to_budget,
    )

    docs = _docs(spark).select(
        "doc_id", "lang", F.length("text").alias("n")
    )
    got = sorted(
        pack_to_budget(docs, "lang", "n", budget=30_000)
        .select("doc_id", "lang")
        .collect()
    )
    b = hash_bucket(F.col("doc_id"), "pack-v1")
    w = (
        Window.partitionBy("lang")
        .orderBy(b, "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = sorted(
        docs.withColumn("_cum", F.sum("n").over(w))
        .filter(F.col("_cum") <= 30_000)
        .select("doc_id", "lang")
        .collect()
    )
    assert got == want and 0 < len(got) < docs.count()


def test_pack_to_budget_boundary(spark):
    # budget smaller than any single doc -> empty; huge budget -> all rows
    from geojson_vt_rs_spark.operators.sampling import pack_to_budget

    docs = _docs(spark).select(
        "doc_id", "lang", F.length("text").alias("n")
    )
    assert pack_to_budget(docs, "lang", "n", budget=0).count() == 0
    assert (
        pack_to_budget(docs, "lang", "n", budget=1 << 40).count()
        == docs.count()
    )


def test_hash_bucket_range(spark):
    docs = _docs(spark)
    r = docs.select(
        F.min(hash_bucket(F.col("doc_id"), "s")).alias("lo"),
        F.max(hash_bucket(F.col("doc_id"), "s")).alias("hi"),
    ).collect()[0]
    assert 0 <= r["lo"] and r["hi"] < N_BUCKETS


def test_importance_topk_prefers_target_vocab(spark):
    """On a corpus where target docs use a disjoint vocabulary, every
    top-k row is a target doc with avg_w > SCALE (ratio > 1), every
    off-target doc scores below SCALE, and the result is invariant to
    input partitioning (integer sums are shuffle-order-free)."""
    from geojson_vt_rs_spark.operators.importance import (
        SCALE,
        V_BUCKETS,
        bucket_weights,
        doc_bucket_hist,
        importance_topk,
    )

    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "alpha beta gamma delta epsilon", "en"))
        else:
            rows.append((i, "uno dos tres cuatro cinco", "es"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    top = importance_topk(docs, target_pred="lang = 'en'", k=10).collect()
    assert len(top) == 10
    assert all(r["lang"] == "en" and r["avg_w"] > SCALE for r in top)
    # the 10 lowest doc_ids among en docs (all en docs tie on avg_w)
    assert [r["doc_id"] for r in top] == [2 * j for j in range(10)]

    full = importance_topk(docs, target_pred="lang = 'en'", k=40)
    scores = {r["doc_id"]: r["avg_w"] for r in full.collect()}
    assert all(scores[i] < SCALE for i in range(1, 40, 2))

    # weight table is bounded by the vocab hash range
    wt = bucket_weights(doc_bucket_hist(docs, "lang = 'en'"))
    assert wt.count() <= V_BUCKETS

    # partitioning invariance
    top_r = importance_topk(
        docs.repartition(13, "lang"), target_pred="lang = 'en'", k=40
    ).collect()
    assert {r["doc_id"]: r["avg_w"] for r in top_r} == scores


def test_importance_hist_batch_matches_expr(spark):
    """The mapInPandas histogram kernel is byte-identical to the DuckDB
    twin's unnest+GROUP BY expression formulation (and the top-k to the
    oracle) on every shape that has burned a batch kernel before:
    non-ASCII whitespace (NBSP/ideographic space are TOKEN chars, \\x0b
    IS a separator), null/empty/whitespace-only text (no rows emitted),
    trailing-NUL tokens (the np.unique sentinel), and a highly
    repetitive doc (the distinct-token gather)."""
    import duckdb

    from geojson_vt_rs_spark.operators.importance import (
        doc_bucket_hist,
        duck_importance_topk_sql,
        duck_token_bucket_ctes,
        importance_topk,
    )

    rows = [
        (0, "plain ascii tokens here", "en"),
        (1, "nbsp stays one　token", "en"),
        (2, "vtab\x0bsplits\x0btokens", "es"),
        (3, None, "en"),
        (4, "", "es"),
        (5, " \t\n ", "en"),
        (6, ("lorem ipsum " * 500).strip(), "es"),
        (7, "foo\x00 foo foo\x00bar", "en"),
        (8, "uno dos tres uno uno dos", "es"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pred = "lang = 'en'"

    def key(r):
        return (r["doc_id"], r["lang"], r["t"], r["b"], r["c"])

    batch = sorted(map(key, doc_bucket_hist(docs, pred).collect()))
    con = duckdb.connect()
    con.register("documents_v", docs.toPandas())
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_v")
    want = sorted(
        con.execute(
            f"WITH {duck_token_bucket_ctes(pred)} SELECT doc_id, lang, t, "
            "b, CAST(count(*) AS BIGINT) FROM tk GROUP BY ALL"
        ).fetchall()
    )
    assert batch == want and len(batch) > 0
    # docs 3/4/5 emit no histogram rows
    assert not any(r[0] in (3, 4, 5) for r in batch)

    t_b = importance_topk(docs, pred, k=9).collect()
    t_o = con.execute(duck_importance_topk_sql(pred, k=9)).fetchall()
    assert [tuple(r) for r in t_b] == [tuple(r) for r in t_o]


def test_pack_to_budget_keeps_null_group(spark):
    """NULL-group rows form a real group (null-safe offset join), exactly
    matching the oracle's PARTITION BY semantics and the single-window
    reference."""
    import duckdb

    from geojson_vt_rs_spark.operators.sampling import (
        duck_pack_pred,
        pack_to_budget,
    )

    rows = [
        (i, None if i % 3 == 0 else f"l{i % 2}", 100 + i) for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n long")
    got = sorted(
        r["doc_id"]
        for r in pack_to_budget(docs, "lang", "n", budget=800).collect()
    )
    assert any(i % 3 == 0 for i in got), "null-lang rows must survive"

    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    pred = duck_pack_pred("lang", "n", 800)
    want = sorted(
        r[0]
        for r in con.sql(
            f"SELECT doc_id FROM (SELECT doc_id, {pred} AS c FROM docs) "
            "WHERE c <= 800"
        ).fetchall()
    )
    assert got == want
