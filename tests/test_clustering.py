"""k-means exactness (operators/clustering.py): Spark == DuckDB oracle ==
plain-Python Lloyd's on the real table AND on crafted corpora that force
the edge paths — duplicate seeds leaving a cluster permanently empty
(COALESCE lane), null embedding rows, argmin ties, and partitioning
invariance (integer sums must not care how rows are placed)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.clustering import (
    duck_kmeans_sql,
    kmeans_cluster_stats,
    python_kmeans,
)
SF_DIR = "/root/testdata/sf0.001"


def _run_all_three(spark, rows, n_clusters, iterations, dims, parts=None):
    """rows: list[(vec_id, embedding-or-None)] -> three result dicts."""
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    if parts:
        emb = emb.repartition(parts)
    got = {
        r["cluster"]: (r["n_members"], r["wss"], r["centroid_checksum"])
        for r in kmeans_cluster_stats(
            emb, n_clusters=n_clusters, iterations=iterations
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])"
    )
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", [(i, v) for i, v in rows]
    )
    oracle = {
        int(k): (int(n), int(w), int(c))
        for k, n, w, c in con.execute(
            duck_kmeans_sql(
                n_clusters=n_clusters, iterations=iterations, dims=dims
            )
        ).fetchall()
    }
    py = python_kmeans(
        [(i, v) for i, v in rows if v is not None], n_clusters, iterations
    )
    return got, oracle, py


def test_kmeans_real_table_three_way(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {
        r["cluster"]: (r["n_members"], r["wss"], r["centroid_checksum"])
        for r in kmeans_cluster_stats(emb).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    oracle = {
        int(k): (int(n), int(w), int(c))
        for k, n, w, c in con.execute(duck_kmeans_sql()).fetchall()
    }
    rows = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.collect()
    ]
    py = python_kmeans(rows, 8, 3)
    assert got == oracle == py
    assert sum(n for n, _, _ in got.values()) == 500


def test_kmeans_batch_matches_expr(spark):
    """The numpy per-round kernel must equal the DuckDB twin's unrolled
    expression formulation exactly (same centroids every round => same
    final stats) on the 10x larger sf0.01 table, with more clusters and
    rounds than the kmeans_clusters query, over a repartitioned input."""
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").repartition(5)
    got = {
        r["cluster"]: (r["n_members"], r["wss"], r["centroid_checksum"])
        for r in kmeans_cluster_stats(
            emb, n_clusters=12, iterations=4
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    want = {
        int(k): (int(n), int(w), int(c))
        for k, n, w, c in con.execute(
            duck_kmeans_sql(n_clusters=12, iterations=4)
        ).fetchall()
    }
    assert got == want and len(got) > 1


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # seeds are ids 0,1,2; id1 duplicates id0's vector, so every point at
    # equal distance tie-breaks to k=0 and cluster 1 NEVER gains a member
    # -> the COALESCE / previous-centroid lane runs on every iteration
    dup = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, dup),
        (1, list(dup)),
        (2, [-1.0, 0.0, 0.0, 0.0]),
        (3, [0.9, 0.1, 0.0, 0.0]),
        (4, [-0.9, -0.1, 0.0, 0.0]),
        (5, [0.8, 0.0, 0.2, 0.0]),
        (6, [-0.8, 0.0, -0.2, 0.0]),
    ]
    got, oracle, py = _run_all_three(spark, rows, 3, 4, 4)
    assert got == oracle == py
    # round 1: everything ties to k=0, cluster 1 is EMPTY and must keep
    # its seed centroid [1,0,0,0] (COALESCE lane); cluster 0's centroid
    # then moves toward its members' mean, so rounds 2+ hand the two
    # exact-[1,0,0,0] points BACK to cluster 1 at distance 0
    assert got[1] == (2, 0, 1_000_000)
    assert sum(n for n, _, _ in got.values()) == len(rows)

    # permanently-empty variant: both [1,0] points sit EXACTLY on the
    # shared seed, so cluster 0's centroid never moves and the k-asc
    # tie-break starves cluster 1 through every round — it must emit NO
    # output row in all three engines
    rows2 = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [-1.0, 0.0])]
    got2, oracle2, py2 = _run_all_three(spark, rows2, 3, 3, 2)
    assert got2 == oracle2 == py2
    assert 1 not in got2 and set(got2) == {0, 2}


def test_kmeans_null_rows_and_partitioning_invariance(spark):
    rows = [
        (i, [((i * 7 + j * 3) % 11 - 5) / 7.0 for j in range(6)])
        for i in range(40)
    ] + [(100, None), (101, None)]
    got, oracle, py = _run_all_three(spark, rows, 4, 3, 6)
    assert got == oracle == py
    assert sum(n for n, _, _ in got.values()) == 40  # nulls dropped
    got7, _, _ = _run_all_three(spark, rows, 4, 3, 6, parts=7)
    assert got7 == got
