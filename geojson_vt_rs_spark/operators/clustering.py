"""Iterative k-means (Lloyd's) over embedding tables, exactly
cross-engine reproducible.

The curation use-case is SemDeDup/DSIR-adjacent *topic balancing*: cluster
the corpus embeddings, then inspect / cap / re-weight per cluster.  The
reference repo has no counterpart (this is a training-data-pipeline
extension); the iterative structure mirrors how the pyramid levels work
(driver decides, cluster computes) — see plans/pyramid.py.

Exactness contract (the whole point of this module):

* Embeddings are quantized ONCE to fixed-point BIGINT at SCALE=1e6 via
  ``floor(v * 1e6 + 0.5)`` — every later sum is INTEGER arithmetic, so
  partial aggregation order cannot change a single bit (the float
  sequential-fold invariant in CLAUDE.md does not even come into play).
* Squared L2 distances are int64 sums (values are bounded by the
  quantized input range: |q| <= ~1e6 for unit-ish embeddings ->
  d <= dims * 4e12, far inside int64).
* Centroid updates are ``floor(double(sum) / n)`` computed IN-ENGINE on
  both sides (int64 sums convert to double exactly below 2^53; the
  division + floor is one IEEE op each, bit-identical across engines).
* argmin tie-breaks on the cluster id ascending (first minimum on the
  Spark side, ``ORDER BY d, k`` window on the DuckDB side).
* Clusters that lose every member KEEP their previous centroid
  (COALESCE in the oracle, a dict fallback in the driver loop).

Scale shape (the 100-TB story):

* each Lloyd iteration is ONE job: assignment and per-batch partial
  sums are one numpy mapInPandas pass with the centroids in the kernel
  closure (no join, no shuffle on the data path, no per-iteration plan
  literals), followed by a groupBy(k, pos) aggregation of the
  K*dims-row partials.  The driver collects K*dims ints per iteration
  — bounded, independent of table size.
* lineage does NOT grow with iterations: every iteration's plan reads
  the base table with fresh literals (no chained per-iteration plans —
  the pyramid's hard-won lesson).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

SCALE = 1_000_000


def quantize_sql(vec_expr: str) -> str:
    """Spark-side fixed-point quantization of a float/double array."""
    return (
        f"transform({vec_expr}, v -> "
        f"CAST(floor(CAST(v AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))"
    )


def duck_quantize_sql(vec_expr: str) -> str:
    """DuckDB twin of quantize_sql (identical IEEE ops)."""
    return (
        f"list_transform({vec_expr}::DOUBLE[], v -> "
        f"CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))"
    )


def _iteration_partials_kernel(centroids: list[list[int]]):
    """The per-iteration assignment+partial-sum scan: one numpy pass per
    Arrow batch over the quantized vectors emitting (k, pos, sv, n, wp)
    partials.  All arithmetic is int64 (the module's fixed-point
    contract), so partial order cannot change a bit; argmin takes the
    FIRST minimum (ties to the lowest k).  The centroids live in the
    closure, NOT as plan literals (an inlined-literal expression plan
    re-analyzes and re-codegens ~512 literals per Lloyd round)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.int64)  # (K, dims)

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            Q = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["q"].to_numpy()]
            )
            diff = Q[:, None, :] - C[None, :, :]
            d = (diff * diff).sum(axis=2)  # exact int64, order-free
            k = d.argmin(axis=1)  # first min == lowest cluster id on tie
            dmin = d[np.arange(n), k]
            K, dims = C.shape
            # per-(k, pos) partial sums of v; counts and wss partials
            # ride the pos==0 lane
            sv = np.zeros((K, dims), dtype=np.int64)
            cnt = np.zeros(K, dtype=np.int64)
            wp = np.zeros(K, dtype=np.int64)
            np.add.at(sv, k, Q)
            np.add.at(cnt, k, 1)
            np.add.at(wp, k, dmin)
            live = cnt > 0
            ks = np.flatnonzero(live)
            out = pd.DataFrame(
                dict(
                    k=np.repeat(ks, dims).astype(np.int32),
                    pos=np.tile(np.arange(dims, dtype=np.int32), len(ks)),
                    sv=sv[live].reshape(-1),
                    n=np.repeat(cnt[ks], dims),
                    wp=np.where(
                        np.tile(np.arange(dims), len(ks)) == 0,
                        np.repeat(wp[ks], dims),
                        0,
                    ),
                )
            )
            yield out

    return kernel


def _iteration_agg(qdf: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """One Lloyd pass: per-(cluster, dim) integer sums -> floored
    centroid ``c``, member count ``n`` and the wss partial ``wpart``
    (nonzero only on the pos == 0 lane), all from ONE scan."""
    part = qdf.mapInPandas(
        _iteration_partials_kernel(centroids),
        schema="k int, pos int, sv long, n long, wp long",
    )
    return part.groupBy("k", "pos").agg(
        F.floor(F.sum("sv").cast("double") / F.sum("n"))
        .cast("long")
        .alias("c"),
        F.sum("n").alias("n"),
        F.sum("wp").alias("wpart"),
    )


def quantized(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.expr(quantize_sql(vec_col)).alias("q")
    )


def seed_centroids(
    emb: DataFrame, n_clusters: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Deterministic init: the quantized vectors of the n_clusters
    smallest ids (orderBy().limit -> TakeOrderedAndProject, never a
    global sort).  ``id_col`` must be UNIQUE — duplicate ids make the
    seed pick (and the oracle's row_number tie) engine-dependent."""
    rows = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(id_col, F.expr(quantize_sql(vec_col)).alias("q"))
        .orderBy(F.col(id_col).asc())
        .limit(n_clusters)
        .collect()
    )
    return [[int(v) for v in r["q"]] for r in rows]


def kmeans_cluster_stats(
    emb: DataFrame,
    n_clusters: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means for a fixed iteration count; returns per-cluster
    (cluster, n_members, wss, centroid_checksum) of the FINAL assignment
    — all BIGINT, bit-exact vs duck_kmeans_sql.

    ``centroid_checksum`` is the sum over dims of the floored would-be
    next centroid — it pins the full update arithmetic, not just the
    partition of points.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    cents = seed_centroids(emb, n_clusters, id_col, vec_col)
    if len(cents) < n_clusters:
        raise ValueError(
            f"need >= {n_clusters} non-null rows to seed, got {len(cents)}"
        )
    qdf = quantized(emb, vec_col)
    # iterations 1..N-1 update centroids driver-side (K*dims ints/round)
    for _ in range(iterations - 1):
        per = _iteration_agg(qdf, cents).collect()
        upd: dict[int, dict[int, int]] = {}
        for r in per:
            upd.setdefault(int(r["k"]), {})[int(r["pos"])] = int(r["c"])
        cents = [
            [upd[k][i] for i in range(len(cents[k]))] if k in upd
            else cents[k]  # empty cluster keeps its centroid
            for k in range(n_clusters)
        ]
    # final pass: same one-scan agg, finished per-cluster JVM-side
    per = _iteration_agg(qdf, cents)
    return (
        per.groupBy("k")
        .agg(
            F.max("n").alias("n_members"),
            F.sum("wpart").alias("wss"),
            F.sum("c").alias("centroid_checksum"),
        )
        .select(
            F.col("k").cast("int").alias("cluster"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("wss").cast("long").alias("wss"),
            F.col("centroid_checksum").cast("long").alias("centroid_checksum"),
        )
    )


def duck_kmeans_sql(
    n_clusters: int = 8,
    iterations: int = 3,
    dims: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of kmeans_cluster_stats: the iteration loop unrolls
    into chained CTEs (d{i} distances -> a{i} argmin window -> u{i}
    update -> c{i} COALESCE with the previous round for empty clusters).
    Integer sums wear CAST(.. AS BIGINT) (HUGEINT flips the value hash)
    and every list index is 1-based."""
    q = duck_quantize_sql(vec_col)
    dist = (
        "CAST(list_sum(list_transform(list_zip(t.q, c.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )

    def cent_list() -> str:
        terms = ", ".join(
            f"CAST(floor(CAST(CAST(sum(q[{i + 1}]) AS BIGINT) AS DOUBLE) "
            f"/ count(*)) AS BIGINT)"
            for i in range(dims)
        )
        return f"[{terms}]"

    ctes = [
        f"qt AS (SELECT {id_col}, {q} AS q FROM {table} "
        f"WHERE {vec_col} IS NOT NULL)",
        "c0 AS (SELECT row_number() OVER (ORDER BY s0.{id} ASC) - 1 AS k, "
        "s0.q AS c FROM (SELECT {id}, q FROM qt ORDER BY {id} ASC "
        "LIMIT {K}) s0)".format(id=id_col, K=n_clusters),
    ]
    prev = "c0"
    for i in range(1, iterations):
        ctes.append(
            f"d{i} AS (SELECT t.{id_col}, t.q, c.k, {dist} AS d "
            f"FROM qt t CROSS JOIN {prev} c)"
        )
        ctes.append(
            f"a{i} AS (SELECT {id_col}, q, k FROM (SELECT *, row_number() "
            f"OVER (PARTITION BY {id_col} ORDER BY d ASC, k ASC) AS rn "
            f"FROM d{i}) s WHERE rn = 1)"
        )
        ctes.append(
            f"u{i} AS (SELECT k, {cent_list()} AS c "
            f"FROM a{i} GROUP BY k)"
        )
        ctes.append(
            f"c{i} AS (SELECT p.k, COALESCE(u.c, p.c) AS c "
            f"FROM {prev} p LEFT JOIN u{i} u ON p.k = u.k)"
        )
        prev = f"c{i}"
    n = iterations
    ctes.append(
        f"d{n} AS (SELECT t.{id_col}, t.q, c.k, {dist} AS d "
        f"FROM qt t CROSS JOIN {prev} c)"
    )
    ctes.append(
        f"a{n} AS (SELECT {id_col}, q, k, d FROM (SELECT *, row_number() "
        f"OVER (PARTITION BY {id_col} ORDER BY d ASC, k ASC) AS rn "
        f"FROM d{n}) s WHERE rn = 1)"
    )
    checksum = " + ".join(
        f"CAST(floor(CAST(CAST(sum(q[{i + 1}]) AS BIGINT) AS DOUBLE) "
        f"/ count(*)) AS BIGINT)"
        for i in range(dims)
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT CAST(k AS INT) AS cluster, count(*) AS n_members, "
        f"CAST(sum(d) AS BIGINT) AS wss, ({checksum}) AS centroid_checksum "
        f"FROM a{n} GROUP BY k"
    )


def python_kmeans(
    rows: list[tuple[int, list[float]]],
    n_clusters: int,
    iterations: int,
) -> dict[int, tuple[int, int, int]]:
    """Plain-Python reference (independent of BOTH engines) for tests:
    {cluster: (n_members, wss, centroid_checksum)}."""
    qs = [
        (i, [math.floor(float(v) * 1_000_000.0 + 0.5) for v in vec])
        for i, vec in rows if vec is not None
    ]
    seeds = sorted(qs)[:n_clusters]
    cents = [list(q) for _, q in seeds]

    def assign(q):
        best = None
        for k, c in enumerate(cents):
            d = sum((a - b) * (a - b) for a, b in zip(q, c))
            if best is None or (d, k) < best:
                best = (d, k)
        return best

    for _ in range(iterations - 1):
        members: dict[int, list[list[int]]] = {}
        for _, q in qs:
            _, k = assign(q)
            members.setdefault(k, []).append(q)
        for k, ms in members.items():
            n = len(ms)
            cents[k] = [
                math.floor(float(sum(col)) / n) for col in zip(*ms)
            ]
    out: dict[int, list] = {}
    for _, q in qs:
        d, k = assign(q)
        out.setdefault(k, []).append((d, q))
    res = {}
    for k, ms in out.items():
        n = len(ms)
        wss = sum(d for d, _ in ms)
        cs = sum(
            math.floor(float(sum(col)) / n)
            for col in zip(*[q for _, q in ms])
        )
        res[k] = (n, wss, cs)
    return res
