"""Approximate nearest neighbor over embedding columns.

Two tiers (build brief: "brute-force cosine top-k as the baseline; an
IVF or LSH-bucketed variant as the scale path"):

* exact_topk       — brute force against a broadcast query vector
                     (operators/text_dedup.ann_topk has the oracle twin).
* lsh_topk         — random-hyperplane LSH: b sign bits per vector form a
                     bucket id; candidates come from the query's bucket
                     plus all buckets at hamming distance <= probe_radius
                     (multi-probe), then exact cosine rescoring.  Shrinks
                     the scan from O(n) to O(n / 2^b * probes) at
                     measured recall (tests/test_ann.py).

Hyperplanes are a pure function of (seed, dim) -> identical on every
executor, no fitting step, resumable.  Bucket, cell and code assignment
run in numpy mapInPandas kernels that keep the scalar left-fold order
of every dot (loop over dims, vectorize over rows); rescoring and
ranking are JVM expressions.  Each pipeline has a DuckDB twin
(duck_*_sql) that computes byte-identical results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dim, bits))


def ranked_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Distributed top-k with deterministic rank and NO window operator.

    orderBy().limit(k) compiles to TakeOrderedAndProject — each partition
    keeps its local top k, the driver merges — so NO global shuffle of the
    scored table into one partition (the round-1 Window.orderBy scale bug:
    an unpartitioned WindowExec pulls the whole scored table into a single
    task).  Rank is then derived JVM-side over only the k surviving rows:
    sort_array over (−cos, id) structs == (cos desc, id asc), posexplode
    position + 1 == row_number.  No WindowExec in the plan at all.
    """
    order = [F.col("cos").desc(), F.col(id_col).asc()]
    top = scored.orderBy(*order).limit(k)
    arr = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("cos")).alias("neg_cos"),
                    F.col(id_col).alias("id"),
                    F.col("cos").alias("cos"),
                )
            )
        ).alias("arr")
    )
    return arr.select(F.posexplode("arr").alias("pos", "r")).select(
        F.col("r.id").alias(id_col),
        (F.col("pos") + 1).alias("rnk"),
        F.col("r.cos").alias("cos"),
    )


def cosine_topk(
    cand: DataFrame, query_vec: list, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Exact round-6 cosine of every candidate row against the query,
    ranked by ranked_topk.  The dots and norms are sequential left folds
    (zip_with/aggregate; the query norm the same fold driver-side), the
    ops DuckDB's list_sum performs, so scores match the oracles exactly."""
    acc = 0.0
    for v in query_vec:
        acc += float(v) * float(v)
    qn = acc ** 0.5
    d = cand.select(
        id_col,
        F.expr(f"transform({vec_col}, v -> cast(v as double))").alias("emb"),
    ).withColumn("q", F.array(*[F.lit(float(v)) for v in query_vec]))
    dot = F.expr(
        "aggregate(zip_with(emb, q, (a, b) -> a * b), 0D, (acc, v) -> acc + v)"
    )
    nrm = F.expr(
        "sqrt(aggregate(transform(emb, a -> a * a), 0D, (acc, v) -> acc + v))"
    )
    scored = d.withColumn("cos", F.round(dot / (nrm * F.lit(qn)), 6))
    return ranked_topk(scored, id_col, k)


def with_lsh_bucket(
    emb: DataFrame, dim: int, bits: int = 8, seed: int = 42,
    vec_col: str = "embedding", out: str = "bucket",
) -> DataFrame:
    """Add the random-hyperplane sign-bucket id.

    A numpy mapInPandas kernel that loops over DIMS and vectorizes over
    ROWS, so each row's accumulator passes through the same sequence of
    float64 additions as a scalar left fold (np.dot would reorder and
    can flip a borderline sign) — the fold DuckDB's list_sum performs,
    so the bucket ids are oracle-checkable byte-for-byte
    (duck_lsh_topk_sql, duck_cosine_near_dup_sql).

    Off the happy path the kernel keeps Spark SQL semantics, which
    DuckDB does not share: a NULL embedding, or one with a NULL
    element, gets bucket 0 (a NULL fold fails every bit test), and a
    NaN accumulator SETS its bit (Spark orders NaN above every number,
    so ``NaN > 0`` is true)."""
    from pyspark.sql import types as T

    H = _hyperplanes(dim, bits, seed)
    # element-level nulls sanitize to a wholly-null vector JVM-side:
    # Arrow->pandas delivers a null ELEMENT as NaN, indistinguishable
    # from a true NaN, and the two must bucket differently
    src = emb.withColumn(
        "__lshvec",
        F.expr(f"IF(exists({vec_col}, x -> x IS NULL), NULL, {vec_col})"),
    )
    out_schema = T.StructType(
        list(src.schema.fields) + [T.StructField(out, T.LongType())]
    )

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            pdf = pdf.copy(deep=False)
            if n == 0:
                pdf[out] = pd.Series([], dtype="int64")
                yield pdf
                continue
            na = pdf["__lshvec"].isna().to_numpy()
            bucket = np.zeros(n, dtype=np.int64)
            if (~na).any():
                M = np.array(list(pdf["__lshvec"][~na]), dtype=np.float64)
                sub = np.zeros(len(M), dtype=np.int64)
                for i in range(bits):
                    acc = np.zeros(len(M), dtype=np.float64)
                    for dd in range(dim):
                        acc = acc + M[:, dd] * H[dd, i]  # left fold
                    sub |= ((acc > 0.0) | np.isnan(acc)).astype(np.int64) << i
                bucket[~na] = sub
            pdf[out] = bucket
            yield pdf

    return src.mapInPandas(kernel, schema=out_schema).drop("__lshvec")


def query_bucket(query_vec: list, bits: int, seed: int = 42) -> int:
    """Driver-side bucket of the query vector via the SAME sequential
    left-fold the bucket kernel uses (numpy matmul would reorder the
    additions and can flip a borderline sign bit)."""
    H = _hyperplanes(len(query_vec), bits, seed)
    b = 0
    for i in range(bits):
        acc = 0.0
        for a, h in zip(query_vec, H[:, i]):
            acc += float(a) * float(h)
        if acc > 0.0:
            b |= 1 << i
    return b


def duck_lsh_bucket(vec: str, dim: int, bits: int, seed: int = 42) -> str:
    """DuckDB twin of with_lsh_bucket's id for the DOUBLE[] expression
    ``vec``: one list_sum left-fold dot per hyperplane, bit i set iff
    the dot is > 0 (equal to the kernel on non-NULL, NaN-free input)."""
    H = _hyperplanes(dim, bits, seed)

    def dot(i):
        h = "[" + ", ".join(repr(float(v)) for v in H[:, i]) + "]"
        return (
            f"list_sum(list_transform(list_zip({vec}, {h}), "
            "p -> p[1] * p[2]))"
        )

    return " + ".join(
        f"(CASE WHEN {dot(i)} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


def duck_lsh_topk_sql(
    dim: int,
    k: int,
    bits: int,
    probe_radius: int,
    seed: int = 42,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
) -> str:
    """DuckDB twin of lsh_topk with the query vector taken from the table
    row ``{id_col} = query_id`` — the whole multi-probe + rescore pipeline
    in ANSI SQL, byte-identical math to the Spark plan."""

    def bucket(vec):
        return duck_lsh_bucket(vec, dim, bits, seed)

    return (
        f"WITH q AS (SELECT {vec_col}::DOUBLE[] AS qv, "
        f"CAST({bucket(f'{vec_col}::DOUBLE[]')} AS BIGINT) AS qb "
        f"FROM {table} WHERE {id_col} = {query_id}), "
        f"b AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS emb, "
        f"CAST({bucket(f'{vec_col}::DOUBLE[]')} AS BIGINT) AS bucket "
        f"FROM {table}), "
        f"scored AS (SELECT {id_col}, round("
        "list_sum(list_transform(list_zip(emb, qv), p -> p[1] * p[2])) / "
        "(sqrt(list_sum(list_transform(emb, v -> v * v))) * "
        "sqrt(list_sum(list_transform(qv, v -> v * v)))), 6) AS cos "
        "FROM b, q "
        f"WHERE bit_count(xor(bucket, qb)) <= {probe_radius}) "
        f"SELECT {id_col}, rnk, cos FROM ("
        f"SELECT {id_col}, CAST(row_number() OVER "
        f"(ORDER BY cos DESC, {id_col}) AS INT) AS rnk, cos FROM scored"
        f") WHERE rnk <= {k}"
    )


def _norm_centroids(centroids: list) -> list:
    """(cid, unit-vector) pairs normalized with a SEQUENTIAL left-fold
    norm — the exact ops DuckDB's sqrt(list_sum(list_transform(c, w ->
    w*w))) performs, so an oracle that re-derives the unit centroids from
    the table gets bit-identical values."""
    out = []
    for cid, v in centroids:
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        n = acc ** 0.5
        out.append((int(cid), [float(x) / n for x in v]))
    return out


def _centroid_sims(query_vec: list, cn: list) -> list:
    """Sequential-fold dot of the query against each unit centroid —
    the same left fold the kernels and DuckDB's list_sum use."""
    sims = []
    for _, c in cn:
        acc = 0.0
        for a, b in zip(query_vec, c):
            acc += float(a) * float(b)
        sims.append(acc)
    return sims


def _nearest_cell(E: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row index into C (unit centroids, cid-ascending) of each row's
    max-dot centroid.  Each dot accumulates dims 0..dim-1 sequentially
    (vectorized across rows: the scalar left fold DuckDB's list_sum
    performs); ties go to the FIRST (smallest-cid) centroid; NaN dots
    rank below every real dot, as in Spark's ordering."""
    s = np.zeros((len(E), len(C)))
    for t in range(C.shape[1]):
        s += E[:, t, None] * C[None, :, t]
    s = -s
    if np.isnan(s).any():
        s = np.where(np.isnan(s), np.inf, s)
    return s.argmin(axis=1)


def with_ivf_cell(
    emb: DataFrame,
    centroids: list,  # list of (cid, vector)
    vec_col: str = "embedding",
    out: str = "ivf_cell",
) -> DataFrame:
    """IVF coarse quantizer: add each vector's nearest centroid id
    (cosine; row norm is a positive scale, so argmax over unit-centroid
    dots suffices) — one numpy pass per Arrow batch (_nearest_cell),
    byte-identical to the DuckDB twin's cell (duck_ivf_topk_sql)."""
    from pyspark.sql import types as T

    cn = sorted(_norm_centroids(centroids))
    C = np.asarray([c for _, c in cn], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in cn], dtype=np.int64)
    schema = T.StructType(
        list(emb.schema.fields) + [T.StructField(out, T.LongType())]
    )

    def kernel(batches):
        for pdf in batches:
            E = _stack_vecs(pdf[vec_col].to_numpy(), C.shape[1])
            pdf = pdf.copy(deep=False)
            pdf[out] = cids[_nearest_cell(E, C)]
            yield pdf

    return emb.mapInPandas(kernel, schema=schema)


def query_probes(query_vec: list, centroids: list, n_probe: int) -> list:
    """The n_probe centroid ids nearest the query, ranked by the SAME
    sequential-fold dots (desc) with cid-ascending tie-break."""
    cn = _norm_centroids(centroids)
    sims = _centroid_sims(query_vec, cn)
    order = sorted(range(len(cn)), key=lambda i: (-sims[i], cn[i][0]))
    return [cn[i][0] for i in order[:n_probe]]


def _ivf_members_kernel(cn: list, probes: list, id_col: str, vec_col: str):
    """with_ivf_cell + the probe filter in one numpy pass per Arrow
    batch, emitting ONLY rows whose nearest centroid is probed."""
    C = np.asarray([c for _, c in cn], dtype=np.float64)  # (ncent, dim)
    keep_cid = np.asarray(
        [cid in {int(p) for p in probes} for cid, _ in cn], dtype=bool
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = _stack_vecs(pdf[vec_col].to_numpy(), C.shape[1])
            keep = keep_cid[_nearest_cell(E, C)]
            if keep.any():
                yield pdf.loc[keep, [id_col, vec_col]]

    return kernel


def ivf_topk(
    emb: DataFrame,
    query_vec: list,
    centroids: list,
    k: int = 20,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-bucketed cosine top-k: probe the n_probe centroids nearest
    the query, exact-rescore only their members (the scale path beside
    lsh_topk; recall measured in tests).  Cell assignment and the probe
    filter are one numpy Arrow pass (_ivf_members_kernel); the rescore
    and the rank are JVM-side.  Oracle: duck_ivf_topk_sql."""
    probes = query_probes(query_vec, centroids, n_probe)
    cn = sorted(_norm_centroids(centroids))  # cid-ascending tie rule
    sel = emb.select(id_col, vec_col)
    cand = sel.mapInPandas(
        _ivf_members_kernel(cn, probes, id_col, vec_col), schema=sel.schema
    )

    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def duck_ivf_topk_sql(
    n_centroids: int = 16,
    k: int = 20,
    n_probe: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
) -> str:
    """DuckDB twin of ivf_topk with BOTH the query vector and the
    centroids (rows {id_col} < n_centroids, normalized in SQL with the
    same sequential folds as _norm_centroids) derived from the table —
    sf-independent.  Per-row cell = max-dot centroid with first-id
    tie-break (window), probes ranked the same way, exact round-6
    rescore, deterministic top-k."""
    unit = (
        f"list_transform({vec_col}::DOUBLE[], v -> v / "
        f"sqrt(list_sum(list_transform({vec_col}::DOUBLE[], w -> w * w))))"
    )
    dot_u = "list_sum(list_transform(list_zip({vec}, c.u), p -> p[1] * p[2]))"
    return (
        f"WITH q AS (SELECT {vec_col}::DOUBLE[] AS qv FROM {table} "
        f"WHERE {id_col} = {query_id}), "
        f"b AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS emb FROM {table}), "
        f"cent AS (SELECT {id_col} AS cid, {unit} AS u FROM {table} "
        f"WHERE {id_col} < {n_centroids}), "
        f"cs AS (SELECT b.{id_col}, b.emb, c.cid, "
        f"{dot_u.format(vec='b.emb')} AS s FROM b, cent c), "
        f"cell AS (SELECT {id_col}, emb, cid FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {id_col} "
        "ORDER BY s DESC, cid ASC) AS rn FROM cs) WHERE rn = 1), "
        f"qcs AS (SELECT c.cid, {dot_u.format(vec='q.qv')} AS s "
        "FROM q, cent c), "
        f"probes AS (SELECT cid FROM qcs ORDER BY s DESC, cid ASC "
        f"LIMIT {n_probe}), "
        f"scored AS (SELECT c.{id_col}, round("
        "list_sum(list_transform(list_zip(c.emb, q.qv), p -> p[1] * p[2])) "
        "/ (sqrt(list_sum(list_transform(c.emb, v -> v * v))) * "
        "sqrt(list_sum(list_transform(q.qv, v -> v * v)))), 6) AS cos "
        "FROM cell c, q WHERE c.cid IN (SELECT cid FROM probes)) "
        f"SELECT {id_col}, rnk, cos FROM ("
        f"SELECT {id_col}, CAST(row_number() OVER "
        f"(ORDER BY cos DESC, {id_col}) AS INT) AS rnk, cos FROM scored"
        f") WHERE rnk <= {k}"
    )


def lsh_topk(
    emb: DataFrame,
    query_vec: list,
    k: int = 20,
    bits: int = 6,
    probe_radius: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed cosine top-k: prune to buckets within hamming distance
    <= probe_radius of the query's bucket (multi-probe), rescore exactly,
    rank with a deterministic tie-break.  Every float op is a sequential
    left fold, byte-identical to the DuckDB twin (duck_lsh_topk_sql)."""
    dim = len(query_vec)
    qbucket = query_bucket(query_vec, bits, seed)

    bucketed = with_lsh_bucket(emb, dim, bits, seed, vec_col=vec_col)
    # multi-probe as a hamming-ball predicate: JVM bit_count, no bucket
    # enumeration (stays O(1) expression at any bits/radius)
    cand = bucketed.filter(
        F.expr(f"bit_count(bucket ^ {qbucket}L) <= {probe_radius}")
    )

    return cosine_topk(cand, query_vec, k, id_col, vec_col)


# ------------------------------------------------ blocked cosine near-dup


def _band_offsets(bits: int, n_bands: int) -> list:
    """Split [0, bits) into n_bands contiguous (offset, width) bands,
    widths as even as possible.  A zero-width band would mask every row
    to bval 0 — silently degrading the equi-join to an all-pairs join —
    so n_bands > bits is rejected outright."""
    if n_bands > bits:
        raise ValueError(
            f"pigeonhole blocking needs n_bands <= bits ({n_bands} > {bits}): "
            "a zero-width band would bucket every row together"
        )
    base, rem = divmod(bits, n_bands)
    out, off = [], 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


def cosine_near_dup_blocked(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.45,
    bits: int = 16,
    hamming_max: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked (the scale path).

    Semantics: pairs whose bits-bit LSH sketches differ in <= hamming_max
    bits AND exact cosine >= threshold.  Candidates come from equi-joins
    on (hamming_max + 1) pigeonhole bands of the sketch — any pair within
    the hamming ball agrees on at least one full band — so the plan is a
    shuffled/broadcast HASH join per band, never an all-pairs
    BroadcastNestedLoopJoin.  At 100 TB, band-bucket fan-in is bounded by
    bucket size (salting applies if a bucket is hot); an exact all-pairs
    theta join would be O(n^2).

    With a realistic near-dup threshold (>= 0.9) hamming_max of 1-2 and
    two wide bands prune hard; this dataset's pairs sit at cos ~0.5 so
    the defaults trade pruning for recall.  Recall vs the exact all-pairs
    join is measured in tests/test_ann_salting.py.
    """
    bucketed = with_lsh_bucket(emb, dim, bits, seed, vec_col=vec_col)
    nrm = F.expr(
        "sqrt(aggregate(transform(emb, a -> a * a), 0D, (acc, v) -> acc + v))"
    )
    # materialized once (lazy localCheckpoint): three consumers (band
    # keys + both rescore sides) would otherwise re-run the bucket
    # kernel and the norm fold per subtree (no CSE across aliases)
    d = bucketed.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, v -> cast(v as double))").alias("emb"),
        F.col("bucket"),
    ).withColumn("nrm", nrm).localCheckpoint(eager=False)

    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"(bucket >> {off}) & {(1 << w) - 1}").alias("bval"),
            )
            for i, (off, w) in enumerate(_band_offsets(bits, hamming_max + 1))
        ]
    )
    keys = d.select(id_col, "bucket", F.explode(bands).alias("bk")).select(
        id_col, "bucket",
        F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    # hamming cut INSIDE the band join: the distinct then dedupes only
    # the true sketch-near pairs instead of every bucket collision
    # (measured 898k collision rows -> the hamming survivors at sf0.1)
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.bit_count(
                    F.col("a.bucket").bitwiseXOR(F.col("b.bucket"))
                )
                <= hamming_max
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    da = d.select(
        F.col(id_col).alias("id_a"), F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    db = d.select(
        F.col(id_col).alias("id_b"), F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.expr(
        "aggregate(zip_with(emb_a, emb_b, (x, y) -> x * y), 0D, "
        "(acc, v) -> acc + v)"
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("cos", F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 6))
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            "cos",
        )
    )


def duck_cosine_near_dup_sql(
    dim: int,
    threshold: float = 0.45,
    bits: int = 16,
    hamming_max: int = 4,
    seed: int = 42,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of cosine_near_dup_blocked: identical semantics via an
    all-pairs scan with the SAME hamming + threshold predicates (the
    oracle may be quadratic at oracle scale; the banding is only a
    candidate generator and never changes the result set)."""
    bucket = duck_lsh_bucket(f"{vec_col}::DOUBLE[]", dim, bits, seed)
    cos = (
        "round(list_sum(list_transform(list_zip(a.emb, b.emb), "
        "p -> p[1] * p[2])) / (a.nrm * b.nrm), 6)"
    )
    return (
        f"WITH d AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS emb, "
        f"sqrt(list_sum(list_transform({vec_col}::DOUBLE[], v -> v * v))) "
        f"AS nrm, CAST({bucket} AS BIGINT) AS bucket FROM {table}) "
        f"SELECT a.{id_col} AS vec_a, b.{id_col} AS vec_b, {cos} AS cos "
        f"FROM d a JOIN d b ON a.{id_col} < b.{id_col} "
        f"WHERE bit_count(xor(a.bucket, b.bucket)) <= {hamming_max} "
        f"AND {cos} >= {threshold!r}"
    )


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    hamming_max: int,
) -> DataFrame:
    """ALL pairs with hamming(hash) <= hamming_max, via pigeonhole
    multi-band blocking: the hash splits into (hamming_max + 1) bands;
    any pair within the hamming ball agrees on >= 1 full band, so the
    union of per-band equi-joins is COMPLETE while the plan stays hash
    joins on (band, value) — never an all-pairs theta join.  Shared by
    simhash text dedup and phash image dedup.

    The (id, hash) projection is materialized once (lazy localCheckpoint):
    Catalyst does not CSE across self-join aliases, so the upstream
    signature computation (a full tokenize+md5 pass for simhash, image
    synthesis+phash for the image path) would otherwise run once PER
    SIDE — measured ~0.6 s/side at sf0.1."""
    s = df.select(id_col, hash_col).localCheckpoint(eager=False)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"({hash_col} >> {off}) & {(1 << w) - 1}").alias(
                    "bval"
                ),
            )
            for i, (off, w) in enumerate(
                _band_offsets(bits, hamming_max + 1)
            )
        ]
    )
    keys = s.select(id_col, hash_col, F.explode(bands).alias("bk")).select(
        id_col, hash_col,
        F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    ham = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    )
    # the hamming cut rides INSIDE the join (a post-join filter on the
    # hash-join output) so the distinct — the expensive shuffle — sees
    # only true near-pairs, not every multi-band bucket collision
    # (hamming is a function of the id pair, so filter/distinct commute)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (ham <= hamming_max),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )


# --------------------------------------------------- Product Quantization
# The fourth ANN family (beside brute force / LSH / IVF): each vector is
# chopped into PQ_NSUB subvectors of PQ_SUBDIM dims; each subvector is
# quantized to its nearest codebook entry (argmin L2, ties to the
# smaller index); query scoring is Asymmetric Distance Computation — a
# per-subspace lookup table of query-to-codeword distances computed
# once on the driver, summed per row in the kernel.  Codebooks are the
# subvectors of the first PQ_NCODE table rows (no fitting step, derivable
# by the oracle, same policy as the IVF centroids).  Candidates = rows
# with the PQ_RESCORE smallest ADC distances (TakeOrderedAndProject),
# then exact round-6 cosine rescoring.  At 100 TB the codes table is
# NSUB bytes/vector — the classic memory-bound ANN layout.

PQ_NSUB = 8
PQ_SUBDIM = 8
PQ_NCODE = 16


def pq_codebooks(rows: list) -> list:
    """rows = [(vec_id, [floats])] sorted by vec_id, len >= PQ_NCODE ->
    codebooks[s][j] = j-th codeword of subspace s (list of doubles)."""
    cw = []
    for s in range(PQ_NSUB):
        a = s * PQ_SUBDIM
        cw.append(
            [[float(x) for x in v[a:a + PQ_SUBDIM]]
             for _, v in rows[:PQ_NCODE]]
        )
    return cw


def pq_adc_table(query_vec: list, codebooks: list) -> list:
    """T[s][j] = squared L2 distance of the query's s-th subvector to
    codeword j, via the SAME sequential fold the kernel uses."""
    T = []
    for s in range(PQ_NSUB):
        a = s * PQ_SUBDIM
        qs = [float(v) for v in query_vec[a:a + PQ_SUBDIM]]
        row = []
        for cwv in codebooks[s]:
            acc = 0.0
            for x, c in zip(qs, cwv):
                acc += (float(x) - c) * (float(x) - c)
            row.append(acc)
        T.append(row)
    return T


def _stack_vecs(cells, dim: int, long_vecs: str = "nan") -> np.ndarray:
    """Arrow vector cells -> (n, dim) float64 matrix, reproducing Spark's
    zip_with/aggregate fold semantics on ragged/NULL vectors (which
    DuckDB's NULL-skipping list_sum does not share) via NaN lanes (NaN
    distances sort after reals through the +inf substitution, NaN
    cosines fail every >= filter, and all-NaN tie rows fall to the
    smallest index like the struct sort's NULL-tie rule):

    * NULL vector -> all-NaN row (every fold over it is NULL);
    * SHORTER than ``dim`` -> values + NaN tail (zip_with pads the short
      side with nulls, so folds touching the tail are NULL while — for
      the PQ per-subspace slices — folds fully inside the prefix stay
      real);
    * LONGER than ``dim``: op-dependent.  ``long_vecs="nan"`` (IVF /
      SemDeDup) -> all-NaN row, because zip_with pads the CENTROID side
      and every dot is NULL; ``long_vecs="truncate"`` (PQ) -> first
      ``dim`` values, because the subspace slices never index past dim.

    Null ELEMENTS inside a float array arrive from Arrow as NaN already
    and need no special case."""
    out = np.empty((len(cells), dim))
    for i, v in enumerate(cells):
        a = None if v is None else np.asarray(v, dtype=np.float64)
        if a is None or a.ndim != 1:
            out[i] = np.nan
        elif a.shape[0] == dim:
            out[i] = a
        elif a.shape[0] < dim:
            out[i, : a.shape[0]] = a
            out[i, a.shape[0]:] = np.nan
        elif long_vecs == "truncate":
            out[i] = a[:dim]
        else:
            out[i] = np.nan
    return out


def pq_codes(E: np.ndarray, codebooks: list) -> np.ndarray:
    """(n, PQ_NSUB) nearest-codeword index of each row's subvectors.
    The squared-L2 fold accumulates t = 0..SUBDIM-1 SEQUENTIALLY
    (vectorized across rows, scalar order per element; never np.sum,
    which pairs); argmin takes the FIRST minimum (ties to the smaller
    j); NaN distances rank after every real one, as in Spark's
    ordering."""
    CW = np.asarray(codebooks, dtype=np.float64)  # (NSUB, NCODE, SUBDIM)
    Es = E.reshape(len(E), PQ_NSUB, PQ_SUBDIM)
    acc = np.zeros((len(E), PQ_NSUB, CW.shape[1]))
    for t in range(PQ_SUBDIM):
        d = Es[:, :, t, None] - CW[None, :, :, t]
        acc += d * d
    if np.isnan(acc).any():
        acc = np.where(np.isnan(acc), np.inf, acc)
    return acc.argmin(axis=2)


def _pq_adc_kernel(codebooks: list, T: list, id_col: str, vec_col: str):
    """pq_codes + the ADC sum, one numpy pass per Arrow batch; the ADC
    total adds subspaces s = 0..NSUB-1 left-to-right (the oracle's
    list_sum order)."""
    Tarr = np.asarray(T, dtype=np.float64)  # (NSUB, NCODE)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = _stack_vecs(
                pdf[vec_col].to_numpy(), PQ_NSUB * PQ_SUBDIM,
                long_vecs="truncate",
            )
            codes = pq_codes(E, codebooks)
            adist = Tarr[0, codes[:, 0]].copy()
            for s in range(1, PQ_NSUB):
                adist += Tarr[s, codes[:, s]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col].to_numpy(),
                    "adist": adist,
                }
            )

    return kernel


def pq_adc_scored(
    emb: DataFrame,
    query_vec: list,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, adist): per-row PQ code assignment + ADC approximate
    distance, one numpy mapInPandas pass (_pq_adc_kernel)."""
    from pyspark.sql import types as _Ty

    T = pq_adc_table(query_vec, codebooks)
    sel = emb.select(id_col, vec_col)
    schema = _Ty.StructType(
        [sel.schema[id_col], sel.schema[vec_col],
         _Ty.StructField("adist", _Ty.DoubleType())]
    )
    return sel.mapInPandas(
        _pq_adc_kernel(codebooks, T, id_col, vec_col), schema=schema
    )


def pq_topk(
    emb: DataFrame,
    query_vec: list,
    codebooks: list,
    k: int = 10,
    rescore: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC top-k: approximate distance = left-to-right sum of the
    per-subspace table lookups; the `rescore` best candidates (ADC asc,
    id asc) get the exact round-6 cosine, then deterministic top-k.

    The candidate cut MUST compile to TakeOrderedAndProject (per-partition
    local top-k, driver merge) — naively chaining the rescore projections
    after ``orderBy().limit()`` lets Catalyst push them BELOW the limit as
    two uncollapsable Projects (the array exprs are multi-referenced),
    breaking the ``Limit(Sort)`` pattern and lowering the cut to a global
    range-sort with two extra exchanges.  The ``collect_list`` aggregate
    directly after the limit is the barrier: aggregates never push below
    limits, the cut stays ``Limit(Sort(...))``, and the agg itself only
    ever sees the <=``rescore`` surviving rows."""
    scored0 = pq_adc_scored(
        emb, query_vec, codebooks, id_col=id_col, vec_col=vec_col
    )
    cut = (
        scored0.orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(rescore)
    )
    cand = (
        cut.agg(F.collect_list(F.struct(id_col, vec_col)).alias("cands"))
        .select(F.explode("cands").alias("c"))
        .select(
            F.col(f"c.{id_col}").alias(id_col),
            F.col(f"c.{vec_col}").alias(vec_col),
        )
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def duck_pq_adist_ctes(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
) -> str:
    """The CTE list (no leading WITH) ending in ``adist(id, adist)``:
    codebooks re-derived from the table's first PQ_NCODE rows, argmin
    codes (window rn=1 over dist asc, j asc), the per-id ADC sum as
    list_sum over the s-ORDERED distance list (the same left fold as
    the kernel's additions).  Also defines ``q(qv)`` and ``b(id, emb)``."""
    sq = "list_sum(list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    return (
        f"q AS (SELECT {vec_col}::DOUBLE[] AS qv FROM {table} "
        f"WHERE {id_col} = {query_id}), "
        f"b AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS emb FROM {table}), "
        f"subs AS (SELECT s FROM range(0, {PQ_NSUB}) t(s)), "
        f"cent AS (SELECT c.{id_col} AS j, subs.s, "
        f"list_slice(c.{vec_col}::DOUBLE[], subs.s * {PQ_SUBDIM} + 1, "
        f"subs.s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS cw "
        f"FROM {table} c, subs WHERE c.{id_col} < {PQ_NCODE}), "
        "bsub AS (SELECT b.id, subs.s, "
        f"list_slice(b.emb, subs.s * {PQ_SUBDIM} + 1, "
        f"subs.s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub FROM b, subs), "
        "dist AS (SELECT bsub.id, bsub.s, cent.j, "
        + sq.format(a="bsub.sub", b="cent.cw")
        + " AS d FROM bsub JOIN cent ON cent.s = bsub.s), "
        "code AS (SELECT id, s, j FROM (SELECT *, row_number() OVER "
        "(PARTITION BY id, s ORDER BY d ASC, j ASC) AS rn FROM dist) "
        "WHERE rn = 1), "
        "qd AS (SELECT cent.s, cent.j, "
        + sq.format(
            a=f"list_slice(q.qv, cent.s * {PQ_SUBDIM} + 1, "
              f"cent.s * {PQ_SUBDIM} + {PQ_SUBDIM})",
            b="cent.cw",
        )
        + " AS d FROM q, cent), "
        "adist AS (SELECT code.id, "
        "list_sum(list(qd.d ORDER BY code.s)) AS adist "
        "FROM code JOIN qd ON qd.s = code.s AND qd.j = code.j "
        "GROUP BY code.id)"
    )


def duck_pq_topk_sql(
    k: int = 10,
    rescore: int = 40,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
) -> str:
    """DuckDB twin of pq_topk: the duck_pq_adist_ctes codes and ADC
    sums, then the same candidate cut and the same rescore."""
    return (
        "WITH " + duck_pq_adist_ctes(table, id_col, vec_col, query_id)
        + ", "
        f"cand AS (SELECT id FROM adist ORDER BY adist ASC, id ASC "
        f"LIMIT {rescore}), "
        f"scored AS (SELECT b.id AS {id_col}, round("
        "list_sum(list_transform(list_zip(b.emb, q.qv), p -> p[1] * p[2])) "
        "/ (sqrt(list_sum(list_transform(b.emb, v -> v * v))) * "
        "sqrt(list_sum(list_transform(q.qv, v -> v * v)))), 6) AS cos "
        "FROM b, q WHERE b.id IN (SELECT id FROM cand)) "
        f"SELECT {id_col}, rnk, cos FROM ("
        f"SELECT {id_col}, CAST(row_number() OVER "
        f"(ORDER BY cos DESC, {id_col}) AS INT) AS rnk, cos FROM scored"
        f") WHERE rnk <= {k}"
    )


# ----------------------------------------------------- semantic dedup
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings
# with a coarse quantizer, then prune near-duplicate pairs WITHIN each
# cluster only — the pairwise cost is paid per cell, never globally.
# The keep policy here is the deterministic greedy variant: within a
# cell, a row is dropped iff a lower-id row in the same cell has
# round-6 cosine >= threshold (keep-first; the paper's "keep the one
# farthest from the centroid" differs only in which member survives).


def _sem_cells_kernel(cn: list, id_col: str, vec_col: str):
    """The semantic-dedup projection in one numpy pass per Arrow batch:
    cell (_nearest_cell), double-cast embedding, sequential-fold norm."""
    C = np.asarray([c for _, c in cn], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in cn], dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            E = _stack_vecs(pdf[vec_col].to_numpy(), C.shape[1])
            acc = np.zeros(n)
            for t in range(E.shape[1]):
                acc += E[:, t] * E[:, t]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "emb": list(E),
                    "nrm": np.sqrt(acc),
                    "ivf_cell": cids[_nearest_cell(E, C)],
                }
            )

    return kernel


def _sem_pairs_kernel(id_col: str):
    """Per-cell pairwise dot ratios: for every (a, b) pair with
    id_a > id_b emit q = dot / (nrm_a * nrm_b).  The dot accumulates
    dims sequentially (the zip_with left fold, vectorized across
    pairs); round-6 + threshold stay JVM-side so the engine-pinned
    HALF_UP rounding is never re-implemented in Python."""

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        cols = ["id_a", "ivf_cell", "q"]
        if m < 2:
            return pd.DataFrame(columns=cols)
        E = np.stack(pdf["emb"].to_numpy())
        ids = pdf[id_col].to_numpy()
        nrm = pdf["nrm"].to_numpy()
        acc = np.zeros((m, m))
        for t in range(E.shape[1]):
            acc += E[:, t, None] * E[None, :, t]
        ia, ib = np.nonzero(ids[:, None] > ids[None, :])
        q = acc[ia, ib] / (nrm[ia] * nrm[ib])
        return pd.DataFrame(
            {
                "id_a": ids[ia],
                "ivf_cell": np.full(len(ia), int(key[0]), dtype=np.int64),
                "q": q,
            },
            columns=cols,
        )

    return run


def semantic_dedup(
    emb: DataFrame,
    centroids: list,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dropped rows of a SemDeDup pass: (id, ivf_cell, n_dups, max_cos).

    Plan shape: cell assignment + norms are one numpy Arrow pass
    (_sem_cells_kernel); the candidate generator is a shuffle on
    ivf_cell, and the within-cell pairwise dots run vectorized in a
    per-cell applyInPandas kernel (_sem_pairs_kernel) — the pairwise
    cost is paid per cell, never globally (pick n_centroids ~ sqrt(n)
    upstream; a hot cell is one task's m^2 dots).  round-6 + the
    threshold filter + the aggregation stay JVM-side, so the rounding
    convention is never re-implemented in Python.  Every float op is
    the same sequential left fold as the DuckDB twin
    (duck_semantic_dedup_sql).
    """
    from pyspark.sql import types as _Ty

    cn = sorted(_norm_centroids(centroids))
    sel = emb.select(id_col, vec_col)
    cells_schema = _Ty.StructType(
        [
            sel.schema[id_col],
            _Ty.StructField("emb", _Ty.ArrayType(_Ty.DoubleType())),
            _Ty.StructField("nrm", _Ty.DoubleType()),
            _Ty.StructField("ivf_cell", _Ty.LongType()),
        ]
    )
    cellsdf = sel.mapInPandas(
        _sem_cells_kernel(cn, id_col, vec_col), schema=cells_schema
    )
    pair_schema = _Ty.StructType(
        [
            _Ty.StructField("id_a", sel.schema[id_col].dataType),
            _Ty.StructField("ivf_cell", _Ty.LongType()),
            _Ty.StructField("q", _Ty.DoubleType()),
        ]
    )
    pairs = (
        cellsdf.groupBy("ivf_cell")
        .applyInPandas(_sem_pairs_kernel(id_col), schema=pair_schema)
        .withColumn("cos", F.round(F.col("q"), 6))
        .filter(F.col("cos") >= threshold)
    )
    return pairs.groupBy(
        F.col("id_a").alias(id_col), "ivf_cell"
    ).agg(
        F.count("*").alias("n_dups"),
        F.max("cos").alias("max_cos"),
    )


def duck_semantic_dedup_sql(
    n_centroids: int = 16,
    threshold: float = 0.3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of semantic_dedup with centroids re-derived from the
    table (rows {id_col} < n_centroids, unit-normalized with the same
    sequential folds) — sf-independent, byte-identical cell assignment
    (max-dot, first-cid tie-break) and round-6 pair cosines."""
    unit = (
        f"list_transform({vec_col}::DOUBLE[], v -> v / "
        f"sqrt(list_sum(list_transform({vec_col}::DOUBLE[], w -> w * w))))"
    )
    dot_u = "list_sum(list_transform(list_zip(b.emb, c.u), p -> p[1] * p[2]))"
    cos = (
        "round(list_sum(list_transform(list_zip(a.emb, b.emb), "
        "p -> p[1] * p[2])) / (a.nrm * b.nrm), 6)"
    )
    return (
        f"WITH b AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS emb, "
        f"sqrt(list_sum(list_transform({vec_col}::DOUBLE[], v -> v * v))) "
        f"AS nrm FROM {table}), "
        f"cent AS (SELECT {id_col} AS cid, {unit} AS u FROM {table} "
        f"WHERE {id_col} < {n_centroids}), "
        f"cs AS (SELECT b.{id_col}, b.emb, b.nrm, c.cid, {dot_u} AS s "
        "FROM b, cent c), "
        f"cell AS (SELECT {id_col}, emb, nrm, cid AS ivf_cell FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {id_col} "
        "ORDER BY s DESC, cid ASC) AS rn FROM cs) WHERE rn = 1), "
        f"pairs AS (SELECT a.{id_col}, a.ivf_cell, {cos} AS cos "
        "FROM cell a JOIN cell b ON a.ivf_cell = b.ivf_cell "
        f"AND a.{id_col} > b.{id_col} WHERE {cos} >= {threshold!r}) "
        f"SELECT {id_col}, ivf_cell, CAST(count(*) AS BIGINT) AS n_dups, "
        f"max(cos) AS max_cos FROM pairs GROUP BY {id_col}, ivf_cell"
    )
