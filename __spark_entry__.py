"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query on /root/testdata/sf0.001.
queries()      -> operator queries from SURVEY.md §2 (+ graft ops), each
                  (spark, sf_dir) -> DataFrame.
oracle_sql()   -> DuckDB twins over the same parquet views; byte-identical
                  math so row-count + schema + value-hash all match.

Every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from geojson_vt_rs_spark.functions.geo_synth import (
    sql_synth_lat,
    sql_synth_lon,
    synth_lat,
    synth_lon,
)
from geojson_vt_rs_spark.functions.mercator import (
    cell_id,
    cell_xy,
    mercator_x,
    mercator_y,
    sql_cell_id,
    sql_cell_xy,
    sql_mercator_x,
    sql_mercator_y,
)

US_STATES = "/root/reference/fixtures/us-states.json"

_SHIPPED_SESSIONS: set = set()


def _ship_package(spark: SparkSession) -> None:
    """Make geojson_vt_rs_spark importable in EXECUTOR Python workers
    regardless of how the session was launched (addPyFile propagates
    after session start, unlike PYTHONPATH): queries using mapInPandas/
    applyInPandas pickle their kernels by reference and the worker must
    import the package."""
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    import geojson_vt_rs_spark

    pkg_dir = os.path.dirname(os.path.abspath(geojson_vt_rs_spark.__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                sources.append(os.path.join(root, fn))
    sources.sort()
    # name the zip by a content hash of the package sources: executors
    # shadow PYTHONPATH with addPyFile'd code, so a stale fixed-path zip
    # would silently run old kernels after a source edit; a per-content
    # name also avoids clobber races between concurrent local sessions.
    digest = hashlib.md5()
    for full in sources:
        with open(full, "rb") as f:
            digest.update(full.encode())
            digest.update(f.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"geojson_vt_rs_spark_entry_{os.getuid()}_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp_fd, tmp_path = tempfile.mkstemp(
            suffix=".zip", dir=tempfile.gettempdir()
        )
        os.close(tmp_fd)
        with zipfile.ZipFile(tmp_path, "w") as zf:
            for full in sources:
                rel = os.path.join(
                    "geojson_vt_rs_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
        os.replace(tmp_path, zip_path)  # atomic: concurrent builders agree
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def _orders_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return df.select(
        F.col("o_orderkey").alias("key"),
        synth_lon(F.col("o_orderkey")).alias("lon"),
        synth_lat(F.col("o_orderkey")).alias("lat"),
    )


_SQL_POINTS = (
    "SELECT o_orderkey AS key, "
    f"{sql_synth_lon('o_orderkey')} AS lon, "
    f"{sql_synth_lat('o_orderkey')} AS lat FROM orders"
)


# --------------------------------------------------------------------- P1/P10
def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched cell-encode: project to unit mercator, assign z7 quad cells
    (to_id scheme, lib.rs:64-66), count per cell.  Pure column exprs —
    whole-stage codegen, no Python."""
    pts = _orders_points(spark, sf_dir)
    mx = mercator_x(F.col("lon"))
    my = mercator_y(F.col("lat"))
    cx, cy = cell_xy(mx, my, 7)
    return (
        pts.select(cell_id(7, cx, cy).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def _sql_cells(z: int) -> str:
    mx = sql_mercator_x("lon")
    my = sql_mercator_y("lat")
    cx, cy = sql_cell_xy(mx, my, z)
    return sql_cell_id(z, cx, cy)


SQL_CELL_ASSIGN = (
    f"SELECT {_sql_cells(7)} AS cell, count(*) AS n_points "
    f"FROM ({_SQL_POINTS}) GROUP BY 1"
)


# ------------------------------------------------------------------------ A1
def q_tile_stats_per_zoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats: occupied tiles per zoom (lib.rs:284-292,436-438 analog)."""
    pts = _orders_points(spark, sf_dir)
    mx = mercator_x(F.col("lon"))
    my = mercator_y(F.col("lat"))
    out = None
    for z in (3, 5, 7):
        cx, cy = cell_xy(mx, my, z)
        d = pts.select(F.lit(z).alias("zoom"), cell_id(z, cx, cy).alias("cell"))
        out = d if out is None else out.unionByName(d)
    return out.groupBy("zoom").agg(
        F.countDistinct("cell").alias("n_tiles"),
        F.count(F.lit(1)).alias("n_points"),
    )


SQL_TILE_STATS = (
    "SELECT zoom, count(DISTINCT cell) AS n_tiles, count(*) AS n_points FROM ("
    + " UNION ALL ".join(
        f"SELECT {z} AS zoom, {_sql_cells(z)} AS cell FROM ({_SQL_POINTS})"
        for z in (3, 5, 7)
    )
    + ") GROUP BY zoom"
)


# ------------------------------------------------------------------------ T2
def q_split_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index_max_points stop condition (lib.rs:305-313): classify z5 cells
    as split vs leaf at threshold 200."""
    pts = _orders_points(spark, sf_dir)
    mx = mercator_x(F.col("lon"))
    my = mercator_y(F.col("lat"))
    cx, cy = cell_xy(mx, my, 5)
    per_cell = (
        pts.select(cell_id(5, cx, cy).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("np"))
    )
    return per_cell.select(
        F.when(F.col("np") > 200, F.lit("split")).otherwise(F.lit("leaf")).alias(
            "action"
        )
    ).groupBy("action").agg(
        F.count(F.lit(1)).alias("n_cells")
    )


SQL_SPLIT_STOP = (
    "SELECT CASE WHEN np > 200 THEN 'split' ELSE 'leaf' END AS action, "
    "count(*) AS n_cells FROM ("
    f"SELECT {_sql_cells(5)} AS cell, count(*) AS np FROM ({_SQL_POINTS}) "
    "GROUP BY 1) GROUP BY 1"
)


# --------------------------------------------------------------------- F2/F3
def q_bbox_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trivial accept/reject band classification (clip.rs:373-398) over
    point bboxes for the x band [0.3, 0.6)."""
    pts = _orders_points(spark, sf_dir)
    mx = mercator_x(F.col("lon")).alias("mx")
    d = pts.select(mx)
    cls = (
        F.when((F.col("mx") >= 0.3) & (F.col("mx") < 0.6), F.lit("accept"))
        .when((F.col("mx") < 0.3) | (F.col("mx") >= 0.6), F.lit("reject"))
        .otherwise(F.lit("clip"))
    )
    return d.select(cls.alias("band_class")).groupBy("band_class").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_BBOX_PRUNE = (
    "SELECT CASE WHEN mx >= 0.3 AND mx < 0.6 THEN 'accept' "
    "WHEN mx < 0.3 OR mx >= 0.6 THEN 'reject' ELSE 'clip' END AS band_class, "
    "count(*) AS n FROM ("
    f"SELECT {sql_mercator_x('lon')} AS mx FROM ({_SQL_POINTS})) GROUP BY 1"
)


# ------------------------------------------------------------------------ C5
def q_wrap_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Antimeridian world-copy membership (wrap.rs:19-43): how many points
    fall in the left/center/right buffered bands (buffer = 64/4096)."""
    b = 64.0 / 4096.0
    pts = _orders_points(spark, sf_dir)
    mx = mercator_x(F.col("lon"))
    d = pts.select(mx.alias("mx"))
    return d.agg(
        F.sum(((F.col("mx") >= -1.0 - b) & (F.col("mx") <= b)).cast("long")).alias(
            "left_copy"
        ),
        F.sum(((F.col("mx") >= -b) & (F.col("mx") <= 1.0 + b)).cast("long")).alias(
            "center_copy"
        ),
        F.sum(((F.col("mx") >= 1.0 - b) & (F.col("mx") <= 2.0 + b)).cast("long")).alias(
            "right_copy"
        ),
    )


SQL_WRAP_COPIES = (
    "SELECT "
    # CAST: DuckDB sum(BIGINT) -> HUGEINT; Spark -> BIGINT (hash parity)
    "CAST(sum(CASE WHEN mx >= -1.015625 AND mx <= 0.015625 THEN 1 ELSE 0 END) AS BIGINT) AS left_copy, "
    "CAST(sum(CASE WHEN mx >= -0.015625 AND mx <= 1.015625 THEN 1 ELSE 0 END) AS BIGINT) AS center_copy, "
    "CAST(sum(CASE WHEN mx >= 0.984375 AND mx <= 2.015625 THEN 1 ELSE 0 END) AS BIGINT) AS right_copy "
    f"FROM (SELECT {sql_mercator_x('lon')} AS mx FROM ({_SQL_POINTS}))"
)


# --------------------------------------------------------- graft: PIP join
def _nation_rects_sql() -> str:
    # one deterministic rect per nation, derived from n_nationkey
    return (
        "SELECT n_nationkey AS rect_id, "
        "(CAST(n_nationkey * 13 % 300 AS DOUBLE) - 150.0) AS rx0, "
        "(CAST(n_nationkey * 7 % 140 AS DOUBLE) - 70.0) AS ry0, "
        "(CAST(n_nationkey * 13 % 300 AS DOUBLE) - 150.0 + 12.0) AS rx1, "
        "(CAST(n_nationkey * 7 % 140 AS DOUBLE) - 70.0 + 9.0) AS ry1 "
        "FROM nation"
    )


def _nation_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    rx0 = (k * 13 % 300).cast("double") - 150.0
    ry0 = (k * 7 % 140).cast("double") - 70.0
    return n.select(
        F.col("n_nationkey").alias("rect_id"),
        rx0.alias("rx0"),
        ry0.alias("ry0"),
        (rx0 + 12.0).alias("rx1"),
        (ry0 + 9.0).alias("ry1"),
    )


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon spatial join, broadcast small side: image-like
    points vs per-nation rectangular footprints (the SQL-checkable shape
    of the tile-polygon PIP; the JVM ray-cast refinement is
    pytest-verified in tests/test_graft.py against brute force and a
    numpy ray-cast oracle)."""
    pts = _orders_points(spark, sf_dir)
    rects = _nation_rects(spark, sf_dir)
    j = pts.join(
        F.broadcast(rects),
        (F.col("lon") >= F.col("rx0"))
        & (F.col("lon") < F.col("rx1"))
        & (F.col("lat") >= F.col("ry0"))
        & (F.col("lat") < F.col("ry1")),
        "inner",
    )
    return j.groupBy("rect_id").agg(F.count(F.lit(1)).alias("n_inside"))


SQL_PIP_JOIN = (
    "SELECT rect_id, count(*) AS n_inside "
    f"FROM ({_SQL_POINTS}) p JOIN ({_nation_rects_sql()}) r "
    "ON p.lon >= r.rx0 AND p.lon < r.rx1 AND p.lat >= r.ry0 AND p.lat < r.ry1 "
    "GROUP BY 1"
)


# --------------------------------------------------------- graft: kNN join
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join (k=3) of customer points to nation rect centers: candidate
    cross join + ranking window, deterministic tie-break on center id."""
    from pyspark.sql import Window

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("key"),
        synth_lon(F.col("c_custkey")).alias("lon"),
        synth_lat(F.col("c_custkey")).alias("lat"),
    )
    rects = _nation_rects(spark, sf_dir).select(
        F.col("rect_id"),
        ((F.col("rx0") + F.col("rx1")) / 2.0).alias("cx"),
        ((F.col("ry0") + F.col("ry1")) / 2.0).alias("cy"),
    )
    j = c.crossJoin(F.broadcast(rects)).withColumn(
        "d2",
        (F.col("lon") - F.col("cx")) * (F.col("lon") - F.col("cx"))
        + (F.col("lat") - F.col("cy")) * (F.col("lat") - F.col("cy")),
    )
    w = Window.partitionBy("key").orderBy(F.col("d2").asc(), F.col("rect_id").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("key", "rank", "rect_id")
    )


SQL_KNN_JOIN = (
    "SELECT key, rank, rect_id FROM ("
    "SELECT p.key, r.rect_id, "
    "row_number() OVER (PARTITION BY p.key ORDER BY "
    "(p.lon-(r.rx0+r.rx1)/2.0)*(p.lon-(r.rx0+r.rx1)/2.0) + "
    "(p.lat-(r.ry0+r.ry1)/2.0)*(p.lat-(r.ry0+r.ry1)/2.0) ASC, r.rect_id ASC) AS rank "
    "FROM (SELECT c_custkey AS key, "
    f"{sql_synth_lon('c_custkey')} AS lon, {sql_synth_lat('c_custkey')} AS lat "
    f"FROM customer) p CROSS JOIN ({_nation_rects_sql()}) r"
    ") WHERE rank <= 3"
)


# ------------------------------------------------------------ dedup: exact
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over documents: md5 group -> group
    sizes -> distribution (hash-groupBy, map-side partial agg)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.select(F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("copies"))
        .groupBy("copies")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


SQL_DEDUP_EXACT = (
    "SELECT copies, count(*) AS n_groups FROM ("
    "SELECT md5(text) AS h, count(*) AS copies FROM documents GROUP BY 1"
    ") GROUP BY 1"
)


# ----------------------------------------------------------- text: tokens
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + length stats per source."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return d.groupBy("source").agg(
        F.sum(toks.cast("long")).alias("total_tokens"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_TOKEN_STATS = (
    "SELECT source, "
    "CAST(sum(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))) AS BIGINT) AS total_tokens, "
    "CAST(sum(length(text)) AS BIGINT) AS total_chars, count(*) AS n_docs "
    "FROM documents GROUP BY 1"
)


# ------------------------------------------------- dedup/similarity batch
def _spread_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scale-adaptive scan spread (guide §2/§6): the test tables are
    single-row-group parquet files, so the scan gets ONE split and every
    downstream Arrow kernel serializes onto one task.  Floor the
    partition count at defaultParallelism ONLY when the scan is narrower
    — at real scale the scan already has >= cores splits and this is a
    no-op (no added shuffle)."""
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: char-5-gram shingles -> 8 md5
    minhashes -> 4 two-row bands -> bucket equi-join -> distinct pairs."""
    from geojson_vt_rs_spark.operators.text_dedup import minhash_band_pairs

    docs = _spread_scan(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return minhash_band_pairs(docs)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (one md5 per distinct token, majority
    bit vote over the token hashes in a numpy kernel — production
    width)."""
    from geojson_vt_rs_spark.operators.text_dedup import with_simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_simhash(docs).select("doc_id", "simhash")


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL SimHash pairs with hamming <= 3 via pigeonhole multi-band
    blocking (4 x 16-bit band equi-joins, union, distinct) — complete and
    scale-safe; the oracle is the exact all-pairs filter."""
    from geojson_vt_rs_spark.operators.text_dedup import simhash_near_pairs

    docs = _spread_scan(
        spark, spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    return simhash_near_pairs(docs, hamming_max=3)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (rolling K-token-gram polynomial
    hashes, min per sliding window of W grams — Schleimer et al. SIGMOD'03):
    one (doc_id, fp) row per distinct selected fingerprint, from the
    numpy winnowing kernel (one md5 per distinct token + vectorized
    rolling-hash folds); the DuckDB twin is the same integer math."""
    from geojson_vt_rs_spark.operators.text_dedup import (
        winnow_fingerprint_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprint_rows(docs)


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs sharing >= 1 winnowed fingerprint (with
    the shared count) — the rolling-hash member of the dedup family.  A
    plain fp equi-join: complete blocking (any common run of W + K - 1
    tokens is guaranteed to share a fingerprint), no cross product."""
    from geojson_vt_rs_spark.operators.text_dedup import winnow_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_pairs(docs)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the
    confident minhash candidate edges (est_sim >= 0.5) via iterative
    min-label propagation — (doc_id, cluster_id) for every document.
    ITERATIVE, yet fully oracle-checked: the DuckDB twin is a recursive
    CTE computing the same components' min reachable id."""
    from geojson_vt_rs_spark.operators.components import dedup_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_clusters(docs)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components, SCALE algorithm: alternating large-star/small-star
    edge rewiring (Kiveris et al., SoCC'14) — O(log^2 n) rounds on
    long-chain graphs where plain propagation needs O(diameter).  Labels
    are identical to the label-propagation path by construction, so the
    same recursive-CTE oracle value-checks this iterative variant too."""
    from geojson_vt_rs_spark.operators.components import dedup_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_clusters(docs, algorithm="star")


def q_winnow_fingerprints_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same rows as winnow_fingerprints, kept under its own name so
    the query list stays stable: the operator has one implementation
    (the numpy kernel), checked by the same DuckDB oracle."""
    return q_winnow_fingerprints(spark, sf_dir)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's kept set: one row per near-dup cluster with
    its size; canonical doc = the one whose doc_id == cluster_id."""
    from geojson_vt_rs_spark.operators.components import dedup_canonical

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_canonical(docs)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for the LSH candidate pairs (verify stage of
    the near-dup pipeline)."""
    from geojson_vt_rs_spark.operators.text_dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 ANN baseline against the vec_id=0 query
    vector (zip_with dot product, sequential aggregate, round-6 scores)."""
    from geojson_vt_rs_spark.operators.text_dedup import ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(v) for v in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    return ann_topk(emb, qv, k=20)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language guess vs the labeled lang column."""
    from geojson_vt_rs_spark.operators.text_dedup import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = with_text_features(docs)
    guess = F.when(
        F.col("n_stop") * 10 >= F.col("n_tokens"), F.lit("en")
    ).otherwise(F.lit("other"))
    return d.select(F.col("lang"), guess.alias("guess")).groupBy(
        "lang", "guess"
    ).agg(F.count(F.lit(1)).alias("n"))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality aggregates: integer sums + exact-ratio division."""
    from geojson_vt_rs_spark.operators.text_dedup import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = with_text_features(docs)
    return d.groupBy("source").agg(
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_stop").alias("sum_stop"),
        F.sum("n_punct").alias("sum_punct"),
        (F.sum("n_stop").cast("double") / F.sum("n_tokens").cast("double")).alias(
            "stop_ratio"
        ),
        (F.sum("n_punct").cast("double") / F.sum("n_chars").cast("double")).alias(
            "punct_ratio"
        ),
    )


def q_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (md5 of lowercased whitespace-collapsed text,
    first 15 hex digits as int64) -> duplicate-group histogram."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = F.expr(
        "cast(conv(substr(md5(regexp_replace(lower(text), '\\\\s+', ' ')), 1, 15),"
        " 16, 10) as bigint)"
    )
    return (
        docs.select(fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("copies"))
        .groupBy("copies")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test assignment (90/5/5) ->
    per-(split, lang) doc counts + char volume.  The split is a pure
    row-local md5 function of doc_id (operators/sampling.py): no RNG, no
    shuffle, identical on every engine/parallelism/re-run — the
    reproducible-sharding primitive of a training-data pipeline."""
    from geojson_vt_rs_spark.operators.sampling import assign_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        assign_split(docs)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _sql_dataset_split() -> str:
    from geojson_vt_rs_spark.operators.sampling import duck_split_case

    return (
        "SELECT split, lang, count(*) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM ("
        f"SELECT lang, n_chars, {duck_split_case('doc_id')} AS split "
        "FROM documents) GROUP BY 1, 2"
    )


_MIX_RATES = {"en": 0.3}


def q_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-weighting: deterministically downsample the dominant
    language (en kept at 30%, others at 100%) by per-stratum hash-bucket
    rates -> per-language kept counts + volumes.  The keep predicate is
    a pure JVM expression Catalyst pushes into the parquet scan."""
    from geojson_vt_rs_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = stratified_sample(docs, "lang", _MIX_RATES)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _sql_stratified_mix() -> str:
    from geojson_vt_rs_spark.operators.sampling import duck_sample_pred

    return (
        "SELECT lang, count(*) AS n_kept, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
        f"FROM documents WHERE {duck_sample_pred('lang', _MIX_RATES)} "
        "GROUP BY 1"
    )


_QUOTA_K = 40


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap: keep at most 40 docs per source, best-first
    by (n_tokens DESC, doc_id) — exact salted two-phase top-k per group
    (operators/sampling.py quota_cap; a billion-page domain ranks in 16
    independent salt lanes, never one task) -> per-source kept stats."""
    from geojson_vt_rs_spark.operators.sampling import quota_cap
    from geojson_vt_rs_spark.operators.text_dedup import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = with_text_features(docs).select("doc_id", "source", "n_tokens")
    kept = quota_cap(
        feats,
        ["source"],
        [F.col("n_tokens").desc(), F.col("doc_id").asc()],
        k=_QUOTA_K,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("doc_id").alias("max_doc"),
    )


def _sql_domain_quota() -> str:
    from geojson_vt_rs_spark.operators.text_dedup import (
        duck_text_features_exprs,
    )

    e = duck_text_features_exprs()
    return (
        "SELECT source, count(*) AS n_kept, "
        "CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, "
        "CAST(min(n_tokens) AS BIGINT) AS min_tokens, "
        "max(doc_id) AS max_doc FROM ("
        "SELECT source, doc_id, n_tokens, row_number() OVER ("
        "PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rk FROM ("
        f"SELECT source, doc_id, {e['n_tokens']} AS n_tokens FROM documents"
        f")) WHERE rk <= {_QUOTA_K} GROUP BY 1"
    )


_PACK_BUDGET = 20_000


def q_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix budget fill: keep documents per language, in
    deterministic hash order, until each language's running token total
    reaches 20k — an EXACT distributed prefix-sum (coarse-range partial
    sums + broadcast offsets + intra-range windows; operators/
    sampling.py pack_to_budget), so no language ever sorts in one task.
    Oracle = the plain single-window cumulative sum it equals row-for-row."""
    from geojson_vt_rs_spark.operators.sampling import pack_to_budget
    from geojson_vt_rs_spark.operators.text_dedup import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = with_text_features(docs).select("doc_id", "lang", "n_tokens")
    kept = pack_to_budget(feats, "lang", "n_tokens", _PACK_BUDGET)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def _sql_token_budget_pack() -> str:
    from geojson_vt_rs_spark.operators.sampling import duck_pack_pred
    from geojson_vt_rs_spark.operators.text_dedup import (
        duck_text_features_exprs,
    )

    e = duck_text_features_exprs()
    cum = duck_pack_pred("lang", "n_tokens", _PACK_BUDGET)
    return (
        "SELECT lang, count(*) AS n_kept, "
        "CAST(sum(n_tokens) AS BIGINT) AS sum_tokens FROM ("
        f"SELECT lang, doc_id, n_tokens, {cum} AS cum FROM ("
        f"SELECT lang, doc_id, {e['n_tokens']} AS n_tokens FROM documents"
        f")) WHERE cum <= {_PACK_BUDGET} GROUP BY 1"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: a 10% hash holdout is the eval suite;
    every TRAIN doc sharing any word 5-gram with it is flagged.  The
    n-gram array is one JVM zip_with chain with the tokenize let-bound
    per row; the eval gram set is distinct+broadcast so the train side
    is map-side only (operators/decontam.py).  Per-language train size,
    contaminated count, and the kept-token total after the anti-join."""
    from geojson_vt_rs_spark.operators.decontam import (
        EVAL_CUT,
        contaminated_doc_ids,
    )
    from geojson_vt_rs_spark.operators.sampling import hash_bucket
    from geojson_vt_rs_spark.operators.text_dedup import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = with_text_features(docs).select(
        "doc_id", "lang", "text", "n_tokens"
    )
    bad = contaminated_doc_ids(feats).withColumn("_bad", F.lit(1))
    train = feats.filter(
        hash_bucket(F.col("doc_id"), "decon-v1") >= EVAL_CUT
    )
    return (
        train.join(F.broadcast(bad), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.coalesce(F.col("_bad"), F.lit(0))).alias("n_contam"),
            F.sum(
                F.when(F.col("_bad").isNull(), F.col("n_tokens")).otherwise(
                    F.lit(0)
                )
            ).alias("kept_tokens"),
        )
    )


def _sql_decontaminate() -> str:
    from geojson_vt_rs_spark.operators.decontam import (
        EVAL_CUT,
        duck_decontam_ctes,
    )
    from geojson_vt_rs_spark.operators.sampling import duck_hash_bucket
    from geojson_vt_rs_spark.operators.text_dedup import (
        duck_text_features_exprs,
    )

    e = duck_text_features_exprs()
    return (
        f"WITH {duck_decontam_ctes()} "
        "SELECT lang, count(*) AS n_train, "
        "CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM c) "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_contam, "
        "CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM c) "
        f"THEN 0 ELSE {e['n_tokens']} END) AS BIGINT) AS kept_tokens "
        f"FROM documents WHERE "
        f"{duck_hash_bucket('doc_id', 'decon-v1')} >= {EVAL_CUT} GROUP BY 1"
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: deterministically inject emails / IPv4s /
    SSN-shaped ids into the synthetic corpus (a stand-in for a source
    read — the tables ship PII-free), then redact with the fixed
    Java==RE2 pattern chain (operators/pii.py) and report per-language
    removal counts plus an md5 fingerprint SUM over the redacted text —
    the oracle pins the exact redacted strings, not just the counts."""
    from geojson_vt_rs_spark.operators.pii import with_pii_redacted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.withColumn(
        "text",
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' contact doc', "
            "cast(doc_id AS string), '@example.com') "
            "WHEN doc_id % 3 = 1 THEN concat(text, ' host 10.', "
            "cast(doc_id % 256 AS string), '.0.', "
            "cast((doc_id * 7) % 256 AS string)) ELSE text END"
        ),
    ).withColumn(
        "text",
        F.expr(
            "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' id 123-45-', "
            "lpad(cast(doc_id % 10000 AS string), 4, '0')) ELSE text END"
        ),
    )
    red = with_pii_redacted(aug)
    # bit_xor, not sum: 60-bit fingerprints overflow int64 under sum at
    # any real row count; xor is order-independent and never overflows
    return red.groupBy("lang").agg(
        F.sum("n_email").alias("n_email"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_id_num").alias("n_id_num"),
        F.expr(
            "bit_xor(cast(conv(substr(md5(redacted), 1, 15), 16, 10) "
            "AS bigint))"
        ).alias("redacted_fp"),
    )


def _sql_pii_redact() -> str:
    from geojson_vt_rs_spark.operators.pii import duck_pii_exprs

    aug1 = (
        "CASE WHEN doc_id % 3 = 0 THEN text || ' contact doc' || "
        "CAST(doc_id AS VARCHAR) || '@example.com' "
        "WHEN doc_id % 3 = 1 THEN text || ' host 10.' || "
        "CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
        "CAST((doc_id * 7) % 256 AS VARCHAR) ELSE text END"
    )
    aug2 = (
        "CASE WHEN doc_id % 7 = 0 THEN t1 || ' id 123-45-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE t1 END"
    )
    e = duck_pii_exprs()
    return (
        "SELECT lang, CAST(sum(n_email) AS BIGINT) AS n_email, "
        "CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4, "
        "CAST(sum(n_id_num) AS BIGINT) AS n_id_num, "
        "CAST(bit_xor(('0x' || substr(md5(redacted), 1, 15))::BIGINT) "
        "AS BIGINT) AS redacted_fp FROM ("
        f"SELECT lang, {e['n_email']} AS n_email, {e['n_ipv4']} AS n_ipv4, "
        f"{e['n_id_num']} AS n_id_num, {e['redacted']} AS redacted FROM ("
        f"SELECT lang, {aug2} AS text FROM ("
        f"SELECT doc_id, lang, {aug1} AS t1 FROM documents"
        "))) GROUP BY 1"
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality gate: distinct-token and duplicate-bigram
    counts per doc (operators/quality.py; pure JVM, row-local), rolled
    up per language with a repetitive-doc count (any dup bigram)."""
    from geojson_vt_rs_spark.operators.quality import with_repetition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = with_repetition(docs)
    return rep.groupBy("lang").agg(
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_distinct_tokens").alias("sum_distinct"),
        F.sum("n_dup_bigrams").alias("sum_dup_bigrams"),
        F.sum(
            F.when(F.col("n_dup_bigrams") > 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_repetitive"),
    )


def _sql_repetition_stats() -> str:
    from geojson_vt_rs_spark.operators.quality import duck_repetition_exprs

    e = duck_repetition_exprs()
    return (
        "SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, "
        "CAST(sum(n_distinct_tokens) AS BIGINT) AS sum_distinct, "
        "CAST(sum(n_dup_bigrams) AS BIGINT) AS sum_dup_bigrams, "
        "CAST(sum(CASE WHEN n_dup_bigrams > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_repetitive FROM ("
        f"SELECT lang, {e['n_tokens']} AS n_tokens, "
        f"{e['n_distinct_tokens']} AS n_distinct_tokens, "
        f"{e['n_dup_bigrams']} AS n_dup_bigrams FROM documents"
        ") GROUP BY 1"
    )


def q_corpus_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-corpus curation funnel as one declarative
    query: quality gate (integer-exact predicates: >= 5 tokens AND punct
    under 20%% of chars) -> near-dup resolution (minhash LSH edges ->
    connected components) -> per-language retention stats.  A document
    is KEPT when it passes quality AND is its cluster's canonical
    (doc_id == cluster_id).  Every stage shuffles on keys (no
    broadcast-size assumptions); the oracle composes the text-feature
    exprs with the recursive-CTE components twin."""
    from geojson_vt_rs_spark.operators.components import dedup_clusters
    from geojson_vt_rs_spark.operators.text_dedup import with_text_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = with_text_features(docs).select(
        "doc_id", "lang", "n_tokens", "n_punct", "n_chars"
    )
    cl = dedup_clusters(docs)
    j = feats.join(cl, "doc_id")
    q = (
        (F.col("n_tokens") >= 5) & (F.col("n_punct") * 5 <= F.col("n_chars"))
    ).cast("long")
    canon = (F.col("cluster_id") == F.col("doc_id")).cast("long")
    return (
        j.select("lang", q.alias("q"), (q * canon).alias("qk"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("q").alias("n_quality"),
            F.sum("qk").alias("n_kept"),
        )
    )


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked (the scale
    path): 16-bit sketch hamming <= 4 via pigeonhole band equi-joins,
    exact round-6 cosine rescore at threshold 0.45.  No all-pairs
    BroadcastNestedLoopJoin anywhere in the plan; the exact all-pairs
    variant is kept test-only (tests/test_ann_salting.py recall check)."""
    from geojson_vt_rs_spark.operators.ann import cosine_near_dup_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_near_dup_blocked(
        emb, dim=64, threshold=0.45, bits=16, hamming_max=4
    )


def _sql_cosine_near_dup() -> str:
    from geojson_vt_rs_spark.operators.ann import duck_cosine_near_dup_sql

    return duck_cosine_near_dup_sql(
        dim=64, threshold=0.45, bits=16, hamming_max=4
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("win_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # per-row fixed-point conversion keeps the sum an integer ->
            # order-independent, exact across engines; explicit floor()
            # because bare double->int casts truncate in Spark but round
            # in DuckDB
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
                "sum_value_milli"
            ),
        )
    )


SQL_EVENT_WINDOWS = (
    "SELECT date_trunc('hour', ts) AS win_start, event_type, "
    "count(*) AS n, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) "
    "AS sum_value_milli FROM events GROUP BY 1, 2"
)


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode path: deterministic synthetic image table ->
    decode (PNG/JPEG/raw) -> per-format pixel stats via mapInPandas.  Not
    Per-image luminance is fixed-point (floor(mean * 1e6), an int64) so
    the cross-row sum is order-independent and the avg an integer-ratio
    division — byte-identical to the DuckDB twin, which recomputes each
    image's pixels directly (an INDEPENDENT path: the oracle checks the
    png encode->decode roundtrip against the raw generator)."""
    import pandas as pd

    from geojson_vt_rs_spark.sources.images import decode_image, generate_images

    imgs = generate_images(spark, 512, 8)

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rgb = decode_image(r.bytes, int(r.w), int(r.h), r.fmt)
                rows.append(
                    dict(
                        fmt=r.fmt,
                        n=1,
                        lum_micro=int(
                            np.floor(rgb.astype(np.float64).mean() * 1e6)
                        ),
                        px=int(rgb.shape[0] * rgb.shape[1]),
                    )
                )
            yield pd.DataFrame(rows, columns=["fmt", "n", "lum_micro", "px"])

    d = imgs.mapInPandas(
        stats, schema="fmt string, n long, lum_micro long, px long"
    )
    return d.groupBy("fmt").agg(
        F.sum("n").alias("n_images"),
        F.sum("px").alias("total_px"),
        (F.sum("lum_micro") / F.sum("n")).alias("avg_lum_micro"),
    )


_N_AUDIO = 240


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal AUDIO decode path: deterministic synthetic clip table
    (wav/wav/rawa rotation, real pure-numpy RIFF-PCM16 codec) ->
    decode -> per-format signal stats via mapInPandas.  Zero crossings
    and per-clip mean energy (sum(s^2) div n) are exact integers, so
    cross-row sums are order-free; the oracle recomputes every clip
    from the raw generator — wav clips THROUGH the encode->decode
    roundtrip (an independent check of the container codec)."""
    import pandas as pd

    from geojson_vt_rs_spark.sources.audio import decode_audio, generate_audio

    clips = generate_audio(spark, _N_AUDIO, 8)

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                s = decode_audio(r.bytes, r.fmt, int(r.n_samples)).astype(
                    np.int64
                )
                nonneg = s >= 0
                rows.append(
                    dict(
                        fmt=r.fmt,
                        n=1,
                        ns=len(s),
                        zc=int(np.count_nonzero(nonneg[1:] != nonneg[:-1])),
                        energy=int(np.sum(s * s) // len(s)),
                    )
                )
            yield pd.DataFrame(rows, columns=["fmt", "n", "ns", "zc", "energy"])

    d = clips.mapInPandas(
        stats, schema="fmt string, n long, ns long, zc long, energy long"
    )
    return d.groupBy("fmt").agg(
        F.sum("n").alias("n_clips"),
        F.sum("ns").alias("total_samples"),
        F.sum("zc").alias("total_zc"),
        (F.sum("energy") / F.sum("n")).alias("avg_energy"),
    )


def _sql_audio_stats() -> str:
    # clip table is a pure function of the row index: recompute
    # (fmt, n_samples, zero crossings, mean energy) per clip and inline
    # as VALUES; wav clips go THROUGH encode_wav->decode_wav (PCM is
    # lossless so values equal the raw generator's — which is exactly
    # what makes this an independent roundtrip check), rawa direct.
    import numpy as np

    from geojson_vt_rs_spark.sources.audio import (
        clip_spec,
        decode_wav,
        encode_wav,
        make_samples,
    )

    vals = []
    for i in range(_N_AUDIO):
        fmt, ns = clip_spec(i)
        s = make_samples(i, ns)
        if fmt == "wav":
            _, s = decode_wav(encode_wav(s))
        s = s.astype(np.int64)
        nonneg = s >= 0
        zc = int(np.count_nonzero(nonneg[1:] != nonneg[:-1]))
        energy = int(np.sum(s * s) // len(s))
        vals.append(
            f"('{fmt}', CAST({ns} AS BIGINT), CAST({zc} AS BIGINT), "
            f"CAST({energy} AS BIGINT))"
        )
    return (
        f"WITH a(fmt, ns, zc, energy) AS (VALUES {', '.join(vals)}) "
        "SELECT fmt, CAST(count(*) AS BIGINT) AS n_clips, "
        "CAST(sum(ns) AS BIGINT) AS total_samples, "
        "CAST(sum(zc) AS BIGINT) AS total_zc, "
        "CAST(sum(energy) AS BIGINT) / count(*) AS avg_energy "
        "FROM a GROUP BY 1"
    )


def _sql_image_stats() -> str:
    # the image table is a pure function of the row index: recompute
    # (fmt, lum_micro, px) per image from the raw pixel generator and
    # inline as VALUES — no decode needed oracle-side for the lossless
    # formats (so the VALUES independently check the png encode->decode
    # roundtrip); jpeg is lossy, so its luminance is recomputed through
    # the deterministic encode->decode roundtrip (checks plumbing +
    # codec determinism; codec fidelity has its own PSNR gate in
    # tests/test_graft.py)
    import numpy as np

    from geojson_vt_rs_spark.sources.images import _SIZES, make_pixels
    from geojson_vt_rs_spark.sources.jpeg import decode_jpeg, encode_jpeg

    vals = []
    for i in range(512):
        w = _SIZES[i % 3]
        h = _SIZES[(i // 3) % 3]
        rgb = make_pixels(i, w, h)
        fmt = ("png", "png", "jpeg", "raw")[i % 4]
        if fmt == "jpeg":
            rgb = decode_jpeg(encode_jpeg(rgb))
        lum = int(np.floor(rgb.astype(np.float64).mean() * 1e6))
        vals.append(f"('{fmt}', CAST({lum} AS BIGINT), CAST({w * h} AS BIGINT))")
    return (
        f"WITH p(fmt, lum_micro, px) AS (VALUES {', '.join(vals)}) "
        "SELECT fmt, count(*) AS n_images, CAST(sum(px) AS BIGINT) AS total_px, "
        "CAST(sum(lum_micro) AS BIGINT) / count(*) AS avg_lum_micro "
        "FROM p GROUP BY 1"
    )


_N_VIDEOS = 40


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling: deterministic synthetic video table (half
    VTV1 containers with PNG-compressed frames, half raw concatenated
    frames) -> every-4th-frame sample via mapInPandas -> fixed-point
    mean luminance per sampled frame.  The oracle recomputes each
    frame's luminance from the raw generator, independently checking
    BOTH decode paths (vtv container parse + png frame decode, raw
    reshape)."""
    from geojson_vt_rs_spark.operators.multimodal import (
        frame_sample,
        generate_videos,
    )

    vids = generate_videos(spark, _N_VIDEOS, 8)
    return frame_sample(vids, every=4).select(
        "video_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.floor(F.col("mean_lum") * 1e6).cast("long").alias("lum_micro"),
    )


def _sql_frame_sample() -> str:
    import numpy as np

    from geojson_vt_rs_spark.operators.multimodal import make_frames

    vals = []
    for i in range(_N_VIDEOS):
        frames = make_frames(i)
        for fi in range(0, len(frames), 4):
            lum = int(np.floor(frames[fi].astype(np.float64).mean() * 1e6))
            vals.append(f"('vid{i:06d}', {fi}, CAST({lum} AS BIGINT))")
    return (
        f"SELECT * FROM (VALUES {', '.join(vals)}) "
        "AS t(video_id, frame_idx, lum_micro)"
    )


_N_PHASH_IMAGES = 512


def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: 64-bit phash,
    hamming <= 1, via two 32-bit pigeonhole band equi-joins (complete;
    no all-pairs join).  The image table is the deterministic distributed
    synthesis (input_hint shape), so the oracle inlines the same phash
    values as SQL literals."""
    from geojson_vt_rs_spark.operators.ann import hamming_near_pairs
    from geojson_vt_rs_spark.sources.images import generate_images

    imgs = generate_images(spark, _N_PHASH_IMAGES).select("image_id", "phash")
    return hamming_near_pairs(imgs, "image_id", "phash", 64, 1).select(
        F.col("id_a").alias("img_a"),
        F.col("id_b").alias("img_b"),
        "hamming",
    )


def _sql_phash_near_dups() -> str:
    # phash is a pure function of the row index — inline the same values
    # the distributed generator computes (no pixels needed oracle-side)
    from geojson_vt_rs_spark.sources.images import (
        _SIZES,
        compute_phash,
        make_pixels,
    )

    vals = ", ".join(
        f"('img{i:08d}', CAST({compute_phash(make_pixels(i, _SIZES[i % 3], _SIZES[(i // 3) % 3]))} AS BIGINT))"
        for i in range(_N_PHASH_IMAGES)
    )
    return (
        f"WITH p(image_id, phash) AS (VALUES {vals}) "
        "SELECT a.image_id AS img_a, b.image_id AS img_b, "
        "CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming "
        "FROM p a JOIN p b ON a.image_id < b.image_id "
        "WHERE bit_count(xor(a.phash, b.phash)) <= 1"
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letter runs / digit runs / single
    punctuation — the pre-tokenizer shape of GPT-style BPE), ASCII-safe
    so Java and RE2 regex semantics agree."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Spark SQL string literals process backslash escapes; DuckDB's don't
    pat = _BPE_PATTERN.replace("\\", "\\\\")
    toks = F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)"))
    return d.groupBy("lang").agg(
        F.sum(toks.cast("long")).alias("bpe_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_BPE_TOKEN_STATS = (
    "SELECT lang, "
    f"CAST(sum(len(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS BIGINT) AS bpe_tokens, "
    "count(*) AS n_docs FROM documents GROUP BY 1"
)


def q_salted_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-phase aggregation (hot metro cells): the
    oracle is the PLAIN group-by count — proving the salted plan computes
    identical results while bounding per-reducer fan-in."""
    from geojson_vt_rs_spark.functions.salting import salted_count

    pts = _orders_points(spark, sf_dir)
    mx = mercator_x(F.col("lon"))
    my = mercator_y(F.col("lat"))
    cx, cy = cell_xy(mx, my, 7)
    cells = pts.select(cell_id(7, cx, cy).alias("cell"))
    return salted_count(cells, ["cell"], n_salts=16, out="n_points")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN scale path (random-hyperplane multi-probe via a
    hamming-ball bit_count filter + exact rescore).  The hyperplanes are a
    pure function of (seed, dim) on BOTH engines, every float op a
    sequential left fold — fully oracle-checkable
    (duck_lsh_topk_sql); recall vs brute force asserted in
    tests/test_ann_salting.py."""
    from geojson_vt_rs_spark.operators.ann import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(v) for v in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    return lsh_topk(emb, qv, k=10, bits=6, probe_radius=2)


def _sql_ann_lsh_topk() -> str:
    from geojson_vt_rs_spark.operators.ann import duck_lsh_topk_sql

    return duck_lsh_topk_sql(dim=64, k=10, bits=6, probe_radius=2)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the memory-bound scale path: NSUB
    bytes/vector codes): per-subspace argmin codes against codebooks
    derived from the first 16 rows, ADC lookup-table scoring, exact
    round-6 rescore of the 40 best candidates.  Codes and ADC sums come
    from one numpy kernel; the DuckDB twin re-derives codebooks, codes,
    and the ADC sums."""
    from geojson_vt_rs_spark.operators.ann import pq_codebooks, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter("vec_id < 16").collect()
    )
    # the query vector is row 0 of the already-collected codebook rows
    # (one Spark job instead of two; identical floats)
    qv = list(next(v for i, v in rows if i == 0))
    return pq_topk(emb, qv, pq_codebooks(rows), k=10, rescore=40)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN scale path: coarse cells from the 16 vec_id<16
    rows as centroids (normalized with sequential folds), probe the 2
    nearest cells, exact round-6 rescore.  Cell assignment is a numpy
    kernel with the oracle's fold order, so the whole pipeline has a
    DuckDB twin that re-derives the centroids from the table
    (sf-independent)."""
    from geojson_vt_rs_spark.operators.ann import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.filter("vec_id < 16").collect()
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in rows
    )
    # query vector = centroid row 0 (one collect job instead of two)
    qv = list(next(v for i, v in cents if i == 0))
    return ivf_topk(emb, qv, cents, k=10, n_probe=2)


def _sql_ann_pq_topk() -> str:
    from geojson_vt_rs_spark.operators.ann import duck_pq_topk_sql

    return duck_pq_topk_sql(k=10, rescore=40)


def _sql_ann_ivf_topk() -> str:
    from geojson_vt_rs_spark.operators.ann import duck_ivf_topk_sql

    return duck_ivf_topk_sql(n_centroids=16, k=10, n_probe=2)


def q_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023): hashed-unigram
    likelihood-ratio scores against the lang='en' target subcorpus,
    exact fixed-point integer math (no transcendental accumulation),
    top-100 by mean weight via TakeOrderedAndProject.  The per-doc
    bucket histogram comes from one Arrow kernel; the <=4096-row weight
    table broadcasts back onto it, so scoring is map-side + one per-doc
    partial agg."""
    from geojson_vt_rs_spark.operators.importance import importance_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return importance_topk(docs, target_pred="lang = 'en'", k=100)


def _sql_importance_topk() -> str:
    from geojson_vt_rs_spark.operators.importance import (
        duck_importance_topk_sql,
    )

    return duck_importance_topk_sql(target_pred="lang = 'en'", k=100)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span profile (Lee et al. 2022 signal): per doc,
    how many of its 8-token gram positions occur in >=2 distinct
    documents, as an exact integer permille.  Grams shuffle as one
    md5-derived BIGINT each (text never leaves the scan stage); the
    membership join is a shuffled equi-join on the uniform hash."""
    from geojson_vt_rs_spark.operators.decontam import dup_span_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_span_stats(docs, k=8)


def _sql_dup_spans() -> str:
    from geojson_vt_rs_spark.operators.decontam import duck_dup_span_sql

    return duck_dup_span_sql(k=8)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): IVF-cell
    cluster (16 centroids = the vec_id<16 rows), then drop rows with a
    lower-id round-6-cosine>=0.3 partner WITHIN their cell.  Pairwise
    work is per-cell only (grouped on ivf_cell) — the paper's cost
    model — and fully oracle-checkable (duck_semantic_dedup_sql)."""
    from geojson_vt_rs_spark.operators.ann import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.filter("vec_id < 16").collect()
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in rows
    )
    return semantic_dedup(emb, cents, threshold=0.3)


def _sql_semantic_dedup() -> str:
    from geojson_vt_rs_spark.operators.ann import duck_semantic_dedup_sql

    return duck_semantic_dedup_sql(n_centroids=16, threshold=0.3)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword-search top-20 (k1=1.2, b=0.75) for the corpus's own
    top-3 df terms: per-(doc, term) contributions floor to fixed-point
    BIGINT so the per-doc score is an order-free integer sum; idf is the
    repo's round-6 in-engine ln convention.  No window, no join on the
    data path (3-branch CASE idf), top-k = TakeOrderedAndProject."""
    from geojson_vt_rs_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, k=20, n_query_terms=3)


def _sql_bm25_topk() -> str:
    from geojson_vt_rs_spark.operators.search import duck_bm25_sql

    return duck_bm25_sql(k=20, n_query_terms=3)


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive AS-OF join (the point-in-time primitive Spark
    lacks natively): each purchase event matched to the same user's
    latest prior non-purchase touchpoint.  Union + last-ignorenulls
    over a window PARTITIONED by user — ONE shuffle, no per-left
    candidate sets; right-side (key, ts) ties pre-collapse to the
    max-id row so the match is total-order deterministic.  The oracle
    is DuckDB's NATIVE ASOF LEFT JOIN — a genuinely independent
    implementation of the semantics."""
    from geojson_vt_rs_spark.operators.asof import purchase_attribution

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return purchase_attribution(ev)


def _sql_asof_attribution() -> str:
    from geojson_vt_rs_spark.operators.asof import (
        duck_purchase_attribution_sql,
    )

    return duck_purchase_attribution_sql()


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group discrete quantiles (p50/p90/p99 of order totals
    per priority) by DEFINITION — value at 0-based rank floor(q*(n-1))
    under a deterministic total order — so the rollup is byte-identical
    cross-engine (approx_percentile/quantile_disc tie semantics are
    not).  One shuffle; rank + size share one partitioned sort."""
    from geojson_vt_rs_spark.operators.quantiles import group_quantiles

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return group_quantiles(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    )


def _sql_group_quantiles() -> str:
    from geojson_vt_rs_spark.operators.quantiles import (
        duck_group_quantiles_sql,
    )

    return duck_group_quantiles_sql(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (Beyer et al. SIGMOD'07): distinct
    custkeys per order priority from the 256 minimum md5 hashes — the
    bounded-state alternative to exact count-distinct at 100 TB.
    Deterministic given the hash, so the 'sketch' has an EXACT oracle.
    Salt-lane partitioned rank windows (the domain_quota pattern),
    never an unpartitioned sort; shuffle volume caps at groups*k rows
    after the first distinct."""
    from geojson_vt_rs_spark.operators.sketch import kmv_distinct

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return kmv_distinct(orders, "o_orderpriority", "o_custkey", k=256)


def _sql_kmv_distinct() -> str:
    from geojson_vt_rs_spark.operators.sketch import duck_kmv_sql

    return duck_kmv_sql("o_orderpriority", "o_custkey", k=256)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020): add-one
    smoothed hashed-bigram LM trained on the corpus itself, top-100
    most fluent docs by mean fixed-point NLL (integer sum — shuffle-
    order-free).  The per-doc bigram histogram is computed row-locally
    in ONE Arrow kernel (never exploding the token stream); ln wears
    the repo's round-6 in-engine convention; the cut is
    TakeOrderedAndProject."""
    from geojson_vt_rs_spark.operators.lm import lm_perplexity_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm_perplexity_topk(docs, k=100)


def _sql_lm_perplexity() -> str:
    from geojson_vt_rs_spark.operators.lm import duck_lm_perplexity_sql

    return duck_lm_perplexity_sql(k=100)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (8h quiet period) + session rollup
    over the event stream.  ONE shuffle: lag + the running new-session
    sum share a window spec, and the (key, session_seq) groupBy is
    satisfied by the window's hash partitioning (ClusteredDistribution
    subset) — no second exchange.  All aggregates are order-free
    integer sums (epoch micros / fixed-point cents)."""
    from geojson_vt_rs_spark.operators.sessions import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, "user_id", "ts", "event_id", "value")


def _sql_sessionize() -> str:
    from geojson_vt_rs_spark.operators.sessions import duck_sessionize_sql

    return duck_sessionize_sql("events", "user_id", "ts", "event_id", "value")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval join (the inequality-join shape Spark lowers
    to a BroadcastNestedLoopJoin): campaign windows explode to the
    week buckets they overlap, points equi-join on their single
    bucket, exact range filter after — complete and duplicate-free by
    construction.  The oracle is DuckDB's NATIVE range join on the
    bare inequality predicate."""
    from geojson_vt_rs_spark.operators.rangejoin import (
        campaign_order_stats,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return campaign_order_stats(orders)


def _sql_range_join() -> str:
    from geojson_vt_rs_spark.operators.rangejoin import (
        duck_campaign_order_stats_sql,
    )

    return duck_campaign_order_stats_sql()


def q_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent trigrams (the boilerplate/template detector):
    word-count shape — map-side partial agg collapses the exploded
    gram stream before the shuffle; the cut is a
    TakeOrderedAndProject under the total order (cnt DESC, gram ASC).
    Shares the decontam tokenizer/gram exprs, so the oracle is
    byte-identical by construction."""
    from geojson_vt_rs_spark.operators.ngram_stats import topk_ngrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return topk_ngrams(docs, n=3, k=100)


def _sql_topk_ngrams() -> str:
    from geojson_vt_rs_spark.operators.ngram_stats import (
        duck_topk_ngrams_sql,
    )

    return duck_topk_ngrams_sql(n=3, k=100)


def q_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global concat-and-chunk packing (GPT-pretraining prep): the
    global token offset comes from the two-phase cumsum — ordered id
    buckets, tiny per-bucket sums prefix-scanned on the driver,
    within-bucket PARTITIONED windows — never the unpartitioned
    global window the DuckDB oracle uses (an independent formulation
    of the same BIGINT arithmetic)."""
    from geojson_vt_rs_spark.operators.chunking import chunk_pack

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_pack(docs, chunk_len=512, bucket_width=64)


def _sql_chunk_pack() -> str:
    from geojson_vt_rs_spark.operators.chunking import duck_chunk_pack_sql

    return duck_chunk_pack_sql(chunk_len=512)


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-24h activity (rate-limit / abuse-signal
    features): RANGE-framed window partitioned by user over exact
    integer microseconds — tie-stable by construction (same-us peers
    share a frame), one shuffle, fixed-point integer sums."""
    from geojson_vt_rs_spark.operators.rolling import rolling_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rolling_stats(ev, "user_id", "ts", "event_id", "value")


def _sql_rolling_stats() -> str:
    from geojson_vt_rs_spark.operators.rolling import duck_rolling_sql

    return duck_rolling_sql("events", "user_id", "ts", "event_id", "value")


def q_zorder_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) locality layout: interleave z10 quad-cell bits
    so spatially adjacent cells take numerically adjacent keys, then
    roll up 4096-key blocks (n_points + key range) — the lakehouse
    Z-ORDER clustering stat that predicts bbox-scan row-group pruning.
    Pure 64-bit magic-number spreads, whole-stage codegen."""
    from geojson_vt_rs_spark.functions.zorder import morton_key

    pts = _orders_points(spark, sf_dir)
    mx = mercator_x(F.col("lon"))
    my = mercator_y(F.col("lat"))
    cx, cy = cell_xy(mx, my, 10)
    return (
        pts.select(morton_key(cx, cy, 10).alias("morton"))
        .withColumn("block", F.expr("morton DIV 4096"))
        .groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("morton").alias("lo_key"),
            F.max("morton").alias("hi_key"),
        )
    )


def _sql_zorder_blocks() -> str:
    from geojson_vt_rs_spark.functions.zorder import sql_morton

    mx = sql_mercator_x("lon")
    my = sql_mercator_y("lat")
    cx, cy = sql_cell_xy(mx, my, 10)
    return (
        f"WITH p AS ({_SQL_POINTS}), "
        f"c AS (SELECT {cx} AS cx, {cy} AS cy FROM p), "
        f"m AS (SELECT {sql_morton('cx', 'cy')} AS morton FROM c) "
        "SELECT morton // 4096 AS block, "
        "CAST(count(*) AS BIGINT) AS n_points, "
        "min(morton) AS lo_key, max(morton) AS hi_key "
        "FROM m GROUP BY block"
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic OLAP join shape (TPC-H Q3-like): customer x orders x
    lineitem, top-10 open orders by revenue.  The small dimension
    (filtered customers) BROADCASTS, the orders-lineitem fact join
    shuffles on the key, revenue folds in fixed-point micros
    (cents x (100 - disc_hundredths) — pure BIGINT, order-free), and
    the cut is a TakeOrderedAndProject.  Demonstrates that standard
    star-schema SQL rides the same oracle contract as the custom ops."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    c = cust.filter(F.col("c_custkey") % 10 < 3).select("c_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    rev = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        * (
            F.lit(100).cast("bigint")
            - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
        )
    )
    l = li.select("l_orderkey", rev.alias("rev_micro"))
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.sum("rev_micro").alias("revenue_micro"))
    )
    return joined.orderBy(
        F.desc("revenue_micro"), F.asc("o_orderkey")
    ).limit(10)


SQL_TOP_REVENUE = (
    "WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 < 3), "
    "o AS (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders "
    "WHERE o_orderstatus = 'O'), "
    "l AS (SELECT l_orderkey, "
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * "
    "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS rev_micro "
    "FROM lineitem) "
    "SELECT o.o_orderkey, o.o_orderpriority, "
    "CAST(sum(l.rev_micro) AS BIGINT) AS revenue_micro "
    "FROM o JOIN c ON o.o_custkey = c.c_custkey "
    "JOIN l ON o.o_orderkey = l.l_orderkey "
    "GROUP BY o.o_orderkey, o.o_orderpriority "
    "ORDER BY revenue_micro DESC, o.o_orderkey ASC LIMIT 10"
)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-means (Lloyd's, 8 clusters x 3 rounds) for topic
    balancing: fixed-point BIGINT arithmetic end to end, so the
    iterative algorithm is EXACTLY oracle-checkable (the DuckDB twin
    unrolls the loop into chained CTEs).  Assignment and partial sums
    are one numpy kernel per round (centroids in the closure); each
    round is one job collecting K*dims ints."""
    from geojson_vt_rs_spark.operators.clustering import (
        kmeans_cluster_stats,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_cluster_stats(emb, n_clusters=8, iterations=3)


def _sql_kmeans_clusters() -> str:
    from geojson_vt_rs_spark.operators.clustering import duck_kmeans_sql

    return duck_kmeans_sql(n_clusters=8, iterations=3, dims=64)


# ---------------------------------------------- end-to-end engine (no SQL)
def q_vt_total_us_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replays the reference's get_tile_us_states scenario (tests.rs:404-431)
    through the DISTRIBUTED pyramid: build index with default Options,
    look up z7/37/48, z9/148/192, and the missing z11/800/400 twice, then
    report the memoized tile total.  The oracle constant 37 is the
    reference's own asserted value."""
    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

    feats = read_geojson_features(spark, US_STATES)
    index = SparkGeoJSONVT(spark, feats, Options())
    t1 = index.get_tile(7, 37, 48)
    t2 = index.get_tile(9, 148, 192)
    index.get_tile(11, 800, 400)
    index.get_tile(11, 800, 400)
    return spark.createDataFrame(
        [(index.total, len(t1.features), len(t2.features))],
        "total_tiles long, z7_features long, z9_features long",
    )


SQL_VT_TOTAL = (
    "SELECT CAST(37 AS BIGINT) AS total_tiles, CAST(6 AS BIGINT) AS z7_features, "
    "CAST(1 AS BIGINT) AS z9_features"
)


# ----------------------------------------------------------------- contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: batched quad-cell assignment + per-cell counts at sf0.001."""
    _ship_package(spark)
    return q_cell_assign(spark, "/root/testdata/sf0.001")


def _sql_lang_id() -> str:
    from geojson_vt_rs_spark.operators.text_dedup import duck_text_features_exprs

    e = duck_text_features_exprs()
    return (
        "SELECT lang, CASE WHEN n_stop * 10 >= n_tokens THEN 'en' ELSE 'other' "
        "END AS guess, count(*) AS n FROM ("
        f"SELECT lang, {e['n_stop']} AS n_stop, {e['n_tokens']} AS n_tokens "
        "FROM documents) GROUP BY 1, 2"
    )


def _sql_quality() -> str:
    from geojson_vt_rs_spark.operators.text_dedup import duck_text_features_exprs

    e = duck_text_features_exprs()
    return (
        "SELECT source, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, "
        "CAST(sum(n_stop) AS BIGINT) AS sum_stop, "
        "CAST(sum(n_punct) AS BIGINT) AS sum_punct, "
        "CAST(sum(n_stop) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS stop_ratio, "
        "CAST(sum(n_punct) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE) AS punct_ratio "
        "FROM ("
        f"SELECT source, {e['n_tokens']} AS n_tokens, {e['n_stop']} AS n_stop, "
        f"{e['n_punct']} AS n_punct, {e['n_chars']} AS n_chars FROM documents"
        ") GROUP BY 1"
    )


def _sql_dedup_clusters() -> str:
    from geojson_vt_rs_spark.operators.components import (
        duck_dedup_clusters_sql,
    )

    return duck_dedup_clusters_sql()


def _sql_dedup_canonical() -> str:
    from geojson_vt_rs_spark.operators.components import (
        duck_dedup_canonical_sql,
    )

    return duck_dedup_canonical_sql()


def _sql_corpus_retention() -> str:
    from geojson_vt_rs_spark.operators.components import (
        duck_dedup_clusters_sql,
    )
    from geojson_vt_rs_spark.operators.text_dedup import (
        duck_text_features_exprs,
    )

    e = duck_text_features_exprs()
    return (
        f"WITH cl AS ({duck_dedup_clusters_sql()}), "
        f"f AS (SELECT doc_id, lang, {e['n_tokens']} AS n_tokens, "
        f"{e['n_punct']} AS n_punct, {e['n_chars']} AS n_chars "
        "FROM documents), "
        "j AS (SELECT f.lang, "
        "CASE WHEN f.n_tokens >= 5 AND f.n_punct * 5 <= f.n_chars "
        "THEN 1 ELSE 0 END AS q, "
        "CASE WHEN c.cluster_id = f.doc_id THEN 1 ELSE 0 END AS canon "
        "FROM f JOIN cl c ON c.doc_id = f.doc_id) "
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_total, "
        "CAST(sum(q) AS BIGINT) AS n_quality, "
        "CAST(sum(q * canon) AS BIGINT) AS n_kept FROM j GROUP BY 1"
    )


def _sql_simhash() -> str:
    from geojson_vt_rs_spark.operators.text_dedup import duck_simhash_sql

    return duck_simhash_sql("documents")


def _sql_simhash_near_pairs() -> str:
    # exact all-pairs filter (oracle scale); the Spark side reaches the
    # same set through complete pigeonhole band blocking
    return (
        f"WITH s AS ({_sql_simhash()}) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        "FROM s a JOIN s b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )


SQL_FINGERPRINT = (
    "SELECT copies, count(*) AS n_groups FROM ("
    "SELECT ('0x' || substr(md5(regexp_replace(lower(text), '\\s+', ' ', 'g')),"
    " 1, 15))::BIGINT AS fp, count(*) AS copies FROM documents GROUP BY 1"
    ") GROUP BY 1"
)


def _sql_ann_topk(k: int = 20) -> str:
    # query vector + its norm computed inside DuckDB from the same view
    return (
        "WITH q AS (SELECT embedding::DOUBLE[] AS qv, "
        "sqrt(list_sum(list_transform(embedding::DOUBLE[], v -> v * v))) AS qn "
        "FROM embeddings WHERE vec_id = 0), "
        "scored AS (SELECT e.vec_id, round("
        "list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv), "
        "p -> p[1] * p[2])) / "
        "(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], v -> v * v))) * q.qn)"
        ", 6) AS cos FROM embeddings e CROSS JOIN q) "
        "SELECT vec_id, rnk, cos FROM (SELECT vec_id, cos, "
        "row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rnk FROM scored) "
        f"WHERE rnk <= {k}"
    )


def _shipped(fn):
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    wrapper.__name__ = fn.__name__
    wrapper.__doc__ = fn.__doc__
    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _shipped(fn)
        for name, fn in _raw_queries().items()
    }


def _raw_queries() -> dict:
    return {
        "cell_assign": q_cell_assign,
        "tile_stats_per_zoom": q_tile_stats_per_zoom,
        "split_stop": q_split_stop,
        "bbox_prune": q_bbox_prune,
        "wrap_copies": q_wrap_copies,
        "pip_join": q_pip_join,
        "knn_join": q_knn_join,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "minhash_pairs": q_minhash_pairs,
        "simhash": q_simhash,
        "simhash_near_pairs": q_simhash_near_pairs,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "winnow_fingerprints_batch": q_winnow_fingerprints_batch,
        "dedup_canonical": q_dedup_canonical,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_topk": q_ann_topk,
        "lang_id": q_lang_id,
        "quality_scores": q_quality_scores,
        "fingerprint_dups": q_fingerprint_dups,
        "dataset_split": q_dataset_split,
        "stratified_mix": q_stratified_mix,
        "domain_quota": q_domain_quota,
        "token_budget_pack": q_token_budget_pack,
        "decontaminate": q_decontaminate,
        "pii_redact": q_pii_redact,
        "repetition_stats": q_repetition_stats,
        "corpus_retention": q_corpus_retention,
        "cosine_near_dup": q_cosine_near_dup,
        "event_windows": q_event_windows,
        "image_stats": q_image_stats,
        "bpe_token_stats": q_bpe_token_stats,
        "salted_cell_counts": q_salted_cell_counts,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "semantic_dedup": q_semantic_dedup,
        "kmeans_clusters": q_kmeans_clusters,
        "sessionize": q_sessionize,
        "range_join": q_range_join,
        "topk_ngrams": q_topk_ngrams,
        "chunk_pack": q_chunk_pack,
        "rolling_stats": q_rolling_stats,
        "zorder_blocks": q_zorder_blocks,
        "audio_stats": q_audio_stats,
        "top_revenue_orders": q_top_revenue_orders,
        "bm25_topk": q_bm25_topk,
        "importance_topk": q_importance_topk,
        "lm_perplexity": q_lm_perplexity,
        "kmv_distinct": q_kmv_distinct,
        "asof_attribution": q_asof_attribution,
        "group_quantiles": q_group_quantiles,
        "dup_spans": q_dup_spans,
        "phash_near_dups": q_phash_near_dups,
        "frame_sample": q_frame_sample,
        "vt_total_us_states": q_vt_total_us_states,
    }


def oracle_sql() -> dict[str, str]:
    from geojson_vt_rs_spark.operators.text_dedup import (
        duck_minhash_pairs_sql,
        duck_ngram_jaccard_sql,
        duck_winnow_pairs_sql,
        duck_winnow_sql,
    )

    return {
        "cell_assign": SQL_CELL_ASSIGN,
        "tile_stats_per_zoom": SQL_TILE_STATS,
        "split_stop": SQL_SPLIT_STOP,
        "bbox_prune": SQL_BBOX_PRUNE,
        "wrap_copies": SQL_WRAP_COPIES,
        "pip_join": SQL_PIP_JOIN,
        "knn_join": SQL_KNN_JOIN,
        "dedup_exact": SQL_DEDUP_EXACT,
        "token_stats": SQL_TOKEN_STATS,
        "minhash_pairs": duck_minhash_pairs_sql(),
        "simhash": _sql_simhash(),
        "simhash_near_pairs": _sql_simhash_near_pairs(),
        "winnow_fingerprints": duck_winnow_sql(),
        "winnow_pairs": duck_winnow_pairs_sql(),
        "dedup_clusters": _sql_dedup_clusters(),
        "dedup_clusters_star": _sql_dedup_clusters(),
        "winnow_fingerprints_batch": duck_winnow_sql(),
        "dedup_canonical": _sql_dedup_canonical(),
        "ngram_jaccard": duck_ngram_jaccard_sql(),
        "ann_topk": _sql_ann_topk(20),
        "lang_id": _sql_lang_id(),
        "quality_scores": _sql_quality(),
        "fingerprint_dups": SQL_FINGERPRINT,
        "dataset_split": _sql_dataset_split(),
        "stratified_mix": _sql_stratified_mix(),
        "domain_quota": _sql_domain_quota(),
        "token_budget_pack": _sql_token_budget_pack(),
        "decontaminate": _sql_decontaminate(),
        "pii_redact": _sql_pii_redact(),
        "repetition_stats": _sql_repetition_stats(),
        "corpus_retention": _sql_corpus_retention(),
        "cosine_near_dup": _sql_cosine_near_dup(),
        "event_windows": SQL_EVENT_WINDOWS,
        "image_stats": _sql_image_stats(),
        "ann_lsh_topk": _sql_ann_lsh_topk(),
        "bpe_token_stats": SQL_BPE_TOKEN_STATS,
        "salted_cell_counts": (
            f"SELECT {_sql_cells(7)} AS cell, count(*) AS n_points "
            f"FROM ({_SQL_POINTS}) GROUP BY 1"
        ),
        "ann_ivf_topk": _sql_ann_ivf_topk(),
        "ann_pq_topk": _sql_ann_pq_topk(),
        "semantic_dedup": _sql_semantic_dedup(),
        "kmeans_clusters": _sql_kmeans_clusters(),
        "sessionize": _sql_sessionize(),
        "range_join": _sql_range_join(),
        "topk_ngrams": _sql_topk_ngrams(),
        "chunk_pack": _sql_chunk_pack(),
        "rolling_stats": _sql_rolling_stats(),
        "zorder_blocks": _sql_zorder_blocks(),
        "audio_stats": _sql_audio_stats(),
        "top_revenue_orders": SQL_TOP_REVENUE,
        "bm25_topk": _sql_bm25_topk(),
        "importance_topk": _sql_importance_topk(),
        "lm_perplexity": _sql_lm_perplexity(),
        "kmv_distinct": _sql_kmv_distinct(),
        "asof_attribution": _sql_asof_attribution(),
        "group_quantiles": _sql_group_quantiles(),
        "dup_spans": _sql_dup_spans(),
        "phash_near_dups": _sql_phash_near_dups(),
        "frame_sample": _sql_frame_sample(),
        "vt_total_us_states": SQL_VT_TOTAL,
    }
