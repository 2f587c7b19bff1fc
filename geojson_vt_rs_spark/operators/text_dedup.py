"""Training-data pipeline operators over the documents/embeddings tables:
exact dedup, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine ANN,
language-ID, quality scoring, fingerprinting.

The per-document signatures (minhash, simhash, winnowing) are numpy
mapInPandas kernels that hash each DISTINCT token/shingle once; the
rest is JVM-side column expressions.  Each builder has a DuckDB SQL twin
computing byte-identical values (md5-derived integer hashes,
integer-ratio divisions), which is what makes the value-hash oracle
pass exactly.

Scale notes: shingle/minhash work is per-row (narrow);  LSH banding turns
the O(n^2) similarity join into an equi-join on band keys; SimHash
blocking joins only within a prefix bucket.  All shuffles are on
hash-uniform keys.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- MinHash

N_PERM = 8
N_BANDS = 4  # 2 rows per band


def _spark_shingles(col: str = "text") -> str:
    # char 5-grams sampled every 3 chars (dialect-shared except range/sequence)
    return f"transform(sequence(1, greatest(length({col})-4, 1), 3), i -> substr({col}, i, 5))"


def _duck_shingles(col: str = "text") -> str:
    return f"list_transform(range(1, greatest(length({col})-4, 1)+1, 3), i -> substr({col}, i, 5))"


# The 8 permutations take four INDEPENDENT 32-bit slices from each of
# TWO md5s per shingle (md5(s), md5('x'||s)) — 2 md5 calls instead of 8.
# (A Kirsch–Mitzenmacher a+p*b family was tried first: its per-shingle
# mins correlate across permutations, which doubled the band-collision
# candidate rate on the test corpus.  Independent md5 slices keep the
# candidate rate at the true-permutation baseline.)


def _duck_minhash_over(hx: str, p: int) -> str:
    off = 8 * (p % 4) + 1
    v = f"('0x' || substr(h, {off}, 8))::BIGINT"
    return f"list_min(list_transform({hx}, h -> {v}))"


def _minhash_batch(text, cache: dict):
    """The 8 minhashes of one document: 5-gram-every-3-chars shingles,
    two md5s per shingle, four 32-bit hex slices per md5,
    per-permutation min (the oracle's _duck_minhash_over).  One md5 pair
    per DISTINCT shingle via the per-batch cache.  NULL text gives eight
    NULLs, the Spark SQL value of this formulation (concat('x', NULL) is
    NULL); DuckDB's concat skips the NULL, so the oracle differs on that
    row."""
    import hashlib

    if not isinstance(text, str):
        return [None] * N_PERM
    # a min over the shingle multiset equals the min over the DISTINCT
    # shingle set — dedupe before hashing, so repeated shingles cost one
    # set-add instead of a dict probe + row append each
    uniq = {text[i : i + 5] for i in range(0, max(len(text) - 4, 1), 3)}
    rows = np.empty((len(uniq), N_PERM), dtype=np.int64)
    for j, s in enumerate(uniq):
        v = cache.get(s)
        if v is None:
            h1 = hashlib.md5(s.encode("utf-8")).hexdigest()
            h2 = hashlib.md5(("x" + s).encode("utf-8")).hexdigest()
            v = tuple(
                int(h[8 * k : 8 * k + 8], 16)
                for h in (h1, h2)
                for k in range(4)
            )
            cache[s] = v
        rows[j] = v
    return [int(m) for m in rows.min(axis=0)]


def with_minhashes(docs: DataFrame) -> DataFrame:
    """doc_id + the 8 minhashes as ONE array column, from a numpy
    mapInPandas kernel (_minhash_batch)."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("mhs", T.ArrayType(T.LongType())),
        ]
    )

    def kernel(batches):
        cache: dict = {}
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mhs": [_minhash_batch(t, cache) for t in pdf["text"]],
                }
            )

    return docs.mapInPandas(kernel, schema=out_schema)


_BAND_CACHE: dict = {}  # semantic plan key -> persisted band table (max 1)


def _plan_key(df: DataFrame):
    """Semantic hash of the analyzed plan — stable across separate reads
    of the same source (canonicalized), so repeat calls over the same
    input reuse the cached band table instead of recomputing.  Returns
    None where the JVM plan is unreachable (e.g. Spark Connect).

    Caveat: the hash sees the PLAN, not the data — rewriting the same
    input path in place within a session leaves the key unchanged and
    would serve the stale persisted table.  Call ``clear_dedup_caches()``
    after such a rewrite."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None


# every plan-keyed persisted-table cache in the package registers here
# so clear_dedup_caches() reaches all of them (importance.py adds its
# histogram cache on import)
_CACHE_REGISTRY: list = []


def clear_dedup_caches() -> None:
    """Unpersist and drop the plan-keyed persisted-table caches
    (minhash/winnow bands, importance histograms).  Needed after an
    in-place rewrite of a cached input path (the semantic plan key
    cannot observe data changes)."""
    for cache in (_BAND_CACHE, _WINNOW_CACHE, *_CACHE_REGISTRY):
        for k in list(cache):
            cache.pop(k).unpersist()


def minhash_band_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs: equal 2-row band signature -> same bucket ->
    pair.  Returns distinct (doc_a, doc_b) with the estimated similarity
    (fraction of equal minhashes over all permutations).  Bands come
    from an explode over the precomputed signature array, so the
    expensive hashing runs once per row per join side."""
    key = _plan_key(docs)
    bands = _BAND_CACHE.get(key) if key is not None else None
    if bands is None:
        mh = with_minhashes(docs)
        band_arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        F.col("mhs")[2 * b].cast("string"),
                        F.col("mhs")[2 * b + 1].cast("string"),
                    ).alias("bkey"),
                )
                for b in range(N_BANDS)
            ]
        )
        bands = mh.select(
            "doc_id", "mhs", F.explode(band_arr).alias("bb")
        ).select(
            "doc_id", "mhs",
            F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"),
        )
        # the self-join would otherwise evaluate the md5 signature pipeline
        # once per side; the band table is tiny (4 rows/doc of ints) so
        # cache it — both join sides then share the one materialization.
        # The cache is KEYED on the input plan (at most one entry): a call
        # over a different input evicts the old table, but same-input
        # callers (q_ngram_jaccard, warm bench loops) hit the cache even
        # when interleaved with other queries.
        bands = bands.persist()
        # track under key even when key is None (never SERVED stale — the
        # lookup above is key-guarded — but tracked so the next call
        # evicts it instead of leaking persisted tables).  Evict EVERY
        # existing entry, including one under this same key: when key is
        # None the lookup above missed by design, so an old None entry
        # would otherwise be overwritten still-persisted (ADVICE r4).
        for k in list(_BAND_CACHE):
            _BAND_CACHE.pop(k).unpersist()
        _BAND_CACHE[key] = bands
    a = bands.alias("a")
    bb = bands.alias("b")
    n_equal = sum(
        [
            (F.col("a.mhs")[p] == F.col("b.mhs")[p]).cast("int")
            for p in range(N_PERM)
        ],
        F.lit(0),
    )
    pairs = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            n_equal.alias("n_equal"),
        )
        .distinct()
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        (F.col("n_equal").cast("double") / float(N_PERM)).alias("est_sim"),
    )


def duck_minhash_ctes(table: str = "documents") -> str:
    """The CTE list (no leading WITH) ending in ``mh(doc_id, mh0..mh7)``
    — the DuckDB twin of with_minhashes."""
    mh_cols = ", ".join(
        f"{_duck_minhash_over('hx' if p < 4 else 'hx2', p)} AS mh{p}"
        for p in range(N_PERM)
    )
    return (
        "hxs AS (SELECT doc_id, "
        f"list_transform({_duck_shingles()}, s -> md5(s)) AS hx, "
        f"list_transform({_duck_shingles()}, s -> md5(concat('x', s))) AS hx2 "
        f"FROM {table}), "
        f"mh AS (SELECT doc_id, {mh_cols} FROM hxs)"
    )


def duck_minhash_pairs_sql() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(CAST(mh{2*b} AS VARCHAR), ',', CAST(mh{2*b+1} AS VARCHAR)) AS bkey, "
        + ", ".join(f"mh{p}" for p in range(N_PERM))
        + " FROM mh"
        for b in range(N_BANDS)
    )
    n_eq = " + ".join(
        f"(CASE WHEN a.mh{p} = b.mh{p} THEN 1 ELSE 0 END)" for p in range(N_PERM)
    )
    return (
        "WITH " + duck_minhash_ctes() + ", "
        f"bands AS ({bands}) "
        f"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"CAST(({n_eq}) AS DOUBLE) / {float(N_PERM)} AS est_sim "
        f"FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey "
        f"AND a.doc_id < b.doc_id"
    )


# ---------------------------------------------------------------- SimHash

SIMHASH_BITS = 64  # production width: pair output stays sparse at any scale

# 64-bit md5-derived word hash, assembled WITHOUT shifts (DuckDB's << errors
# on overflow): hi 32 bits sign-adjusted into the BIGINT top half, lo 32 bits
# below.  Exact two's-complement value, identical in Spark / DuckDB / Python.
_MIN_BIGINT = "(-9223372036854775807 - 1)"


def _duck_word_hash64(w: str = "w") -> str:
    lo = f"('0x' || substr(md5({w}), 1, 8))::BIGINT"
    hi = f"('0x' || substr(md5({w}), 9, 8))::BIGINT"
    return (
        f"(({hi}) - (CASE WHEN ({hi}) >= 2147483648 THEN 4294967296 "
        f"ELSE 0 END)) * 4294967296 + ({lo})"
    )


def _duck_simhash_bit_terms(bits: int, hs: str, size_expr: str) -> list:
    """Per-bit majority-vote terms over a PRE-HASHED bigint array column —
    each fold is shifts/adds only (the md5 ran once per token upstream).
    Bit 63 contributes MIN_BIGINT (two's complement), summed exactly."""
    terms = []
    for j in range(bits):
        cnt = f"COALESCE(list_sum(list_transform({hs}, h -> (h >> {j}) & 1)), 0)"
        bit_val = _MIN_BIGINT if j == 63 else str(1 << j)
        terms.append(
            f"(CASE WHEN 2 * ({cnt}) > {size_expr} THEN {bit_val} ELSE 0 END)"
        )
    return terms


# ASCII \s only — Java regex \s == [ \t\n\x0b\f\r]; Python str.split()
# would ALSO split on Unicode whitespace (U+00A0, U+2000.., U+3000) and
# silently diverge from the JVM/oracle tokenization (ADVICE r4).
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _batch_token_hashes(text, cache: dict):
    """(h64, lo32) int64 arrays of the doc's whitespace tokens — the
    simhash 64-bit word hash (the oracle's _duck_word_hash64) and the
    winnow lo-32 hash, one md5 per DISTINCT token.  Tokenizes on ASCII
    whitespace ONLY, mirroring the JVM `split(trim(text), '\\\\s+')`
    semantics.

    Vectorized gather: np.unique over a fixed-width unicode array (a C
    sort) finds the distinct tokens; Python touches only those for the
    md5 (through the cross-doc ``cache``), and the per-token expansion
    is a fancy-index — a per-token dict loop made highly repetitive
    long docs (15k tokens / 2k vocab) slow (BENCH.md counter-shape,
    VERDICT r4 item 6)."""
    import hashlib

    tokens = (
        [t for t in _ASCII_WS.split(text) if t] if isinstance(text, str)
        else []
    )
    n = len(tokens)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    # '\x01' sentinel suffix: numpy's fixed-width unicode storage strips
    # TRAILING NULs on item round-trip, so np.unique(['foo\x00','foo'])
    # would collapse both to 'foo' and hash the truncated token.  With a
    # non-NUL final char every token round-trips intact; strip exactly
    # the sentinel before hashing.
    uniq, inv = np.unique(
        np.asarray([t + "\x01" for t in tokens]), return_inverse=True
    )
    uh64 = np.empty(len(uniq), dtype=np.int64)
    ulo32 = np.empty(len(uniq), dtype=np.int64)
    for i, w in enumerate(uniq):
        w = str(w)[:-1]
        v = cache.get(w)
        if v is None:
            hx = hashlib.md5(w.encode("utf-8")).hexdigest()
            lo = int(hx[:8], 16)
            hi = int(hx[8:16], 16)
            v = (
                ((hi - (4294967296 if hi >= 2147483648 else 0)) << 32) + lo,
                lo,
            )
            cache[w] = v
        uh64[i] = v[0]
        ulo32[i] = v[1]
    return uh64[inv], ulo32[inv]


def _simhash_batch(h64: np.ndarray) -> int:
    """Exact majority-vote fold of _duck_simhash_bit_terms, vectorized:
    two numpy passes over the token-hash array."""
    n = len(h64)
    if n == 0:
        return 0
    # little-endian uint8 view + bitorder='little' puts column j at bit
    # j of the int64; unpackbits is ~8x lighter than a 64-wide int64
    # shift matrix (uint8 vs int64 intermediate)
    u8 = np.ascontiguousarray(h64.astype("<u8")).view(np.uint8).reshape(n, 8)
    cnt = np.unpackbits(u8, axis=1, bitorder="little").sum(
        axis=0, dtype=np.int64
    )
    uval = 0
    for j in np.nonzero(2 * cnt > n)[0]:
        uval |= 1 << int(j)
    return uval - (1 << 64) if uval >= (1 << 63) else uval


def with_simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit j set when more than half
    the tokens have bit j of their md5 word hash set.  A numpy
    mapInPandas kernel: one md5 per DISTINCT token (an np.unique gather)
    and unpackbits bit counts.  NULL text hashes to 0."""
    out_schema = T.StructType(
        list(docs.schema.fields) + [T.StructField("simhash", T.LongType())]
    )

    def kernel(batches):
        cache: dict = {}
        for pdf in batches:
            pdf = pdf.copy(deep=False)
            pdf["simhash"] = np.array(
                [
                    _simhash_batch(_batch_token_hashes(t, cache)[0])
                    for t in pdf["text"]
                ],
                dtype=np.int64,
            )
            yield pdf

    return docs.mapInPandas(kernel, schema=out_schema)


def simhash_near_pairs(docs: DataFrame, hamming_max: int = 3) -> DataFrame:
    """All pairs with simhash hamming distance <= hamming_max, found via
    pigeonhole multi-band blocking (complete — unlike the round-1 fixed
    8-bit-prefix block, whose 256 buckets both missed prefix-differing
    pairs and went quadratic within buckets at scale).  Plan: shuffled
    hash joins on (band, value) — see ann.hamming_near_pairs."""
    from geojson_vt_rs_spark.operators.ann import hamming_near_pairs

    s = with_simhash(docs).select("doc_id", "simhash")
    return hamming_near_pairs(
        s, "doc_id", "simhash", SIMHASH_BITS, hamming_max
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def duck_simhash_sql(table: str = "documents") -> str:
    """Full DuckDB twin SELECT (doc_id, simhash): materializes the per-token
    hash array in a CTE (mirroring with_simhash's one-md5-per-token shape),
    then folds the 64 majority votes over it."""
    words = _duck_words()
    hs = f"list_transform({words}, w -> {_duck_word_hash64()})"
    terms = _duck_simhash_bit_terms(SIMHASH_BITS, "hs", "len(hs)")
    return (
        f"WITH __hs AS (SELECT doc_id, {hs} AS hs FROM {table}) "
        f"SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS simhash "
        "FROM __hs"
    )


# --------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for LSH candidate pairs: explode distinct
    shingles, self-join on shingle within candidate pairs, integer ratio."""
    # NOTE (r6): materializing `sh` once (lazy localCheckpoint) was
    # A/B'd a WASH here — the three recomputed subtrees (both
    # intersection sides + sizes) execute concurrently on idle cores,
    # while the checkpoint serializes a ~4M-row storage write.  On a
    # busy cluster the 3x recompute wastes capacity; revisit with a
    # real-cluster measurement before changing.
    sh = docs.select(
        "doc_id", F.explode(F.expr(_spark_shingles())).alias("s")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cand = minhash_band_pairs(docs).select("doc_a", "doc_b")
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def duck_ngram_jaccard_sql() -> str:
    return (
        f"WITH cand AS ({duck_minhash_pairs_sql()}), "
        f"sh AS (SELECT DISTINCT doc_id, unnest({_duck_shingles()}) AS s FROM documents), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter "
        "  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a "
        "  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s GROUP BY 1, 2) "
        "SELECT c.doc_a, c.doc_b, "
        "CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / "
        "CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard "
        "FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b "
        "JOIN sizes za ON za.doc_id = c.doc_a JOIN sizes zb ON zb.doc_id = c.doc_b"
    )


# ------------------------------------------------------------- ANN cosine


def ann_topk(docs_embeddings: DataFrame, query_vec: list, k: int = 20) -> DataFrame:
    """Brute-force cosine top-k against a broadcast query vector —
    the exact baseline; the LSH/IVF/PQ scale paths rescore their
    candidates through the same ann.cosine_topk.  Scores rounded to 6
    decimals for cross-engine float stability; deterministic vec_id
    tie-break."""
    from geojson_vt_rs_spark.operators.ann import cosine_topk

    return cosine_topk(docs_embeddings, query_vec, k, "vec_id", "embedding")


# --------------------------------------------------------- text analysis

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


def _spark_words() -> str:
    return "filter(split(trim(text), '\\\\s+'), w -> length(w) > 0)"


# DuckDB twin of _spark_words().  Java's \s (the engine side, and the
# batch kernels' _ASCII_WS) is the ASCII class [ \t\n\x0b\f\r]; RE2's \s
# OMITS \x0b (vertical tab), so a '\s+' DuckDB oracle would tokenize
# 'a\x0bb' as one word where Spark sees two.  The explicit class keeps
# both engines byte-identical.  ONE point of change — every oracle that
# tokenizes words must build on this helper.
_DUCK_WS = r"[ \t\n\x0b\f\r]+"


def _duck_words(col: str = "text") -> str:
    return (
        f"list_filter(regexp_split_to_array(trim({col}), '{_DUCK_WS}'), "
        "w -> length(w) > 0)"
    )


def with_text_features(docs: DataFrame) -> DataFrame:
    """Quality metrics: token count, stopword count, punct count, mean
    word length — integer counts (exact cross-engine)."""
    words = _spark_words()
    stop_set = ",".join(f"'{w}'" for w in STOPWORDS)
    return (
        docs.withColumn("n_tokens", F.expr(f"size({words})").cast("long"))
        .withColumn(
            "n_stop",
            F.expr(
                f"size(filter({words}, w -> array_contains(array({stop_set}), w)))"
            ).cast("long"),
        )
        .withColumn(
            "n_punct",
            (
                F.length("text")
                - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
            ).cast("long"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def duck_text_features_exprs() -> dict:
    words = _duck_words()
    stop_set = ", ".join(f"'{w}'" for w in STOPWORDS)
    return dict(
        n_tokens=f"len({words})",
        n_stop=f"len(list_filter({words}, w -> list_contains([{stop_set}], w)))",
        n_punct=r"length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))",
        n_chars="length(text)",
    )


# ------------------------------------------------ Winnowing fingerprints
# MOSS-style document fingerprinting (Schleimer/Wilkerson/Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03):
# K-token-gram rolling polynomial hashes, then the minimum of each
# sliding window of W gram hashes.  Any shared token run of length
# >= W + K - 1 is GUARANTEED to share a fingerprint, so the fingerprint
# equi-join is a complete near-dup blocking — the rolling-hash member of
# the dedup family (exact md5 / minhash / simhash / winnowing).
# A numpy kernel with a byte-identical DuckDB twin (duck_winnow_sql).

WINNOW_K = 4  # tokens per gram (templates below hard-code 4 terms)
WINNOW_W = 4  # grams per winnowing window
WINNOW_B = 1009  # polynomial base: 2^32 * B^(K-1) < 2^63 -> no overflow
WINNOW_M = 2147483647  # modulus 2^31 - 1; every term is nonnegative


def _winnow_batch(lo32: np.ndarray) -> np.ndarray:
    """Winnowed fingerprints of one document's lo-32 token hashes:
    step-wise % M polynomial grams (equal to the oracle's flat
    polynomial mod M, an integer identity), pairwise-min window minima,
    sorted distinct.  Values stay within int64 at every step (th < 2^32,
    B = 1009: th*B < 2^42; (M-1)*B + th < 2^42).  Fewer than 4 tokens:
    one polynomial over all of them (0 for none)."""
    B, M = WINNOW_B, WINNOW_M
    a = lo32
    n = len(a)
    if n == 0:
        return np.zeros(1, dtype=np.int64)
    if n == 1:
        return (a[:1] % M).astype(np.int64)
    if n == 2:
        return np.array([(int(a[0]) * B + int(a[1])) % M], dtype=np.int64)
    if n == 3:
        return np.array(
            [(int(a[0]) * B * B + int(a[1]) * B + int(a[2])) % M],
            dtype=np.int64,
        )
    p2 = (a[:-1] * B + a[1:]) % M
    p3 = (p2[: n - 2] * B + a[2:]) % M
    g = (p3[: n - 3] * B + a[3:]) % M
    if n < 7:
        return np.array([g.min()], dtype=np.int64)
    w2 = np.minimum(g[:-1], g[1:])
    return np.unique(np.minimum(w2[:-2], w2[2:])).astype(np.int64)


def with_winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Adds ``fingerprints`` (sorted distinct array<bigint>), from a
    numpy mapInPandas kernel (_winnow_batch) — one md5 per DISTINCT
    token + vectorized rolling folds."""
    out_schema = T.StructType(
        list(docs.schema.fields)
        + [T.StructField("fingerprints", T.ArrayType(T.LongType()))]
    )

    def kernel(batches):
        cache: dict = {}
        for pdf in batches:
            pdf = pdf.copy(deep=False)
            pdf["fingerprints"] = [
                _winnow_batch(_batch_token_hashes(t, cache)[1])
                for t in pdf["text"]
            ]
            yield pdf

    # spreads a single-file toy input across cores; the dedup join
    # shuffles anyway
    return docs.repartition(F.col("doc_id")).mapInPandas(
        kernel, schema=out_schema
    )


def winnow_fingerprint_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) rows — each doc's distinct winnowed fingerprints.

    explode_outer + not-null filter, NOT explode: a plain explode makes
    Catalyst infer a ``size(fingerprints) > 0`` filter and push it below
    the exchange.  Fingerprint arrays are never empty (every branch
    yields >= 1 element), so the rows are those of explode."""
    return (
        with_winnow_fingerprints(docs)
        .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


_WINNOW_CACHE: dict = {}  # semantic plan key -> persisted fp table (max 1)


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs sharing >= 1 winnowed fingerprint, with
    the shared-fingerprint count.  A plain equi-join on fp: shuffled hash
    join, no cross product — scale-safe blocking with the winnowing
    guarantee (any common run of WINNOW_W + WINNOW_K - 1 tokens hits).
    The fingerprint table is computed ONCE and persisted (plan-keyed
    cache, same pattern as the minhash band table) so the two join sides
    share it."""
    key = _plan_key(docs)
    fpt = _WINNOW_CACHE.get(key) if key is not None else None
    if fpt is None:
        fpt = winnow_fingerprint_rows(docs).persist()
        # same None-key eviction discipline as _BAND_CACHE: drop every
        # existing entry (incl. an old None entry) before storing
        for k in list(_WINNOW_CACHE):
            _WINNOW_CACHE.pop(k).unpersist()
        _WINNOW_CACHE[key] = fpt
    a = fpt.alias("a")
    b = fpt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def duck_winnow_sql(table: str = "documents") -> str:
    """DuckDB twin of winnow_fingerprint_rows — same integer polynomial,
    same guards, 1-based list indexing on both sides."""
    B, M = WINNOW_B, WINNOW_M
    B2, B3 = B * B, B * B * B
    toks = _duck_words()
    th = f"list_transform({toks}, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)"
    gram4 = (
        f"(th[i] * {B3} + th[i + 1] * {B2} + th[i + 2] * {B} + th[i + 3])"
        f" % {M}"
    )
    grams = (
        f"CASE WHEN n >= 4 THEN list_transform(range(1, n - 2), i -> {gram4}) "
        f"ELSE [CASE WHEN n = 3 THEN (th[1] * {B2} + th[2] * {B} + th[3]) % {M} "
        f"WHEN n = 2 THEN (th[1] * {B} + th[2]) % {M} "
        f"WHEN n = 1 THEN th[1] % {M} ELSE 0 END] END"
    )
    win = "least(gr[i], gr[i + 1], gr[i + 2], gr[i + 3])"
    fps = (
        f"CASE WHEN g >= 4 THEN list_transform(range(1, g - 2), i -> {win}) "
        "ELSE [list_min(gr)] END"
    )
    return (
        f"WITH w1 AS (SELECT doc_id, {th} AS th FROM {table}), "
        "w2 AS (SELECT doc_id, th, len(th) AS n FROM w1), "
        f"w3 AS (SELECT doc_id, {grams} AS gr FROM w2), "
        "w4 AS (SELECT doc_id, gr, len(gr) AS g FROM w3) "
        f"SELECT doc_id, unnest(list_sort(list_distinct({fps}))) AS fp FROM w4"
    )


def duck_winnow_pairs_sql(table: str = "documents") -> str:
    return (
        f"WITH fps AS ({duck_winnow_sql(table)}) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(count(*) AS BIGINT) AS n_shared "
        "FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2"
    )
