"""Data-selection importance weighting (DSIR-shaped) for pretraining
corpora: score every document by how much its hashed-unigram
distribution looks like a TARGET subcorpus versus the raw corpus, then
keep the top-K (the deterministic counterpart of DSIR's importance
resampling, Xie et al. 2023, arXiv:2302.03169).

DSIR proper scores docs with sum_i log(p_target(f_i)/p_raw(f_i)) over
hashed n-gram features and samples proportionally.  This variant keeps
the same estimator family but swaps the log-likelihood for an EXACT
integer ratio so the whole operator is reproducible bit-for-bit on any
engine (the repo's oracle contract bans transcendental accumulation —
CLAUDE.md invariants):

* token feature  = md5-derived vocab bucket in ``[0, V_BUCKETS)``
  (the operators/sampling.py idiom: ``conv(substr(md5(..),1,15),16,10)``
  == DuckDB ``('0x'||substr(md5(..),1,15))::BIGINT``).
* bucket weight  = ``((ct+1)(Nq+V)·SCALE) div ((cq+1)(Nt+V))`` — the
  add-one-smoothed likelihood ratio ``p_t/p_q`` in fixed-point; all
  BIGINT, positive, so Spark ``div`` (truncate) == DuckDB ``//``
  (floor).  64-bit headroom bounds ``(ct+1)·(Nq+V)·SCALE < 2^63``; at
  trillions of tokens drop SCALE to 1e3 or widen to DECIMAL(38,0).
* doc score      = ``sum(weight)`` over its tokens ``div n_tokens`` —
  an INTEGER sum, so (unlike a float fold) the per-doc aggregation is
  shuffle-order-independent by construction.

Scale shape at 100 TB:

* the per-(doc, bucket) histogram is row-local — ONE mapInPandas pass
  emits it (one md5 per DISTINCT token per Arrow batch); the token
  stream is never exploded into the engine or shuffled.
* the per-bucket count aggregation shuffles at most ``V_BUCKETS`` rows
  after map-side partial aggs; the resulting weight table (``<= V``
  rows) is BROADCAST back onto the histogram, so scoring is map-side +
  one per-doc partial agg.  The corpus is scanned once, pruned to
  (doc_id, lang, text).
* the keep step is ``orderBy().limit(k)`` — TakeOrderedAndProject
  (per-partition local top-k, merged on the driver), never a global
  range sort.

No reference counterpart (maxammann/geojson-vt-rs is a vector-tile
engine); this sits beside decontam/sampling/quality as the graft's
training-pipeline surface.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text_dedup import _ASCII_WS, _CACHE_REGISTRY, _duck_words, _plan_key

V_BUCKETS = 4_096
SCALE = 1_000_000
SEED = "dsir-v1"

# plan-keyed single-slot cache of the persisted per-(doc, bucket)
# histogram (the _BAND_CACHE pattern, incl. the ADVICE-r4 None-key
# eviction rule); registered so clear_dedup_caches() reaches it
_HIST_CACHE: dict = {}
_CACHE_REGISTRY.append(_HIST_CACHE)


def _doc_buckets(text, cache: dict):
    """(b, c) int64 arrays — the doc's per-vocab-bucket token counts,
    one md5 per DISTINCT token (via the cross-doc ``cache``).
    Tokenizes on the ASCII whitespace class (text_dedup._ASCII_WS —
    Java ``\\s`` semantics, empties filtered) and buckets with the
    oracle's seeded md5 (duck_importance_topk_sql)."""
    tokens = (
        [t for t in _ASCII_WS.split(text) if t] if isinstance(text, str)
        else []
    )
    if not tokens:
        z = np.empty(0, dtype=np.int64)
        return z, z
    # '\x01' sentinel: numpy fixed-width unicode strips TRAILING NULs
    # (the _batch_token_hashes rule) — keep tokens round-trip intact
    uniq, inv = np.unique(
        np.asarray([t + "\x01" for t in tokens]), return_inverse=True
    )
    ub = np.empty(len(uniq), dtype=np.int64)
    for i, w in enumerate(uniq):
        w = str(w)[:-1]
        v = cache.get(w)
        if v is None:
            hx = hashlib.md5(f"{SEED}:{w}".encode("utf-8")).hexdigest()
            v = int(hx[:15], 16) % V_BUCKETS
            cache[w] = v
        ub[i] = v
    cnt = np.bincount(ub[inv])
    b = np.nonzero(cnt)[0].astype(np.int64)
    return b, cnt[b]


def doc_bucket_hist(docs: DataFrame, target_pred: str) -> DataFrame:
    """(doc_id, lang, t, b, c) — per-document vocab-bucket histogram,
    with ``t`` = 1 iff the doc satisfies target_pred.

    The ONE aggregation both phases derive from: the global per-bucket
    counts are sums over it, and per-doc scores weight its rows.  It is
    row-local (a doc's tokens live in its own row), so ONE mapInPandas
    pass emits it directly — the token stream is never exploded into
    the engine and never shuffled.  One md5 per DISTINCT token per
    Arrow batch.  Docs with no tokens (null/empty/whitespace text) emit
    no rows."""
    d = docs.select(
        "doc_id",
        "lang",
        F.expr(f"CASE WHEN {target_pred} THEN 1L ELSE 0L END").alias("t"),
        "text",
    )
    fields = {f.name: f for f in d.schema.fields}
    out_schema = T.StructType(
        [
            fields["doc_id"],
            fields["lang"],
            T.StructField("t", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.LongType()),
        ]
    )

    def kernel(batches):
        cache: dict = {}
        for pdf in batches:
            ids, langs, ts, bs, cs = [], [], [], [], []
            for did, lg, tt, tx in zip(
                pdf["doc_id"], pdf["lang"], pdf["t"], pdf["text"]
            ):
                b, c = _doc_buckets(tx, cache)
                if len(b) == 0:
                    continue
                ids.append(np.full(len(b), did))
                langs.extend([lg] * len(b))
                ts.append(np.full(len(b), tt, dtype=np.int64))
                bs.append(b)
                cs.append(c)
            if not bs:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "lang": langs,
                    "t": np.concatenate(ts),
                    "b": np.concatenate(bs),
                    "c": np.concatenate(cs),
                }
            )

    return d.mapInPandas(kernel, schema=out_schema)


def bucket_weights(hist: DataFrame) -> DataFrame:
    """(b, w) fixed-point likelihood-ratio weights, <= V_BUCKETS rows.

    One shuffle of at most V_BUCKETS rows (map-side partials over the
    histogram); the corpus/target totals ride along via a 1-row cross
    join (both sides tiny) instead of a driver collect, so the plan is
    a pure function of the input.
    """
    cb = hist.groupBy("b").agg(
        F.sum("c").alias("cq"), F.sum(F.col("t") * F.col("c")).alias("ct")
    )
    tot = hist.agg(
        F.sum("c").alias("nq"), F.sum(F.col("t") * F.col("c")).alias("nt")
    )
    return cb.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"((ct + 1L) * (nq + {V_BUCKETS}L) * {SCALE}L) div "
            f"((cq + 1L) * (nt + {V_BUCKETS}L))"
        ).alias("w"),
    )


def importance_topk(
    docs: DataFrame,
    target_pred: str = "lang = 'en'",
    k: int = 100,
) -> DataFrame:
    """Top-``k`` documents by mean fixed-point importance weight.

    Returns (doc_id, lang, n_tokens, avg_w): ``avg_w`` is the integer
    mean of the doc's per-token bucket weights (SCALE ~= ratio 1.0), so
    docs whose unigrams over-index in the target subcorpus rank first.
    Deterministic total order (avg_w desc, doc_id asc).

    The histogram is persisted for its two consumers (weight derivation
    + scoring) so the corpus is scanned ONCE; scores are exact
    integer sums of c*w, identical to the per-token formulation.  The
    persisted table lives in a plan-keyed single-slot cache: a later
    call over a different input (or the same input — every existing
    entry is evicted before storing, so nothing leaks when the key is
    None) unpersists the old table.
    """
    key = (_plan_key(docs), target_pred)
    hist = _HIST_CACHE.get(key) if key[0] is not None else None
    if hist is None:
        hist = doc_bucket_hist(docs, target_pred).persist()
        for old in list(_HIST_CACHE):
            _HIST_CACHE.pop(old).unpersist()
        _HIST_CACHE[key] = hist
    wt = bucket_weights(hist)
    scored = (
        hist.join(F.broadcast(wt), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("c") * F.col("w")).alias("sw"),
            F.sum("c").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("sw div n_tokens").alias("avg_w"),
        )
    )
    return scored.orderBy(F.desc("avg_w"), F.asc("doc_id")).limit(k)


def duck_token_bucket_ctes(target_pred: str, table: str = "documents") -> str:
    """The CTE list (no leading WITH) ending in ``tk(doc_id, lang, t,
    b)``: one row per token with its seeded md5 vocab bucket — grouped,
    the DuckDB twin of doc_bucket_hist."""
    words = _duck_words()
    bucket = (
        f"(('0x' || substr(md5('{SEED}:' || tok), 1, 15))::BIGINT "
        f"% {V_BUCKETS})"
    )
    return (
        f"tk0 AS (SELECT doc_id, lang, "
        f"CASE WHEN {target_pred} THEN 1 ELSE 0 END AS t, "
        f"unnest({words}) AS tok FROM {table}), "
        f"tk AS (SELECT doc_id, lang, t, {bucket} AS b FROM tk0)"
    )


def duck_importance_topk_sql(
    target_pred: str = "lang = 'en'",
    k: int = 100,
    table: str = "documents",
) -> str:
    """DuckDB twin of importance_topk — the duck_token_bucket_ctes
    tokens, the same integer ratio (every DuckDB sum CAST to BIGINT
    before arithmetic: HUGEINT sums flip the oracle value-hash AND
    would widen the multiplication), `//` == positive-operand `div`."""
    return (
        "WITH " + duck_token_bucket_ctes(target_pred, table) + ", "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS nq, "
        "CAST(sum(t) AS BIGINT) AS nt FROM tk), "
        "cb AS (SELECT b, CAST(count(*) AS BIGINT) AS cq, "
        "CAST(sum(t) AS BIGINT) AS ct FROM tk GROUP BY b), "
        f"wt AS (SELECT b, ((ct + 1) * (nq + {V_BUCKETS}) * {SCALE}) // "
        f"((cq + 1) * (nt + {V_BUCKETS})) AS w FROM cb, tot), "
        "sc AS (SELECT tk.doc_id, any_value(tk.lang) AS lang, "
        "CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(sum(wt.w) AS BIGINT) AS sw "
        "FROM tk JOIN wt ON tk.b = wt.b GROUP BY tk.doc_id) "
        "SELECT doc_id, lang, n_tokens, sw // n_tokens AS avg_w "
        f"FROM sc ORDER BY avg_w DESC, doc_id ASC LIMIT {k}"
    )
