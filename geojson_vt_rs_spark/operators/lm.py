"""N-gram language-model perplexity scoring (the CCNet/Gopher quality
signal, Wenzek et al. 2020 arXiv:1911.00359): score every document by
the mean negative log-likelihood of its word bigrams under an add-one
smoothed bigram LM trained on the corpus itself, then keep the top-k
most fluent docs (lowest mean NLL).

CCNet proper scores with a KenLM 5-gram; the exactness contract here
(CLAUDE.md invariants: no engine-divergent accumulation) picks the
distributed-exact counterpart:

* token bucket  = seeded md5 vocab bucket in ``[0, LM_BUCKETS)`` (the
  operators/importance.py idiom) — the LM is over HASHED unigrams, the
  same compression DSIR uses for its n-gram features.
* bigram model  = ``P(b2|b1) = (c12 + 1) / (c1 + LM_BUCKETS)`` with
  ``c1 = sum_b2 c12`` (derived FROM the bigram table, so ``c12 <= c1``
  holds by construction and every probability is in (0, 1]).
* per-bigram NLL wears the repo's transcendental convention (the bm25
  bet): ``round(-ln(p), 6)`` evaluated IN-ENGINE on both sides, then
  floored to fixed-point BIGINT (``floor(x*1e6 + 0.5)``) — the per-doc
  score is an INTEGER sum, shuffle-order-free by construction.
* doc score     = ``sum(c * fp) div n_bigrams`` — integer mean NLL;
  perplexity is its monotone image (exp), so ranking by mean NLL IS
  ranking by perplexity without ever exponentiating.

Scale shape at 100 TB:

* the per-(doc, b1, b2) histogram is row-local — ONE mapInPandas pass
  emits it directly (one md5 per DISTINCT token per Arrow batch,
  np.unique over packed pair keys); the token stream is never exploded
  into the engine.
* the model tables aggregate FROM the persisted histogram: ``c12`` is
  a partial-agg groupBy bounded by ``LM_BUCKETS^2`` distinct keys
  (~16.7M worst case — a real table, so the score join is a plain
  hash-partitioned equi-join, NOT a forced broadcast); ``c1`` is
  <= LM_BUCKETS rows and broadcasts.
* the keep step is ``orderBy().limit(k)`` — TakeOrderedAndProject.
* docs with < 2 tokens have no bigrams and emit no rows (the CCNet
  convention: unscorable docs are routed separately, not ranked).

No reference counterpart (maxammann/geojson-vt-rs is a vector-tile
engine); this sits beside importance/search/quality as the graft's
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

LM_BUCKETS = 4_096
SEED = "lm-v1"

_HIST_CACHE: dict = {}
_CACHE_REGISTRY.append(_HIST_CACHE)


def _doc_bigram_hist(text, cache: dict):
    """(b1, b2, c) int64 arrays for ONE document — bigram_hist's rows
    for it: one md5 per DISTINCT token (via the cross-doc ``cache``),
    pairs counted over a packed ``b1*LM_BUCKETS + b2`` key.
    ASCII-whitespace tokenizer + '\\x01' np.unique sentinel, the
    text_dedup._batch_token_hashes rules."""
    tokens = (
        [t for t in _ASCII_WS.split(text) if t] if isinstance(text, str)
        else []
    )
    if len(tokens) < 2:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    uniq, inv = np.unique(
        np.asarray([t + "\x01" for t in tokens]), return_inverse=True
    )
    ub = np.empty(len(uniq), dtype=np.int64)
    for i, w in enumerate(uniq):
        w = str(w)[:-1]
        v = cache.get(w)
        if v is None:
            hx = hashlib.md5(f"{SEED}:{w}".encode("utf-8")).hexdigest()
            v = int(hx[:15], 16) % LM_BUCKETS
            cache[w] = v
        ub[i] = v
    seq = ub[inv]
    key = seq[:-1] * LM_BUCKETS + seq[1:]
    u, c = np.unique(key, return_counts=True)
    return u // LM_BUCKETS, u % LM_BUCKETS, c.astype(np.int64)


def bigram_hist(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b1, b2, c) — per-document bigram-bucket histogram.
    It is row-local, so ONE mapInPandas pass emits it directly — the
    bigram stream is never exploded/shuffled.  Docs with < 2 tokens
    (NULL text included) emit no rows."""
    d = docs.select("doc_id", "lang", "text")
    fields = {f.name: f for f in d.schema.fields}
    out_schema = T.StructType(
        [
            fields["doc_id"],
            fields["lang"],
            T.StructField("b1", T.LongType()),
            T.StructField("b2", T.LongType()),
            T.StructField("c", T.LongType()),
        ]
    )

    def kernel(batches):
        cache: dict = {}
        for pdf in batches:
            ids, langs, b1s, b2s, cs = [], [], [], [], []
            for did, lg, tx in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
                b1, b2, c = _doc_bigram_hist(tx, cache)
                if len(b1) == 0:
                    continue
                ids.append(np.full(len(b1), did))
                langs.extend([lg] * len(b1))
                b1s.append(b1)
                b2s.append(b2)
                cs.append(c)
            if not b1s:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "lang": langs,
                    "b1": np.concatenate(b1s),
                    "b2": np.concatenate(b2s),
                    "c": np.concatenate(cs),
                }
            )

    return d.mapInPandas(kernel, schema=out_schema)


def _nll_fp_expr() -> str:
    """Fixed-point NLL of the smoothed bigram probability — a fixed
    parse tree of IEEE ops over identical double literals, evaluated
    in-engine on both sides (the bm25 round-6 ln convention)."""
    return (
        "CAST(floor(round(-ln(CAST(c12 + 1L AS DOUBLE) / "
        f"CAST(c1 + {LM_BUCKETS}L AS DOUBLE)), 6) * 1000000.0D + 0.5D) "
        "AS BIGINT)"
    )


def lm_model(hist: DataFrame) -> DataFrame:
    """(b1, b2, fp) fixed-point bigram NLL table.  ``c12`` is one
    partial-agg shuffle over the histogram; ``c1`` re-aggregates the
    (<= LM_BUCKETS^2)-row ``c12`` table and broadcasts back onto it
    (<= LM_BUCKETS rows)."""
    c12 = hist.groupBy("b1", "b2").agg(F.sum("c").alias("c12"))
    c1 = c12.groupBy("b1").agg(F.sum("c12").alias("c1"))
    return c12.join(F.broadcast(c1), "b1").select(
        "b1", "b2", F.expr(_nll_fp_expr()).alias("fp")
    )


def lm_perplexity_topk(
    docs: DataFrame,
    k: int = 100,
) -> DataFrame:
    """Top-``k`` most fluent documents by mean fixed-point bigram NLL.

    Returns (doc_id, lang, n_bigrams, avg_nll_fp) — ``avg_nll_fp`` is
    the integer mean NLL (1e6 = 1 nat); LOWER is more fluent under the
    corpus LM.  Deterministic total order (avg_nll_fp asc, doc_id asc).

    The histogram persists for its two consumers (model + scoring) in
    the plan-keyed single-slot cache (every existing entry evicted
    before storing — the ADVICE-r4 None-key rule)."""
    key = _plan_key(docs)
    hist = _HIST_CACHE.get(key) if key is not None else None
    if hist is None:
        hist = bigram_hist(docs).persist()
        for old in list(_HIST_CACHE):
            _HIST_CACHE.pop(old).unpersist()
        _HIST_CACHE[key] = hist
    model = lm_model(hist)
    scored = (
        hist.join(model, ["b1", "b2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("c") * F.col("fp")).alias("sw"),
            F.sum("c").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.expr("sw div n_bigrams").alias("avg_nll_fp"),
        )
    )
    return scored.orderBy(F.asc("avg_nll_fp"), F.asc("doc_id")).limit(k)


def duck_bigram_hist_ctes(table: str = "documents") -> str:
    """The CTE list (no leading WITH) ending in ``hist(doc_id, lang, b1,
    b2, c)`` — the DuckDB twin of bigram_hist: same seeded md5 buckets
    (1-based list indexing, ``range(1, len)`` enumerates bigram
    starts)."""
    words = _duck_words()
    bucket = (
        f"(('0x' || substr(md5('{SEED}:' || w), 1, 15))::BIGINT "
        f"% {LM_BUCKETS})"
    )
    return (
        f"d AS (SELECT doc_id, lang, "
        f"list_transform({words}, w -> {bucket}) AS bar FROM {table} "
        "WHERE text IS NOT NULL), "
        "r AS (SELECT doc_id, lang, bar[i] AS b1, bar[i + 1] AS b2 FROM "
        "(SELECT doc_id, lang, bar, unnest(range(1, len(bar))) AS i "
        "FROM d)), "
        "hist AS (SELECT doc_id, lang, b1, b2, "
        "CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2, 3, 4)"
    )


def duck_lm_perplexity_sql(k: int = 100, table: str = "documents") -> str:
    """DuckDB twin — the duck_bigram_hist_ctes histogram, same round-6
    in-engine ln, same integer floor/`//` math, every sum CAST to
    BIGINT."""
    fp = (
        "CAST(floor(round(-ln(CAST(c12 + 1 AS DOUBLE) / "
        f"CAST(c1 + {LM_BUCKETS} AS DOUBLE)), 6) * 1000000.0 + 0.5) "
        "AS BIGINT)"
    )
    return (
        "WITH " + duck_bigram_hist_ctes(table) + ", "
        "c12t AS (SELECT b1, b2, CAST(sum(c) AS BIGINT) AS c12 "
        "FROM hist GROUP BY b1, b2), "
        "c1t AS (SELECT b1, CAST(sum(c12) AS BIGINT) AS c1 "
        "FROM c12t GROUP BY b1), "
        f"wt AS (SELECT b1, b2, {fp} AS fp "
        "FROM c12t JOIN c1t USING (b1)), "
        "sc AS (SELECT h.doc_id, any_value(h.lang) AS lang, "
        "CAST(sum(h.c * wt.fp) AS BIGINT) AS sw, "
        "CAST(sum(h.c) AS BIGINT) AS n_bigrams "
        "FROM hist h JOIN wt ON h.b1 = wt.b1 AND h.b2 = wt.b2 "
        "GROUP BY h.doc_id) "
        "SELECT doc_id, lang, n_bigrams, sw // n_bigrams AS avg_nll_fp "
        f"FROM sc ORDER BY avg_nll_fp ASC, doc_id ASC LIMIT {k}"
    )


def python_lm_perplexity(
    rows: list[tuple[int, str | None, str | None]], k: int = 100
) -> list[tuple[int, str | None, int, int]]:
    """Plain-Python reference for tests (independent of both engines);
    math.log at round-6 pins equality like python_bm25."""
    import math
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    hists: dict = {}
    langs: dict = {}
    for did, txt, lg in rows:
        toks = [t for t in ws.split(txt)] if isinstance(txt, str) else []
        toks = [t for t in toks if t]
        if len(toks) < 2:
            continue
        bs = [
            int(hashlib.md5(f"{SEED}:{t}".encode()).hexdigest()[:15], 16)
            % LM_BUCKETS
            for t in toks
        ]
        h: dict = {}
        for a, b in zip(bs, bs[1:]):
            h[(a, b)] = h.get((a, b), 0) + 1
        hists[did] = h
        langs[did] = lg
    c12: dict = {}
    c1: dict = {}
    for h in hists.values():
        for (a, b), c in h.items():
            c12[(a, b)] = c12.get((a, b), 0) + c
            c1[a] = c1.get(a, 0) + c
    out = []
    for did, h in hists.items():
        sw = 0
        n = 0
        for (a, b), c in h.items():
            p = (c12[(a, b)] + 1) / (c1[a] + LM_BUCKETS)
            fp = math.floor(round(-math.log(p), 6) * 1000000.0 + 0.5)
            sw += c * fp
            n += c
        out.append((did, langs[did], n, sw // n))
    out.sort(key=lambda r: (r[3], r[0]))
    return out[:k]
