"""LSH ANN recall vs brute force + salted aggregation equivalence."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def test_lsh_topk_recall(spark):
    from geojson_vt_rs_spark.operators.ann import lsh_topk, with_lsh_bucket
    from geojson_vt_rs_spark.operators.text_dedup import ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(v) for v in emb.filter("vec_id = 0").collect()[0]["embedding"]]

    exact = {r["vec_id"] for r in ann_topk(emb, qv, k=10).collect()}
    approx_df = lsh_topk(emb, qv, k=10, bits=6, probe_radius=2)
    approx = {r["vec_id"] for r in approx_df.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall}"

    # buckets actually prune: candidate set well under the full table
    bucketed = with_lsh_bucket(emb, len(qv), bits=6)
    sizes = bucketed.groupBy("bucket").count().collect()
    assert len(sizes) > 8  # vectors spread across many buckets
    assert max(r["count"] for r in sizes) < emb.count()


def test_lsh_bucket_deterministic(spark):
    from geojson_vt_rs_spark.operators.ann import with_lsh_bucket

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = with_lsh_bucket(emb, 64, bits=8).select("vec_id", "bucket").toPandas()
    b = with_lsh_bucket(emb, 64, bits=8).select("vec_id", "bucket").toPandas()
    a = a.sort_values("vec_id", ignore_index=True)
    b = b.sort_values("vec_id", ignore_index=True)
    assert (a["bucket"] == b["bucket"]).all()


def test_salted_count_matches_plain(spark):
    from geojson_vt_rs_spark.functions.salting import salted_count, salted_sum

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plain = {
        (r["event_type"],): r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r["event_type"],): r["n"]
        for r in salted_count(ev, ["event_type"], n_salts=8).collect()
    }
    assert plain == salted

    plain_sum = {
        r["event_type"]: round(r["t"], 6)
        for r in ev.groupBy("event_type")
        .agg(F.sum(F.floor(F.col("value") * 1000)).alias("t"))
        .collect()
    }
    salted_s = {
        r["event_type"]: round(r["total"], 6)
        for r in salted_sum(
            ev.withColumn("v", F.floor(F.col("value") * 1000)),
            ["event_type"], "v", n_salts=8,
        ).collect()
    }
    assert plain_sum == salted_s


def test_lsh_ivf_partitioning_invariance(spark):
    """Bucket/cell assignments are pure per-row functions — identical
    under any repartitioning (no batch-boundary effects)."""
    from geojson_vt_rs_spark.operators.ann import with_ivf_cell, with_lsh_bucket

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter("vec_id < 16").collect()
    ]
    a = (
        with_lsh_bucket(emb.repartition(1), 64, bits=8)
        .select("vec_id", "bucket").toPandas().sort_values("vec_id", ignore_index=True)
    )
    b = (
        with_lsh_bucket(emb.repartition(13), 64, bits=8)
        .select("vec_id", "bucket").toPandas().sort_values("vec_id", ignore_index=True)
    )
    assert (a["bucket"] == b["bucket"]).all()
    c = (
        with_ivf_cell(emb.repartition(1), cents)
        .select("vec_id", "ivf_cell").toPandas().sort_values("vec_id", ignore_index=True)
    )
    d = (
        with_ivf_cell(emb.repartition(7), cents)
        .select("vec_id", "ivf_cell").toPandas().sort_values("vec_id", ignore_index=True)
    )
    assert (c["ivf_cell"] == d["ivf_cell"]).all()


def test_cosine_near_dup_blocked_completeness(spark):
    """The banding is ONLY a candidate generator: the blocked result must
    EQUAL the exact all-pairs join under the same hamming + threshold
    predicates (pigeonhole guarantee).  The all-pairs variant lives only
    here — its BroadcastNestedLoopJoin shape is test-only by design."""
    import numpy as np
    from geojson_vt_rs_spark.operators.ann import (
        _hyperplanes,
        cosine_near_dup_blocked,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in cosine_near_dup_blocked(
            emb, dim=64, threshold=0.45, bits=16, hamming_max=4
        ).collect()
    }

    # brute force in numpy (sequential-fold exactness does not matter for
    # set membership at round-6 threshold distance from any boundary)
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    M = np.array([[float(v) for v in r["embedding"]] for r in rows])
    H = _hyperplanes(64, 16)
    B = (M @ H > 0).astype(np.int64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
            if (B[i] != B[j]).sum() <= 4 and round(S[i, j], 6) >= 0.45:
                want.add((a, b))
    assert set(got.keys()) == want


def test_simhash_band_blocking_complete(spark):
    """Multi-band candidates cover EVERY hamming<=3 pair (pigeonhole)."""
    from geojson_vt_rs_spark.operators.text_dedup import (
        simhash_near_pairs,
        with_simhash,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]) for r in simhash_near_pairs(docs, 3).collect()
    }
    sims = {
        r["doc_id"]: r["simhash"]
        for r in with_simhash(docs).select("doc_id", "simhash").collect()
    }
    ids = sorted(sims)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    assert got == want


def test_winnow_guarantee_and_edges(spark):
    """The winnowing guarantee (Schleimer et al. SIGMOD'03): two docs
    sharing a run of >= W + K - 1 tokens MUST share a fingerprint; docs
    with fewer than K tokens still fingerprint (small-n polynomial)."""
    from geojson_vt_rs_spark.operators.text_dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprint_rows,
        winnow_pairs,
    )

    run = " ".join(f"tok{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    docs = spark.createDataFrame(
        [
            (0, f"alpha beta {run} gamma"),
            (1, f"delta {run} epsilon zeta"),
            (2, "completely unrelated words here with no overlap at all"),
            (3, "one two three"),  # n = 3 < K
            (4, "solo"),  # n = 1
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprint_rows(docs).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in fps.groupby("doc_id")}
    # guarantee: docs 0 and 1 share the run -> must share >= 1 fingerprint
    assert by_doc[0] & by_doc[1]
    # unrelated doc shares nothing with either
    assert not (by_doc[2] & by_doc[0]) and not (by_doc[2] & by_doc[1])
    # small docs still produce exactly one fingerprint
    assert len(by_doc[3]) == 1 and len(by_doc[4]) == 1
    pairs = winnow_pairs(docs).toPandas()
    got = {(r.doc_a, r.doc_b) for r in pairs.itertuples(index=False)}
    assert (0, 1) in got
    assert all(p[0] < p[1] for p in got)


def test_batch_hash_kernels_match_expr(spark):
    """The simhash / minhash / winnowing kernels against their DuckDB
    SQL twins (the expression formulation of the same math), on a
    corpus spanning every winnow length branch (0..8 tokens), whitespace
    edge cases, non-ASCII whitespace, trailing-NUL tokens, vertical tab,
    null text, and long documents (5k-40k tokens).  The one shape DuckDB
    does not share is pinned to the value Spark SQL gives: the minhashes
    of NULL text."""
    import random

    import duckdb
    import pandas as pd

    from geojson_vt_rs_spark.operators.text_dedup import (
        duck_minhash_ctes,
        duck_simhash_sql,
        duck_winnow_sql,
        with_minhashes,
        with_simhash,
        with_winnow_fingerprints,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)] + ["the", "a", "x,y", "Émile"]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    texts = [doc(n) for n in range(0, 9)]  # every small-n winnow branch
    texts += ["", "  ", "\t\n  foo\tbar\nbaz  "]  # whitespace edge cases
    # non-ASCII whitespace (NBSP, EM SPACE, NEL, IDEOGRAPHIC SPACE) must
    # stay INSIDE tokens: Java \s+ is ASCII-only, and Python str.split()
    # would silently split here (ADVICE r4 regression corpus)
    texts += [
        "foo bar baz qux",
        "ab　c ab　c end",
    ]
    # trailing-NUL token: numpy fixed-width unicode strips trailing
    # NULs on round-trip, so an unprotected np.unique gather would
    # hash 'foo' for 'foo\x00' AND collapse it with a real 'foo'
    texts += ["foo\x00 foo bar", "a\x00\x00 a\x00 a"]
    # vertical tab: whitespace to Java \s and _ASCII_WS alike
    texts += ["a\x0bb c\x0b\x0bd"]
    long_docs = [doc(n) for n in (5000, 12000, 40000)]
    # a shared 200-token run across two long docs (winnowing guarantee)
    shared = doc(200)
    long_docs.append(long_docs[0][:1000] + " " + shared + " " + doc(3000))
    long_docs.append(doc(2500) + " " + shared)
    texts += long_docs
    texts.append(None)  # null text row
    null_id = len(texts) - 1
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts}),
    )

    sim = {
        r.doc_id: r.simhash
        for r in with_simhash(docs).select("doc_id", "simhash").collect()
    }
    assert sim == dict(con.execute(duck_simhash_sql()).fetchall())

    mh = {r.doc_id: list(r.mhs) for r in with_minhashes(docs).collect()}
    cols = ", ".join(f"mh{p}" for p in range(8))
    want_mh = {
        d: list(v)
        for d, v in con.execute(
            f"WITH {duck_minhash_ctes()} SELECT doc_id, [{cols}] FROM mh"
        ).fetchall()
    }
    # pinned: Spark's concat('x', NULL) is NULL, so all 8 minhashes of
    # NULL text are NULL; DuckDB's concat skips the NULL and hashes 'x'
    assert mh.pop(null_id) == [None] * 8
    want_mh.pop(null_id)
    assert mh == want_mh

    fp = {
        r.doc_id: list(r.fingerprints)
        for r in with_winnow_fingerprints(docs)
        .select("doc_id", "fingerprints")
        .collect()
    }
    want_fp: dict = {}
    for d, f in con.execute(duck_winnow_sql()).fetchall():
        want_fp.setdefault(d, []).append(f)
    assert fp == {d: sorted(v) for d, v in want_fp.items()}
    # the shared run produced at least one common fingerprint
    a, b = len(texts) - 3, len(texts) - 2  # the two planted-run docs
    assert set(fp[a]) & set(fp[b])


def test_lsh_bucket_batch_matches_expr(spark):
    """The numpy LSH-bucket kernel must reproduce the DuckDB twin's
    list_sum fold bucket ids BIT-identically — it loops over dims
    (vectorizing over rows) so every row's accumulator sees the same
    float64 addition order; a matmul formulation would reorder and can
    flip borderline signs."""
    import duckdb

    from geojson_vt_rs_spark.operators.ann import (
        duck_lsh_bucket,
        with_lsh_bucket,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").head()[0])
    got = {
        r.vec_id: r.bucket
        for r in with_lsh_bucket(emb, dim, 16).select(
            "vec_id", "bucket"
        ).collect()
    }
    want = dict(
        duckdb.connect().execute(
            "SELECT vec_id, CAST("
            + duck_lsh_bucket("embedding::DOUBLE[]", dim, 16)
            + f" AS BIGINT) FROM read_parquet('{SF}/embeddings.parquet')"
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_lsh_bucket_batch_null_and_nan(spark):
    """Off-happy-path buckets.  Plain, NULL and all-zero vectors match
    the DuckDB twin.  Two shapes follow Spark SQL semantics that DuckDB
    does not share, so they are pinned to the values of the SQL fold
    (zip_with/aggregate + CASE WHEN dot > 0D): a NaN in the vector SETS
    every bit whose fold saw it (`NaN > 0D` is TRUE in Spark; DuckDB
    gives 18 here), and a NULL ELEMENT gives a NULL fold -> bucket 0
    (DuckDB's list_sum skips the NULL and gives 218).  Arrow delivers a
    null element to pandas as NaN, so the kernel must sanitize it
    JVM-side rather than guess from the NaN."""
    import duckdb
    import pandas as pd

    from geojson_vt_rs_spark.operators.ann import (
        duck_lsh_bucket,
        with_lsh_bucket,
    )

    dim = 4
    rows = [
        (0, [1.0, 2.0, -3.0, 0.5]),
        (1, None),
        (2, [float("nan"), 1.0, 1.0, 1.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1.0, None, 1.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r.bucket
        for r in with_lsh_bucket(emb, dim, bits=8)
        .select("vec_id", "bucket")
        .collect()
    }
    con = duckdb.connect()
    con.register(
        "e",
        pd.DataFrame(
            {"vec_id": [i for i, _ in rows], "embedding": [v for _, v in rows]}
        ),
    )
    want = dict(
        con.execute(
            "SELECT vec_id, CAST("
            + duck_lsh_bucket("embedding::DOUBLE[]", dim, 8)
            + " AS BIGINT) FROM e WHERE vec_id IN (0, 1, 3)"
        ).fetchall()
    )
    assert {i: got[i] for i in (0, 1, 3)} == want
    assert got[1] == 0  # null embedding -> every bit test fails
    assert got[2] == 255  # pinned: NaN accumulator > 0D under Spark
    assert got[4] == 0  # pinned: null ELEMENT -> null fold -> bucket 0


def test_dedup_clusters_crafted_graph(spark):
    """Min-label propagation on a crafted graph: a 3-chain, a pair, and
    an isolated node resolve to the expected components; canonical set
    has one row per cluster with correct sizes."""
    from geojson_vt_rs_spark.operators.components import (
        dedup_canonical,
        dedup_clusters,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
    sizes = {
        r.cluster_id: r.n_docs for r in dedup_canonical(docs, edges).collect()
    }
    assert sizes == {0: 3, 3: 1, 4: 2}
    # the star variant resolves the same graph identically
    star = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(docs, edges, algorithm="star").collect()
    }
    assert star == got


def test_dedup_clusters_long_chain(spark):
    """A 1000-node path graph (diameter 999): plain min-label propagation
    needs O(diameter) rounds — it must REFUSE to return partial labels
    within 50 rounds — while the large-star/small-star rewiring converges
    in O(log^2 n) rounds with the exact component labels."""
    import pytest

    from geojson_vt_rs_spark.operators.components import dedup_clusters

    n = 1000
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not reach a fixpoint"):
        dedup_clusters(docs, edges, max_rounds=10)
    star = dedup_clusters(docs, edges, max_rounds=25, algorithm="star")
    got = {r.doc_id: r.cluster_id for r in star.collect()}
    assert got == {i: 0 for i in range(n)}


def test_pq_topk_recall(spark):
    """PQ/ADC candidates must recover most of the exact top-k, and the
    codes must spread across the codebook (quantizer actually quantizes)."""
    import numpy as np

    from geojson_vt_rs_spark.operators.ann import (
        pq_codebooks,
        pq_codes,
        pq_topk,
    )
    from geojson_vt_rs_spark.operators.text_dedup import ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter("vec_id < 16").collect()
    )
    cb = pq_codebooks(rows)
    qv = [float(v) for v in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    exact = {r["vec_id"] for r in ann_topk(emb, qv, k=10).collect()}
    approx = {r["vec_id"] for r in pq_topk(emb, qv, cb, k=10, rescore=40).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"PQ recall too low: {recall}"
    vecs = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    codes = pq_codes(vecs, cb)
    assert len(set(codes[:, 0])) > 4  # subspace 0 uses a spread of codewords


def _embeddings_view(rows):
    """DuckDB connection with an ``embeddings`` view over (vec_id,
    embedding) rows — embedding FLOAT[] like the parquet tables."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "emb_rows",
        pd.DataFrame(
            {"vec_id": [i for i, _ in rows], "embedding": [v for _, v in rows]}
        ),
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT vec_id::BIGINT AS vec_id, "
        "embedding::FLOAT[] AS embedding FROM emb_rows"
    )
    return con


def test_pq_topk_batch_matches_expr(spark):
    """The numpy ADC kernel against the DuckDB twin (the expression
    formulation the codes and ADC sums are defined by): the full top-k
    on the real table, then codes+adist of hostile vectors exercising
    the tie and NaN-ordering rules — NaN lanes (sort AFTER reals in the
    argmin), an exact-duplicate codeword row (argmin takes the smaller
    index), negative zeros, a NULL vector, and short/long ragged rows."""
    import duckdb

    from geojson_vt_rs_spark.operators.ann import (
        duck_pq_adist_ctes,
        duck_pq_topk_sql,
        pq_adc_scored,
        pq_codebooks,
        pq_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter("vec_id < 16").collect()
    )
    cb = pq_codebooks(rows)
    qv = list(next(v for i, v in rows if i == 0))
    got = [tuple(r) for r in pq_topk(emb, qv, cb, k=10, rescore=40).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    assert got == con.execute(duck_pq_topk_sql(k=10, rescore=40)).fetchall()

    base = rows[0][1]
    hostile = [
        (100, [float("nan")] * 64),
        (101, base[:8] + [float("nan")] * 56),
        (102, list(base)),  # exact duplicate of codeword row 0
        (103, [-0.0] * 64),
        (104, [v + 1e-7 for v in base]),
        (105, None),  # NULL vector: every code ties to j=0
        (106, base[:60]),       # short: partial subspace ties to j=0
        (107, list(base) + [0.25] * 6),  # long: slices never pass dim
    ]
    hdf = spark.createDataFrame(
        [
            (i, None if vec is None else [float(v) for v in vec])
            for i, vec in hostile
        ],
        "vec_id long, embedding array<float>",
    )
    got = sorted(
        (r["vec_id"], r["adist"])
        for r in pq_adc_scored(hdf, qv, cb).collect()
    )
    # the codebook rows + query row the oracle derives from, + hostile
    hcon = _embeddings_view(rows + hostile)
    want = hcon.execute(
        f"WITH {duck_pq_adist_ctes()} SELECT id, adist FROM adist "
        "WHERE id >= 100 ORDER BY id"
    ).fetchall()
    assert got == want


def test_ivf_topk_batch_matches_expr(spark):
    """The numpy IVF member kernel against the DuckDB twin: the real
    table, then the real centroid rows plus exact-tie vectors (an exact
    duplicate of the query, a 1e-7 perturbation, a copy of another
    centroid).  NaN, NULL and ragged vectors follow Spark SQL semantics
    DuckDB does not share (NaN/NULL cosines rank differently in
    ranked_topk than in DuckDB's window, and DuckDB's list_sum skips the
    NULLs zip_with pads ragged rows with), so their top-k and cells are
    pinned to the values of the pure-SQL formulation."""
    import duckdb

    from geojson_vt_rs_spark.operators.ann import (
        duck_ivf_topk_sql,
        ivf_topk,
        with_ivf_cell,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.filter("vec_id < 16").collect()
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in rows
    )
    qv = list(next(v for i, v in cents if i == 0))
    got = [tuple(r) for r in ivf_topk(emb, qv, cents, k=10, n_probe=2).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    assert got == con.execute(duck_ivf_topk_sql(16, k=10, n_probe=2)).fetchall()

    base = cents[0][1]
    ties = [
        (202, list(base)),
        (203, [v + 1e-7 for v in base]),
        (204, list(cents[5][1])),
    ]
    tdf = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in cents + ties],
        "vec_id long, embedding array<float>",
    )
    got = [tuple(r) for r in ivf_topk(tdf, qv, cents, k=10, n_probe=2).collect()]
    want = _embeddings_view(cents + ties).execute(
        duck_ivf_topk_sql(16, k=10, n_probe=2)
    ).fetchall()
    assert got == want

    hostile = [
        (200, [float("nan")] * 64),
        (201, base[:8] + [float("nan")] * 56),
        (202, list(base)),
        (203, [v + 1e-7 for v in base]),
        (204, list(cents[5][1])),
        (205, None),  # NULL vector: cell falls to the first cid
        (206, base[:60]),       # short: every dot NULL -> first cid
        (207, list(base) + [0.25] * 6),  # long: centroid side pads NULL
    ]
    hdf = spark.createDataFrame(
        [
            (i, None if vec is None else [float(v) for v in vec])
            for i, vec in hostile
        ],
        "vec_id long, embedding array<float>",
    )
    got = ivf_topk(hdf, qv, cents, k=5, n_probe=2).collect()
    # repr-compare: NaN cos values (NaN embeddings) must match positionally
    assert [tuple(map(repr, r)) for r in got] == [
        ("205", "1", "None"),
        ("202", "2", "1.0"),
        ("203", "3", "1.0"),
        ("200", "4", "nan"),
        ("201", "5", "nan"),
    ]
    cells = sorted(
        (r.vec_id, r.ivf_cell)
        for r in with_ivf_cell(hdf, cents).select("vec_id", "ivf_cell").collect()
    )
    assert cells == [
        (200, 0), (201, 0), (202, 0), (203, 0),
        (204, 5), (205, 0), (206, 0), (207, 0),
    ]


def test_semantic_dedup_batch_matches_expr(spark):
    """The per-cell numpy pair kernel must equal the DuckDB twin's
    equi-join formulation exactly (full output set)."""
    import duckdb

    from geojson_vt_rs_spark.operators.ann import (
        duck_semantic_dedup_sql,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.filter("vec_id < 16").collect()
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in rows
    )
    got = sorted(
        (r["vec_id"], r["ivf_cell"], r["n_dups"], r["max_cos"])
        for r in semantic_dedup(emb, cents, 0.3).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    want = sorted(con.execute(duck_semantic_dedup_sql(16, 0.3)).fetchall())
    assert got == want and len(got) > 0


def test_semantic_dedup_matches_bruteforce(spark):
    """semantic_dedup == the literal per-cell pairwise definition, and the
    kept set satisfies the greedy keep-first property (no kept row has a
    lower-id >=t partner in its cell)."""
    import numpy as np

    from geojson_vt_rs_spark.operators.ann import (
        semantic_dedup,
        with_ivf_cell,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.filter("vec_id < 16").collect()
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in rows
    )
    t = 0.3
    got = {
        int(r["vec_id"]): (int(r["ivf_cell"]), int(r["n_dups"]), r["max_cos"])
        for r in semantic_dedup(emb, cents, threshold=t).collect()
    }
    assert got, "threshold yields a non-trivial dropped set at sf0.01"

    # brute force: same cells (from the engine), sequential-fold cosines
    cells = {
        int(r["vec_id"]): (int(r["ivf_cell"]), [float(v) for v in r["embedding"]])
        for r in with_ivf_cell(emb, cents).collect()
    }

    def cos(u, v):
        d = n1 = n2 = 0.0
        for a, b in zip(u, v):
            d += a * b
        for a in u:
            n1 += a * a
        for b in v:
            n2 += b * b
        return round(d / (n1 ** 0.5 * n2 ** 0.5), 6)

    want = {}
    ids = sorted(cells)
    for i in ids:
        ci, vi = cells[i]
        sims = [
            cos(vi, cells[j][1])
            for j in ids
            if j < i and cells[j][0] == ci
        ]
        sims = [s for s in sims if s >= t]
        if sims:
            want[i] = (ci, len(sims), max(sims))
    assert got == want
    # keep-first property over the kept set
    for i in ids:
        if i not in want:
            ci, vi = cells[i]
            assert not any(
                cos(vi, cells[j][1]) >= t
                for j in ids
                if j < i and cells[j][0] == ci
            )
