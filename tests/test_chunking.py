"""chunk_pack three-way parity (Spark two-phase cumsum vs DuckDB
global window vs plain Python) on edge frames: null/empty text, docs
landing exactly on chunk boundaries, one doc spanning many chunks,
sparse doc_ids, bucket-width and partitioning invariance."""

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.chunking import (
    chunk_pack,
    duck_chunk_pack_sql,
)

L = 8

ROWS = [
    (0, "a b c d e f g h"),            # exactly one chunk
    (1, None),                          # no tokens
    (3, ""),                            # no tokens
    (7, "x " * 20),                     # 20 tokens: spans 3 chunks
    (90, "one two three"),              # sparse id far away
    (91, "w1 w2 w3 w4 w5"),
    (900, "tail"),                      # lone tail token
]


def _py_chunks(rows, chunk_len):
    toks = {
        d: len([w for w in re.split(r"[ \t\n\x0b\f\r]+", t.strip()) if w])
        if t else 0
        for d, t in rows
    }
    out = {}
    start = 0
    for d in sorted(toks):
        n = toks[d]
        if n == 0:
            continue
        for c in range(start // chunk_len, (start + n - 1) // chunk_len + 1):
            lo = max(start, c * chunk_len)
            hi = min(start + n, (c + 1) * chunk_len)
            docs, first, last, tot = out.get(c, (0, d, d, 0))
            out[c] = (docs + 1, min(first, d), max(last, d), tot + hi - lo)
        start += n
    return {c: v for c, v in out.items()}


def _spark_chunks(spark, rows, chunk_len, bucket_width, parts=None):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    if parts:
        df = df.repartition(parts)
    return {
        r["chunk_id"]: (
            r["n_docs"], r["first_doc_id"], r["last_doc_id"],
            r["chunk_tokens"],
        )
        for r in chunk_pack(
            df, chunk_len=chunk_len, bucket_width=bucket_width
        ).collect()
    }


def test_chunk_pack_three_way(spark):
    want = _py_chunks(ROWS, L)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", ROWS)
    duck = {
        r[0]: tuple(r[1:])
        for r in con.execute(duck_chunk_pack_sql(chunk_len=L)).fetchall()
    }
    assert duck == want
    for bw in (1, 4, 64, 10_000):       # bucket width is internal only
        got = _spark_chunks(spark, ROWS, L, bw)
        assert got == want, f"bucket_width={bw}"
    # partitioning invariance
    assert _spark_chunks(spark, ROWS, L, 4, parts=7) == want
    # conservation: chunk tokens sum to the corpus token count
    assert sum(v[3] for v in want.values()) == 8 + 20 + 3 + 5 + 1
    # every chunk but the last is full
    full = sorted(want)
    assert all(want[c][3] == L for c in full[:-1])


def test_chunk_pack_sf(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = sorted(
        map(tuple, chunk_pack(docs, chunk_len=512).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = sorted(
        map(tuple, con.execute(duck_chunk_pack_sql(chunk_len=512)).fetchall())
    )
    assert got == want and len(got) > 10
