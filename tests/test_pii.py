"""PII redaction invariants (operators/pii.py): Spark and DuckDB produce
byte-identical redacted text and counts on overlap/edge corpora."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from geojson_vt_rs_spark.operators.pii import (
    duck_pii_exprs,
    with_pii_redacted,
)

ROWS = [
    (0, "mail me at a.b+c@ex-ample.co.uk or root@10.0.0.1 now"),
    (1, "server 192.168.1.255 and ssn 123-45-6789 plus 999-99-0000x"),
    (2, "no pii here at all"),
    (3, None),
    (4, "double j@x.io k@y.zz 1.2.3.4 5.6.7.8"),
    (5, "edge 1234-56-7890 and 12.34.56.78.90"),
    (6, "a@b.cd@e.fg chained"),  # adjacent candidate boundaries
]


def test_pii_redaction_matches_duckdb(spark):
    df = spark.createDataFrame(ROWS, ["doc_id", "text"])
    got = [
        (r["doc_id"], r["n_email"], r["n_ipv4"], r["n_id_num"], r["redacted"])
        for r in with_pii_redacted(df)
        .select("doc_id", "n_email", "n_ipv4", "n_id_num", "redacted")
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", ROWS)
    e = duck_pii_exprs()
    want = con.execute(
        f"SELECT doc_id, {e['n_email']}, {e['n_ipv4']}, {e['n_id_num']}, "
        f"{e['redacted']} FROM t ORDER BY doc_id"
    ).fetchall()
    assert got == [tuple(w) for w in want]
    # sanity: redaction actually fired
    by_id = {g[0]: g for g in got}
    assert by_id[0][4] == "mail me at <EMAIL> or root@<IP> now"
    assert by_id[1][3] == 2 and "<ID>" in by_id[1][4]
    assert by_id[3] == (3, None, None, None, None)
