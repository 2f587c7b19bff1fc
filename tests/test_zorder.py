"""Morton key three-way parity (Spark magic-number spread vs DuckDB
twin vs bit-by-bit Python) + the locality property that justifies the
layout op, + the zorder_blocks oracle at sf0.001."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pytest

from geojson_vt_rs_spark.functions.zorder import (
    morton_key,
    python_morton,
    sql_morton,
)

COORDS = [
    (0, 0), (1, 0), (0, 1), (1, 1),
    (2, 3), (123, 456), (1023, 1023),
    ((1 << 30) - 1, 0), (0, (1 << 30) - 1),
    ((1 << 30) - 1, (1 << 30) - 1),
]


def test_morton_three_way(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(COORDS, ["cx", "cy"])
    got = {
        (r["cx"], r["cy"]): r["m"]
        for r in df.select(
            "cx", "cy", morton_key(F.col("cx"), F.col("cy"), 30).alias("m")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE c(cx BIGINT, cy BIGINT)")
    con.executemany("INSERT INTO c VALUES (?,?)", COORDS)
    duck = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            f"SELECT cx, cy, {sql_morton('cx','cy')} FROM c"
        ).fetchall()
    }
    for cx, cy in COORDS:
        want = python_morton(cx, cy)
        assert got[(cx, cy)] == want, (cx, cy)
        assert duck[(cx, cy)] == want, (cx, cy)
        assert want >= 0  # never trips the BIGINT sign


def test_morton_locality_and_injectivity():
    # every 2x2 cell block shares its key DIV 4; all keys distinct
    keys = {}
    for cx in range(16):
        for cy in range(16):
            k = python_morton(cx, cy)
            keys[(cx, cy)] = k
            assert k // 4 == python_morton(cx // 2, cy // 2), (cx, cy)
    assert len(set(keys.values())) == len(keys)


def test_morton_zoom_guard():
    from pyspark.sql import functions as F

    with pytest.raises(ValueError):
        morton_key(F.lit(0), F.lit(0), 31)


def test_zorder_blocks_oracle(spark):
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    sdf = em.queries()["zorder_blocks"](spark, sf)
    cols = sorted(sdf.columns)
    got = sorted(map(tuple, sdf.select(*cols).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'")
    odf = con.execute(em.oracle_sql()["zorder_blocks"]).df()
    want = sorted(map(tuple, odf[cols].itertuples(index=False, name=None)))
    assert got == want and len(got) > 5
