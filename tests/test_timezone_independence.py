"""Session-timezone independence of the timestamp-consuming queries
(ADVICE r5 medium): the engine's NTZ micros formulation
(``timestampdiff(MICROSECOND, TIMESTAMP_NTZ'epoch', col)``) must give
the DuckDB naive ``epoch_us`` value in ANY session timezone — including
DST zones — so the value-hash oracles hold in a plain user session
whose spark.sql.session.timeZone is not UTC.

Verified empirically on Spark 4.1: both timestampdiff args are NTZ, so
the wall-clock difference is evaluated timezone-free (the plan's
displayed session-tz cast is symmetric); the classic failure mode —
``unix_micros(cast(ntz AS timestamp))`` — DOES shift by the DST offset
and is asserted here as the counter-example so a refactor to it fails
loudly.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF = "/root/testdata/sf0.01"

QUERIES = ["sessionize", "rolling_stats", "asof_attribution",
           "group_quantiles", "range_join"]


@pytest.fixture()
def ny_session(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", prev)


def test_ts_queries_match_oracle_in_dst_session(ny_session):
    import __spark_entry__ as em

    spark = ny_session
    con = duckdb.connect()
    for t in ("events", "orders", "lineitem", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"parquet_scan('{SF}/{t}.parquet')"
        )
    qs, oracles = em.queries(), em.oracle_sql()
    for name in QUERIES:
        sdf = qs[name](spark, SF).toPandas()
        odf = con.execute(oracles[name]).fetchdf()
        a = sdf.sort_values(list(sdf.columns)).reset_index(drop=True)
        b = odf.sort_values(list(odf.columns)).reset_index(drop=True)
        assert len(a) == len(b), name
        for c in a.columns:
            av = [None if v != v else v for v in a[c].tolist()]
            bv = [None if v != v else v for v in b[c].tolist()]
            assert av == bv, (name, c)


def test_ntz_cast_counterexample(ny_session):
    """The formulation the engine deliberately avoids DOES shift in a
    DST session — if this ever stops failing, the guard above is moot."""
    from pyspark.sql import functions as F

    spark = ny_session
    row = spark.sql(
        "SELECT timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 "
        "00:00:00', TIMESTAMP_NTZ'2021-07-01 12:00:00') AS good, "
        "unix_micros(cast(TIMESTAMP_NTZ'2021-07-01 12:00:00' "
        "AS timestamp)) AS bad"
    ).collect()[0]
    assert row.good == 1625140800000000  # tz-free wall-clock micros
    assert row.bad != row.good  # the session-tz shift the engine avoids
