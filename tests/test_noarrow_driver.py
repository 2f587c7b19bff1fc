"""Regression: the engine must work in a SparkSession WITHOUT Arrow enabled.

The round-1 driver harness runs a plain session (no
spark.sql.execution.arrow.pyspark.enabled); PySpark's non-Arrow
createDataFrame(pandas) verifier rejects numpy.float64 inside
array<double> cells, which crashed vt_total_us_states
(CORRECTNESS_r01.json).  These tests flip the runtime conf off and run
the exact driver scenario (tests.rs:404-431) through BOTH pyramid paths.
"""

import pytest

US_STATES = "/root/reference/fixtures/us-states.json"

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture()
def no_arrow(spark):
    prev = spark.conf.get(ARROW_CONF, "false")
    spark.conf.set(ARROW_CONF, "false")
    yield spark
    spark.conf.set(ARROW_CONF, prev)


def _us_states_scenario(spark, prefer_local):
    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

    feats = read_geojson_features(spark, US_STATES)
    index = SparkGeoJSONVT(spark, feats, Options(), prefer_local=prefer_local)
    t1 = index.get_tile(7, 37, 48)
    t2 = index.get_tile(9, 148, 192)
    index.get_tile(11, 800, 400)
    index.get_tile(11, 800, 400)
    return index.total, len(t1.features), len(t2.features)


def test_noarrow_us_states_local_path(no_arrow):
    total, f7, f9 = _us_states_scenario(no_arrow, prefer_local=True)
    assert (total, f7, f9) == (37, 6, 1)


def test_noarrow_us_states_distributed_path(no_arrow):
    # prefer_local=False drives the distributed pyramid including the
    # drill-down re-entry createDataFrame (plans/pyramid.py get_tile)
    total, f7, f9 = _us_states_scenario(no_arrow, prefer_local=False)
    assert (total, f7, f9) == (37, 6, 1)


def test_noarrow_driver_query_roundtrip(no_arrow):
    """The literal driver query: result collects to (37, 6, 1)."""
    import __spark_entry__ as e

    row = e.q_vt_total_us_states(no_arrow, "/root/testdata/sf0.001").collect()[0]
    assert (row.total_tiles, row.z7_features, row.z9_features) == (37, 6, 1)


def test_noarrow_null_double_collects_none(no_arrow):
    """A null double (e.g. FEATURE_SCHEMA's id_float) stays NULL through
    create_feature_df's sanitized path: pandas holds it as NaN, which the
    non-Arrow verifier would keep as a value."""
    import pandas as pd
    from pyspark.sql import types as T

    from geojson_vt_rs_spark.operators.schema import create_feature_df

    schema = T.StructType([T.StructField("a", T.DoubleType())])
    rows = create_feature_df(
        no_arrow, pd.DataFrame({"a": [1.5, None]}), schema).collect()
    assert [r.a for r in rows] == [1.5, None]
