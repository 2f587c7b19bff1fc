"""Finer breakdown of the bench's vt_pyramid_dist position: replicate the
bench order (local vt_pyramid first), then time each phase of the forced
distributed build on a fresh-session first run."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_vt_pyramid, warm_python_workers  # noqa: E402
from geojson_vt_rs_spark.operators.session import get_spark  # noqa: E402


def main():
    from pyspark.sql import functions as F

    from geojson_vt_rs_spark.config import Options, TileOptions
    from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

    spark = get_spark(app_name="prof-pyramid2", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    warm_python_workers(spark)

    t0 = time.time()
    run_vt_pyramid(spark)  # bench runs the local path first
    print(f"local vt_pyramid: {time.time() - t0:.2f}s", flush=True)

    t0 = time.time()
    feats = read_geojson_features(
        spark, "/root/reference/fixtures/us-states.json")
    print(f"read_geojson_features: {time.time() - t0:.2f}s", flush=True)
    t0 = time.time()
    npts = feats.agg(F.sum("num_points")).collect()[0][0]
    print(f"npts agg: {time.time() - t0:.2f}s  npts={npts}", flush=True)
    t0 = time.time()
    idx = SparkGeoJSONVT(
        spark, feats,
        Options(max_zoom=14, index_max_zoom=7, index_max_points=200,
                tile=TileOptions()),
        prefer_local=False,
    )
    print(f"build: {time.time() - t0:.2f}s total={idx.total}", flush=True)
    # second identical build, warm
    t0 = time.time()
    feats2 = read_geojson_features(
        spark, "/root/reference/fixtures/us-states.json")
    idx2 = SparkGeoJSONVT(
        spark, feats2,
        Options(max_zoom=14, index_max_zoom=7, index_max_points=200,
                tile=TileOptions()),
        prefer_local=False,
    )
    print(f"warm read+build: {time.time() - t0:.2f}s total={idx2.total}",
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
