"""One clean CheckpointedPyramid build at a chosen parallelism; prints
per-level wall_sec from the manifests (the z0-window fix's direct
evidence) plus total build and cold/warm drill times."""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(os.environ.get("SPARK_GRAFT_LARGE_N", "1000000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def main():
    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.operators.session import get_spark
    from geojson_vt_rs_spark.plans.checkpoint import (
        CheckpointedPyramid,
        cpu_ticks,
        steal_frac,
    )
    from geojson_vt_rs_spark.sources.synth_features import generate_points

    import bench

    spark = get_spark(app_name=f"walls{CPUS}-{time.monotonic_ns()}", cpus=CPUS)
    bench.warm_python_workers(spark, cpus=CPUS)
    parts = int(os.environ.get("SPARK_GRAFT_PARTS", str(CPUS * 4)))
    feats = generate_points(spark, N, parts)
    out_dir = tempfile.mkdtemp(prefix=f"walls_{CPUS}_")
    cp = CheckpointedPyramid(spark, Options())
    v0 = cpu_ticks()
    t0 = time.time()
    s = cp.run(feats, out_dir, raw_npts=N)
    build = time.time() - t0
    steal = steal_frac(v0, cpu_ticks())
    t0 = time.time()
    n_feat = cp.get_tile(out_dir, 12, 1171, 1566).count()
    cold = time.time() - t0
    t0 = time.time()
    for _ in range(10):
        cp.get_tile(out_dir, 12, 1171, 1566).count()
    warm = (time.time() - t0) / 10
    print(json.dumps(dict(
        cpus=CPUS, n_points=N, build_sec=round(build, 2),
        build_steal_pct=round(100 * steal, 1),
        level_walls=[m["wall_sec"] for m in s["manifests"]],
        level_steals=[m.get("steal_frac") for m in s["manifests"]],
        tiles=s["total_tiles"], target_tile_features=int(n_feat),
        cold_sec=round(cold, 2), warm_sec=round(warm, 3),
    )))
    spark.stop()
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
