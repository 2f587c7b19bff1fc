"""LargeGeoJSON* benchmark stand-in (reference benches/benchmark.rs:63-96).

Upstream stripped ``fixtures/points.geojson`` (.MISSING_LARGE_BLOBS), so
the exact input is unreproducible; sources/synth_features.generate_points
is the deterministic stand-in: N single-Point features (default 10^6),
20% clustered on the benchmark's get_tile(12,1171,1566) target tile.

Measures, per parallelism level (local[CPUS//4] vs local[CPUS], CPUS =
SPARK_GRAFT_CPUS or the host's CPU count — the same job at N and 4N
cores):
  * LargeGeoJSONTileIndex  — distributed pyramid build wall + tiles
    (Options::default() like the reference: imz=5, imp=100000), plus
    each level's wall and steal from its manifest
  * LargeGeoJSONGetTile    — get_tile(12,1171,1566): first call is a
    cold drill-down (Spark jobs); repeat calls are memo hits
Steal%/run is recorded like tools/measure_scaling.py (this VM has
intermittent CPU steal; compare the clean runs).

Writes BENCH_LARGE.json; BENCH.md carries the curated numbers.
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NS = [
    int(x)
    for x in os.environ.get(
        "SPARK_GRAFT_LARGE_NS",
        os.environ.get("SPARK_GRAFT_LARGE_N", "1000000,4000000"),
    ).split(",")
]
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
CPU_LEVELS = (max(1, CPUS // 4), CPUS)


def run_level(cpus: int, N: int) -> dict:
    """CheckpointedPyramid is the scale path (parquet tiles/leaves, no
    driver tile dict); get_tile cold = drill-down Spark jobs + store
    append, warm = partition-pruned parquet point read."""
    import shutil
    import tempfile

    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.operators.session import get_spark
    from geojson_vt_rs_spark.plans.checkpoint import (
        CheckpointedPyramid,
        cpu_ticks,
        steal_frac,
    )
    from geojson_vt_rs_spark.sources.synth_features import generate_points

    import bench

    spark = get_spark(app_name=f"large{cpus}-{time.monotonic_ns()}", cpus=cpus)
    bench.warm_python_workers(spark, cpus=cpus)
    feats = generate_points(spark, N, cpus * 4)
    o = Options()  # reference Options::default(): imz=5, imp=100000
    out_dir = tempfile.mkdtemp(prefix=f"large_{cpus}_")
    cp = CheckpointedPyramid(spark, o)

    v0 = cpu_ticks()
    t0 = time.time()
    s = cp.run(feats, out_dir, raw_npts=N)
    build = time.time() - t0
    steal_build = steal_frac(v0, cpu_ticks())

    t0 = time.time()
    tile = cp.get_tile(out_dir, 12, 1171, 1566)
    n_feat = tile.count()
    cold = time.time() - t0

    t0 = time.time()
    reps = 20
    for _ in range(reps):
        cp.get_tile(out_dir, 12, 1171, 1566).count()
    warm = (time.time() - t0) / reps

    out = dict(
        cpus=cpus,
        n_points=N,
        build_sec=round(build, 2),
        build_points_per_sec=round(N / build, 1),
        build_steal_pct=round(100 * steal_build, 1),
        tiles=s["total_tiles"],
        level_walls=[m["wall_sec"] for m in s["manifests"]],
        level_steals=[m["steal_frac"] for m in s["manifests"]],
        get_tile_cold_sec=round(cold, 3),
        get_tile_warm_sec=round(warm, 4),
        target_tile_features=int(n_feat),
    )
    spark.stop()
    shutil.rmtree(out_dir, ignore_errors=True)
    return out


def main():
    """One run block per input scale (same-job-two-cluster-sizes rule,
    evidenced at TWO data scales so per-core throughput vs N is
    visible); the legacy top-level keys mirror the FIRST (1M) block so
    older readers keep working."""
    runs = []
    for n in NS:
        levels = [run_level(c, n) for c in CPU_LEVELS]
        a, b = levels[0], levels[-1]
        ratio = b["cpus"] / a["cpus"]
        runs.append(
            dict(
                n_points=n,
                levels=levels,
                efficiency_build=round(
                    b["build_points_per_sec"]
                    / (ratio * a["build_points_per_sec"]),
                    3,
                ),
                consistent_tiles=len({lv["tiles"] for lv in levels}) == 1,
                consistent_target=len(
                    {lv["target_tile_features"] for lv in levels}
                ) == 1,
            )
        )
    payload = dict(runs[0], runs=runs)
    print(json.dumps(payload))
    with open(f"{REPO}/BENCH_LARGE.json", "w") as fh:
        json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
