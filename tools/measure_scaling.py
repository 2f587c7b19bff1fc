"""Measure N->4N scaling efficiency with noise mitigation and write
BENCH_SCALING.json (the evidence for BENCH.md's scaling section).

Method:
* The sandbox VM has intermittent CPU steal (historically ~17% bursts in
  /proc/stat), so each timed run also measures its own steal%; runs with
  steal above STEAL_GATE are rerun (up to MAX_TRIES) and the best clean
  run counts.
* The full-pipeline job (generate -> cells -> PIP + kNN + mosaic) runs at
  N_ROWS per parallelism level; a gen-only kernel run isolates the
  map-side workload from the consumers' shuffles.
* A raw-multiprocessing control (same make_image_row work, no Spark)
  bounds the hardware's own scaling ceiling: this box is memory-bandwidth
  limited well below 4x at 8->32.
* local[4] -> local[16] is the honest N->4N pair on a 32-vCPU box: at
  local[32] the 32 JVM task threads + 32 Python workers oversubscribe the
  machine, which a real 4N-executor cluster would not (executors get
  dedicated cores).  Both pairs are reported.
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N = int(os.environ.get("SPARK_GRAFT_SCALING_N", "300000"))
PAIRS = [(4, 16), (8, 32)]
STEAL_GATE = 0.02
MAX_TRIES = 3


def raw_control(n=40000):
    from multiprocessing import Pool

    out = {}
    for p in (4, 8, 16, 32):
        with Pool(p) as pool:
            pool.map(_raw_work, range(200))
            t0 = time.time()
            pool.map(_raw_work, range(n), chunksize=200)
            out[p] = round(n / (time.time() - t0), 1)
    return out


def _raw_work(i):
    from geojson_vt_rs_spark.sources.images import make_image_row

    make_image_row(i)
    return 0


def _gen_only(spark, cpus, n):
    from geojson_vt_rs_spark.plans.spatial import with_cells, with_footprints
    from geojson_vt_rs_spark.sources.images import generate_images

    with_cells(with_footprints(generate_images(spark, 4096, cpus * 2)), 5).count()
    t0 = time.time()
    with_cells(with_footprints(generate_images(spark, n, cpus * 2)), 5).count()
    return n / (time.time() - t0)


def _measure(job, cpus):
    """Best CLEAN (steal <= gate) run of `job(spark, cpus) -> rows_per_sec`.
    Dirty (high-steal) runs never enter `best` — a lucky dirty run must not
    skew the efficiency number; if no clean run happens within MAX_TRIES we
    fall back to the best dirty run and record which case applied."""
    from geojson_vt_rs_spark.operators.session import get_spark
    from geojson_vt_rs_spark.plans.checkpoint import cpu_ticks, steal_frac

    best_clean, best_clean_steal = 0.0, 1.0
    best_dirty, best_dirty_steal = 0.0, 1.0
    for t in range(MAX_TRIES):
        s = get_spark(app_name=f"scal{cpus}-{time.monotonic_ns()}", cpus=cpus)
        v0 = cpu_ticks()
        rps = job(s, cpus)
        steal = steal_frac(v0, cpu_ticks())
        s.stop()
        print(f"local[{cpus}]: {rps:.0f} rows/s steal={100 * steal:.1f}%",
              flush=True)
        if steal <= STEAL_GATE:
            if rps > best_clean:
                best_clean, best_clean_steal = rps, steal
        elif rps > best_dirty:
            best_dirty, best_dirty_steal = rps, steal
        if best_clean > 0.0:
            break
    if best_clean > 0.0:
        return best_clean, best_clean_steal, "clean"
    return best_dirty, best_dirty_steal, "dirty_fallback"


def measure_levels(levels):
    """Measure the full+gen jobs at the given parallelism levels and
    write a partial JSON (lets long runs split across command windows:
    SPARK_GRAFT_SCALING_LEVELS="4,16" then "8,32", then --merge)."""
    import bench

    def full_job(s, c):
        rps, _ = bench._throughput_job(s, c)
        return rps

    def gen_job(s, c):
        return _gen_only(s, c, N)

    full, gen, run_kind = {}, {}, {}
    for c in levels:
        full[c], _, run_kind[f"full[{c}]"] = _measure(full_job, c)
        gen[c], _, run_kind[f"gen[{c}]"] = _measure(gen_job, c)
    return full, gen, run_kind


def merge_partials(paths):
    full, gen, run_kind = {}, {}, {}
    for p in paths:
        with open(p) as fh:
            d = json.load(fh)
        full.update({int(k): v for k, v in d["full"].items()})
        gen.update({int(k): v for k, v in d["gen"].items()})
        run_kind.update(d["run_kind"])
    return full, gen, run_kind


def main():
    levels_env = os.environ.get("SPARK_GRAFT_SCALING_LEVELS")
    if levels_env:
        levels = [int(c) for c in levels_env.split(",")]
        full, gen, run_kind = measure_levels(levels)
        part = f"{REPO}/.scaling_partial_{'_'.join(map(str, levels))}.json"
        with open(part, "w") as fh:
            json.dump(dict(full=full, gen=gen, run_kind=run_kind), fh)
        print(json.dumps(dict(partial=part, full=full, gen=gen)))
        return
    if "--merge" in sys.argv:
        import glob

        full, gen, run_kind = merge_partials(
            sorted(glob.glob(f"{REPO}/.scaling_partial_*.json"))
        )
    else:
        full, gen, run_kind = measure_levels(
            sorted({c for pair in PAIRS for c in pair})
        )

    control = raw_control()
    eff = {f"{a}->{b}": round(full[b] / (4.0 * full[a]), 3) for a, b in PAIRS}
    gen_eff = {f"{a}->{b}": round(gen[b] / (4.0 * gen[a]), 3) for a, b in PAIRS}
    ctrl_eff = {
        f"{a}->{b}": round(control[b] / (4.0 * control[a]), 3) for a, b in PAIRS
    }
    payload = dict(
        n_rows=N,
        steal_gate=STEAL_GATE,
        run_kind=run_kind,
        full_pipeline_rows_per_sec=full,
        gen_kernel_rows_per_sec=gen,
        efficiency=eff,
        gen_kernel_efficiency=gen_eff,
        engine_vs_control_ratio={
            k: round(gen_eff[k] / ctrl_eff[k], 3) for k in gen_eff
        },
        raw_multiprocessing_control_rows_per_sec=control,
        raw_control_efficiency=ctrl_eff,
    )
    print(json.dumps(payload))
    with open(f"{REPO}/BENCH_SCALING.json", "w") as fh:
        json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
