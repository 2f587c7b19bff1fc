"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tile_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The engine is imported from the
checkout that holds this file, never from anywhere else on the path,
and the run fails if any engine module was loaded from another tree.
Spark runs on ``local[<cores>]`` from this one process; everything it
writes stays under ``perfbench/.work/``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics of BENCHMARK.json (``--trace 0``) or its
per-layer metrics (``--trace 1``).  The line before it holds the run's
details: host guards, per-phase walls, the unaccounted gap, tree path
and commit.  A traced run also writes every span and counter to
``perfbench/.work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_MODULES = ("geojson_vt_rs_spark", "__spark_entry__")


def _under_root(path: str) -> bool:
    return os.path.realpath(path).startswith(os.path.realpath(ROOT) + os.sep)


def stray_modules() -> list:
    """Engine modules loaded in this process from outside ROOT."""
    return sorted(
        name for name, mod in list(sys.modules.items())
        if name.split(".")[0] in ENGINE_MODULES
        and getattr(mod, "__file__", None)
        and not _under_root(mod.__file__)
    )


def _load_engine() -> None:
    # the package must be imported from ROOT before anything else can
    # import it (``__spark_entry__`` prepends a fixed path to sys.path)
    sys.path.insert(0, ROOT)
    try:
        import geojson_vt_rs_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: no engine under {ROOT}: {e}")
    if stray_modules():
        raise SystemExit(f"perfbench: engine loaded from outside {ROOT}")


def _commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _worker_engine_files(batches):
    import geojson_vt_rs_spark
    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"f": [os.path.realpath(geojson_vt_rs_spark.__file__)]})


def _session(work: str, trace: bool):
    from geojson_vt_rs_spark.operators.session import get_spark

    cores = len(os.sched_getaffinity(0))
    # every JVM (the launcher too) keeps its temp files in the work dir
    # and writes no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the trace reads every job, stage and SQL execution at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from perfbench import host

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _phase_walls(spans: list) -> dict:
    walls: dict = {}
    for sp in spans:
        if sp["parent"] is None:
            walls.setdefault(sp["name"], []).append(sp["t1"] - sp["t0"])
    return {k: dict(n=len(v), p50_s=statistics.median(v), sum_s=sum(v))
            for k, v in walls.items()}


def _unaccounted(tr, window: float) -> float:
    """Window wall outside every span (untraced ops sit inside one)."""
    return max(0.0, window - sum(s["t1"] - s["t0"] for s in tr.spans
                                 if s["stage"] == "window"
                                 and s["parent"] is None))


def _layer_metrics(tr, ctx, rec_walls, overhead, window, n_ops, host_g):
    """Every per-layer value this run can give, by metric name."""
    from perfbench.spans import COUNTERS, phase_table

    win = [s for s in tr.spans if s["stage"] == "window"]
    table = phase_table(win)
    out = {f"{ph}.{k}": row[k] for ph, row in table.items() for k in COUNTERS}
    # the pipeline layer: Arrow stages of operators/pipeline.py run inside
    # the checkpoint and pyramid phases; totals per traced op
    traced_ops = max(1, len(overhead["traced"]))
    for k in ("py_to_mb", "py_from_mb", "py_run_s", "py_init_s"):
        out[f"pipeline.{k}"] = sum(
            s["c"][k] for s in win
            if s["parent"] is None and s["name"].split(".")[0]
            in ("checkpoint", "pyramid")) / traced_ops
    out.update(ctx.layer)
    for name, (phase, count) in ctx.rates.items():
        wall = (statistics.median(rec_walls) if phase is None
                else table.get(phase, {}).get("wall_s"))
        out[name] = count / wall if wall else 0.0
    out["bench.unaccounted_s"] = _unaccounted(tr, window) / n_ops
    out["bench.trace_overhead_frac"] = (
        statistics.median(overhead["traced"][1:])
        / statistics.median(overhead["untraced"]) - 1.0)
    out["host.steal_frac"] = host_g["steal_frac"]
    out["host.control_ms"] = statistics.median(host_g["control_ms"])
    return out


def measure(args, spark, work: str) -> dict:
    """Set up, run the timed window and check it; returns the run state
    ``report`` turns into output once Spark has stopped."""
    from pyspark import cloudpickle

    import perfbench
    from perfbench import host
    from perfbench.spans import Tracer
    from perfbench.workloads import SIZES, WORKLOADS, Ctx, Record

    # workload kernels live in this package, which executors cannot import
    cloudpickle.register_pickle_by_value(perfbench)
    ctx = Ctx(spark, args.seed, work, SIZES[args.size])
    wl = WORKLOADS[args.workload](ctx)
    tr = Tracer(spark, enabled=bool(args.trace))
    plain = Tracer(spark, enabled=False)
    host_g = dict(control_ms=[host.control_ms()])

    # first job: starts the Python workers, which must import the engine
    # from this tree too
    tr.stage = "warmup"
    with tr.span("bench.worker_check"):
        worker_files = sorted(
            r.f for r in spark.range(0, 8, 1, 8)
            .mapInPandas(_worker_engine_files, "f string").distinct().collect())

    tr.stage = "setup"
    setup_walls = []
    for _ in range(wl.SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(tr)
        setup_walls.append(time.perf_counter() - t0)
    tr.stage = "prepare"
    wl.prepare(tr)

    tr.stage = "window"
    records: list = []
    overhead: dict = dict(traced=[], untraced=[])
    ticks0 = host.cpu_ticks()
    t_win = time.perf_counter()
    with host.RssSampler() as rss:
        while True:
            # a traced run alternates traced and untraced ops after a
            # traced first (cold) op, so the tracing overhead is measured
            # inside the run between ops of the same warmth
            n_ops = len(overhead["traced"]) + len(overhead["untraced"])
            traced = not args.trace or n_ops % 2 == 0
            t0 = time.perf_counter()
            try:
                if traced:
                    records += wl.op(tr)
                else:
                    with tr.span("bench.untraced_op"):
                        records += wl.op(plain)
            except Exception:  # a failed op counts against the run
                traceback.print_exc()
                records.append(Record("op", time.perf_counter() - t0, False))
            overhead["traced" if traced else "untraced"].append(
                time.perf_counter() - t0)
            n_ops = len(overhead["traced"]) + len(overhead["untraced"])
            if (time.perf_counter() - t_win >= args.seconds
                    and n_ops >= max(wl.MIN_OPS, 3 if args.trace else 1)):
                break
    window = time.perf_counter() - t_win
    host_g["steal_frac"] = host.steal_frac(ticks0, host.cpu_ticks())

    tr.stage = "check"
    try:
        wl.check(tr, records)
    except Exception:
        traceback.print_exc()
        for r in records:
            r.ok = False
    host_g["control_ms"].append(host.control_ms())
    if args.trace:
        tr.snapshot()
    return dict(ctx=ctx, tr=tr, plain=plain, records=records,
                overhead=overhead, window=window, n_ops=n_ops, host=host_g,
                setup_walls=setup_walls, peak_rss_mb=rss.peak_mb,
                worker_files=worker_files)


def report(args, st: dict, work: str) -> tuple:
    """(detail, result) of a measured run; reads the event log of a
    traced run, which Spark completes when it stops."""
    import glob

    from perfbench.spans import python_metrics

    tr, plain, records = st["tr"], st["plain"], st["records"]
    op_walls = [r.wall for r in records if r.kind == "op"]
    e2e = dict(setup_s=statistics.median(st["setup_walls"]),
               op_p50_s=statistics.median(op_walls))
    totals, layer = None, {}
    if args.trace:
        logs = glob.glob(os.path.join(work, "events", "*"))
        totals = tr.collect(python_metrics(logs[0]) if logs else {})
        layer = _layer_metrics(tr, st["ctx"], op_walls, st["overhead"],
                               st["window"], st["n_ops"], st["host"])
        layer["host.peak_rss_mb"] = st["peak_rss_mb"]
    window_spans = [s for s in tr.spans + plain.spans
                    if s["stage"] == "window"]
    strays = stray_modules()
    foreign = [f for f in st["worker_files"] if not _under_root(f)]
    detail = dict(
        workload=args.workload, seed=args.seed, size=args.size,
        trace=args.trace, root=ROOT, commit=_commit(),
        stray_modules=strays, worker_engine_files=st["worker_files"],
        host=st["host"], setup_walls_s=st["setup_walls"], op_walls_s=op_walls,
        window_s=st["window"], ops=st["n_ops"],
        peak_rss_mb=st["peak_rss_mb"],
        phase_walls=_phase_walls(window_spans),
        unaccounted_s=_unaccounted(tr, st["window"]),
        e2e=e2e, totals=totals,
    )
    if args.trace:
        _write_trace(args, detail, tr, layer)
    failed = sum(not r.ok for r in records)
    result = dict(correct=failed == 0 and not strays and not foreign,
                  attempted=len(records), failed=failed,
                  metrics=_select(args.trace, e2e, layer))
    return detail, result


def _select(trace: int, e2e: dict, layer: dict) -> dict:
    """The metrics BENCHMARK.json names, with its units; a per-layer
    metric of a phase this workload does not run reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer"] if trace else spec["end_to_end"]
    values = layer if trace else e2e
    return {m["name"]: dict(value=float(values.get(m["name"], 0.0)),
                            unit=m["unit"]) for m in names}


def _write_trace(args, detail: dict, tr, layer: dict) -> None:
    spans = [dict({k: v for k, v in s.items() if k != "parent"},
                  parent=s["parent"]["name"] if s["parent"] else None)
             for s in tr.spans]
    path = os.path.join(ROOT, "perfbench", ".work",
                        f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(dict(detail, layer=layer, spans=spans), f, indent=1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True,
                   choices=("tile_build", "tile_drill", "graft_images"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-tests")
    args = p.parse_args(argv)
    _load_engine()
    warnings.filterwarnings("ignore", category=UserWarning)
    base = os.path.join(ROOT, "perfbench", ".work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        spark = _session(work, bool(args.trace))
        try:
            state = measure(args, spark, work)
        finally:
            _shutdown(spark)
        detail, result = report(args, state, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
