"""Round-6 per-query profiler (bench.py stays frozen — guide §1).

For every declared query: capture explain("formatted") to
plans/r06/<name>_<tag>.txt and time N repetitions of .count() (the
bench's own methodology) plus one noop-sink run (full-column compute).
Prints one JSON line {name: {"count": [...], "noop": s}}.

Usage: python tools/profile_r06.py [tag] [only,names]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "3"))
PLANS = os.environ.get("SPARK_GRAFT_PROFILE_PLANS", "1") == "1"


def main():
    import __spark_entry__ as em
    from bench import warm_python_workers
    from geojson_vt_rs_spark.operators.session import get_spark

    spark = get_spark(app_name="profile-r06", cpus=CPUS)
    warm_python_workers(spark)

    os.makedirs("plans/r06", exist_ok=True)
    out = {}
    qs = em.queries()
    for name, fn in qs.items():
        if ONLY is not None and name not in ONLY:
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        times = []
        for _ in range(REPS):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            times.append(round(time.time() - t0, 3))
        if PLANS:
            df = fn(spark, SF_DIR)
            with open(f"plans/r06/{name}_{TAG}.txt", "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        noop = round(time.time() - t0, 3)
        out[name] = {"count": times, "noop": noop}
        print(f"{name:24s} count={times} noop={noop}", file=sys.stderr,
              flush=True)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
