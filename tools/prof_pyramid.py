"""Profile vt_pyramid_dist (bench shape) with per-level debug: run the
forced-distributed us-states build N times in one session, print each
build's wall and the per-level walls (SPARK_GRAFT_DEBUG_LEVELS).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_DEBUG_LEVELS", "1")

from bench import run_vt_pyramid, warm_python_workers  # noqa: E402
from geojson_vt_rs_spark.operators.session import get_spark  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 3


def main():
    spark = get_spark(app_name="prof-pyramid", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    warm_python_workers(spark)
    for i in range(N):
        t0 = time.time()
        total = run_vt_pyramid(spark, prefer_local=False)
        print(f"run{i}: {time.time() - t0:.2f}s total_tiles={total}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
