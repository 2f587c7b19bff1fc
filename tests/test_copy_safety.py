"""A copy of the tree imports only its own code.

Two checkouts side by side (a before/after comparison) must not leak into
each other: importing the driver entry module from a copy must load every
engine module from that copy, whatever checkout the test runs from."""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__
import geojson_vt_rs_spark.plans.checkpoint
print(json.dumps({
    name: mod.__file__ for name, mod in list(sys.modules.items())
    if name.split(".")[0] in ("__spark_entry__", "geojson_vt_rs_spark")
    and getattr(mod, "__file__", None)
}))
"""


def test_copied_tree_imports_only_itself(tmp_path):
    copy = tmp_path / "tree"
    shutil.copytree(
        ROOT, copy,
        ignore=shutil.ignore_patterns(".git", "__pycache__", "spark-warehouse"),
    )
    # the parent process may carry this checkout on PYTHONPATH (the
    # session factory adds it for executor workers): the child must not
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(copy)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=120, check=True,
    )
    files = json.loads(out.stdout.strip().splitlines()[-1])
    assert "__spark_entry__" in files
    assert any(n.startswith("geojson_vt_rs_spark.plans") for n in files)
    outside = {
        n: f for n, f in files.items()
        if not os.path.realpath(f).startswith(os.path.realpath(copy) + os.sep)
    }
    assert not outside, outside
