"""End-to-end spark-submit --py-files contract (north_rule): package the
engine into a zip, submit run_pipeline.py on a fresh local cluster, check
the metrics line and the resumable outputs."""

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _make_zip(tmp_path) -> str:
    zpath = str(tmp_path / "geojson_vt_rs_spark.zip")
    pkg = os.path.join(REPO, "geojson_vt_rs_spark")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))
    return zpath


def _failure(res) -> str:
    """The failed run's last Python traceback, then the tail of its
    stderr.  spark-submit runs the Python driver with its stderr merged
    into stdout, and Spark's log lines after it would push a traceback
    out of a plain tail of stderr."""
    tb = "(no Python traceback)"
    for text in (res.stdout, res.stderr):
        at = text.rfind("Traceback (most recent call last)")
        if at >= 0:
            tb = text[at:at + 6000]
            break
    return f"{tb}\n--- last 2000 chars of stderr ---\n{res.stderr[-2000:]}"


@pytest.mark.slow
def test_spark_submit_pipeline(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    zpath = _make_zip(tmp_path)
    out = str(tmp_path / "out")
    cmd = [
        spark_submit,
        "--master", "local[8]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(REPO, "run_pipeline.py"),
        "--n-images", "600",
        "--zoom", "5",
        "--out", out,
        "--buckets", "4",
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=480)
    assert res.returncode == 0, _failure(res)
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    m = json.loads(line)
    assert m["rows"] == 600
    assert m["mosaic_buckets"] == 4
    assert os.path.exists(os.path.join(out, "mosaic", "_manifests"))
    assert os.path.exists(os.path.join(out, "pip"))
    assert os.path.exists(os.path.join(out, "knn"))
