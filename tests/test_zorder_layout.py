"""The 100-TB claim behind morton_key, made measurable at test scale:
repartitionByRange(morton) + sortWithinPartitions gives parquet files
whose per-file morton [min, max] ranges are nearly disjoint, so a
spatial bbox (= a few morton intervals) overlaps O(few) files, while
hash-partitioned files ALL overlap every query range.  Asserted from
the parquet footers (pyarrow), not from timing."""

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geojson_vt_rs_spark.functions.zorder import morton_key, python_morton


def _file_ranges(path):
    out = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        los, his = [], []
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(0)
            assert col.path_in_schema == "morton"
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        out.append((min(los), max(his)))
    return out


def test_zorder_layout_prunes_files(spark, tmp_path):
    n_files = 8
    pts = spark.range(20_000).select(
        (F.col("id") * 2654435761 % 1024).alias("cx"),
        (F.col("id") * 40503 % 1024).alias("cy"),
    )
    keyed = pts.select(
        morton_key(F.col("cx"), F.col("cy"), 10).alias("morton")
    )

    zdir = str(tmp_path / "zorder")
    keyed.repartitionByRange(n_files, "morton").sortWithinPartitions(
        "morton"
    ).write.parquet(zdir)
    hdir = str(tmp_path / "hashed")
    keyed.repartition(n_files, "morton").write.parquet(hdir)

    # bbox cx,cy in [256, 384) x [256, 384): one aligned quad block =
    # ONE contiguous morton interval
    lo = python_morton(256, 256)
    hi = python_morton(383, 383)
    assert hi - lo == 128 * 128 - 1  # contiguity of the aligned block

    z_hit = sum(1 for a, b in _file_ranges(zdir) if a <= hi and b >= lo)
    h_hit = sum(1 for a, b in _file_ranges(hdir) if a <= hi and b >= lo)
    assert h_hit == n_files          # hash layout: every file overlaps
    assert z_hit <= 2                # z-order layout: O(1) files touch
    # and the engine's own scan agrees with the footer arithmetic
    got = (
        spark.read.parquet(zdir)
        .filter((F.col("morton") >= lo) & (F.col("morton") <= hi))
        .count()
    )
    want = (
        keyed.filter((F.col("morton") >= lo) & (F.col("morton") <= hi))
        .count()
    )
    assert got == want > 0
