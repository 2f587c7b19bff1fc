"""Kernel unit tests ported point-for-point from the reference
(/root/reference/src/tests.rs:179-402): same literal inputs and expected
outputs, float compare within 4 ulps like the reference's ulps_eq."""

import math

import numpy as np
import pytest

from geojson_vt_rs_spark.core.clip import clip_line_part, clip_ring_part
from geojson_vt_rs_spark.core.simplify import simplify

ULP = 4


def ulps_eq(a, b, ulps=ULP):
    if a == b:
        return True
    return abs(np.float64(a) - np.float64(b)) <= ulps * np.spacing(
        max(abs(a), abs(b))
    )


def points_eq(actual, expected):
    assert len(actual) == len(expected)
    for (ax, ay), (ex, ey) in zip(actual, expected):
        assert ulps_eq(ax, ex), (ax, ex)
        assert ulps_eq(ay, ey), (ay, ey)


SIMPLIFY_INPUT = [
    (0.22455, 0.25015), (0.22691, 0.24419), (0.23331, 0.24145), (0.23498, 0.23606),
    (0.24421, 0.23276), (0.26259, 0.21531), (0.26776, 0.21381), (0.27357, 0.20184),
    (0.27312, 0.19216), (0.27762, 0.18903), (0.28036, 0.18141), (0.28651, 0.17774),
    (0.29241, 0.15937), (0.29691, 0.15564), (0.31495, 0.15137), (0.31975, 0.14516),
    (0.33033, 0.13757), (0.34148, 0.13996), (0.36998, 0.13789), (0.38739, 0.14251),
    (0.39128, 0.13939), (0.40952, 0.14114), (0.41482, 0.13975), (0.42772, 0.12730),
    (0.43960, 0.11974), (0.47493, 0.10787), (0.48651, 0.10675), (0.48920, 0.10945),
    (0.49379, 0.10863), (0.50474, 0.11966), (0.51296, 0.12235), (0.51863, 0.12089),
    (0.52409, 0.12688), (0.52957, 0.12786), (0.53421, 0.14093), (0.53927, 0.14724),
    (0.56769, 0.14891), (0.57525, 0.15726), (0.58062, 0.15815), (0.60153, 0.15685),
    (0.61774, 0.15986), (0.62200, 0.16704), (0.62955, 0.19460), (0.63890, 0.19561),
    (0.64126, 0.20081), (0.65177, 0.20456), (0.67155, 0.22255), (0.68368, 0.21745),
    (0.69525, 0.21915), (0.70064, 0.21798), (0.70312, 0.21436), (0.71226, 0.21587),
    (0.72149, 0.21281), (0.72781, 0.21336), (0.72998, 0.20873), (0.73532, 0.20820),
    (0.73994, 0.20477), (0.76998, 0.20842), (0.77960, 0.21687), (0.78420, 0.21816),
    (0.80024, 0.21462), (0.81053, 0.21973), (0.81719, 0.22682), (0.82077, 0.23617),
    (0.82723, 0.23616), (0.82989, 0.23989), (0.85100, 0.24894), (0.85988, 0.25549),
    (0.86521, 0.26853), (0.85795, 0.28030), (0.86548, 0.29145), (0.86681, 0.29866),
    (0.86468, 0.30271), (0.86779, 0.30617), (0.85987, 0.31137), (0.86008, 0.31435),
    (0.85829, 0.31494), (0.85810, 0.32760), (0.85454, 0.33540), (0.86092, 0.34300),
    (0.85643, 0.35015), (0.85142, 0.35296), (0.84984, 0.35959), (0.85456, 0.36553),
    (0.84974, 0.37038), (0.84409, 0.37189), (0.84475, 0.38044), (0.84152, 0.38367),
    (0.83957, 0.39040), (0.84559, 0.39905), (0.84840, 0.40755), (0.84371, 0.41130),
    (0.84409, 0.41988), (0.83951, 0.43276), (0.84133, 0.44104), (0.84762, 0.44922),
    (0.84716, 0.45844), (0.85138, 0.46279), (0.85397, 0.47115), (0.86636, 0.48077),
]

SIMPLIFY_EXPECTED = [
    (0.22455, 0.25015), (0.26776, 0.21381), (0.29691, 0.15564), (0.33033, 0.13757),
    (0.40952, 0.14114), (0.4396, 0.11974), (0.48651, 0.10675), (0.52957, 0.12786),
    (0.53927, 0.14724), (0.56769, 0.14891), (0.61774, 0.15986), (0.62955, 0.1946),
    (0.67155, 0.22255), (0.72781, 0.21336), (0.73994, 0.20477), (0.76998, 0.20842),
    (0.7842, 0.21816), (0.80024, 0.21462), (0.82077, 0.23617), (0.85988, 0.25549),
    (0.86521, 0.26853), (0.85795, 0.2803), (0.86779, 0.30617), (0.85829, 0.31494),
    (0.85454, 0.3354), (0.86092, 0.343), (0.84984, 0.35959), (0.85456, 0.36553),
    (0.84409, 0.37189), (0.83957, 0.3904), (0.8484, 0.40755), (0.83951, 0.43276),
    (0.85397, 0.47115), (0.86636, 0.48077),
]


def test_simplify_points():
    xs = np.array([p[0] for p in SIMPLIFY_INPUT])
    ys = np.array([p[1] for p in SIMPLIFY_INPUT])
    zs = np.zeros(len(xs))
    simplify(xs, ys, zs, 0.001)
    keep = zs > 0.005 * 0.005
    result = list(zip(xs[keep], ys[keep]))
    points_eq(result, SIMPLIFY_EXPECTED)


POLYLINE1 = [
    (0, 0), (50, 0), (50, 10), (20, 10),
    (20, 20), (30, 20), (30, 30), (50, 30),
    (50, 40), (25, 40), (25, 50), (0, 50),
    (0, 60), (25, 60), (30, 60),
]
POLYLINE2 = [(0, 0), (50, 0), (50, 10), (0, 10)]


def _clip_line(points, k1, k2, metrics=False, seg_start=0.0):
    xs = np.array([p[0] for p in points], dtype=np.float64)
    ys = np.array([p[1] for p in points], dtype=np.float64)
    zs = np.zeros(len(xs))
    return clip_line_part(xs, ys, zs, 0, k1, k2, metrics, seg_start)


def test_clip_polylines():
    slices1 = _clip_line(POLYLINE1, 10.0, 40.0)
    expected1 = [
        [(10, 0), (40, 0)],
        [(40, 10), (20, 10), (20, 20), (30, 20), (30, 30), (40, 30)],
        [(40, 40), (25, 40), (25, 50), (10, 50)],
        [(10, 60), (25, 60), (30, 60)],
    ]
    assert len(slices1) == len(expected1)
    for s, e in zip(slices1, expected1):
        points_eq(list(zip(s[0], s[1])), e)

    slices2 = _clip_line(POLYLINE2, 10.0, 40.0)
    expected2 = [[(10, 0), (40, 0)], [(40, 10), (10, 10)]]
    assert len(slices2) == len(expected2)
    for s, e in zip(slices2, expected2):
        points_eq(list(zip(s[0], s[1])), e)


def test_clip_polylines_metric():
    pts = POLYLINE1[:-1]  # reference metric test uses the 14-point line
    slices = _clip_line(pts, 10.0, 40.0, metrics=True)
    expect = [(10.0, 40.0), (70.0, 130.0), (160.0, 200.0), (230.0, 245.0)]
    assert len(slices) == 4
    for s, (es, ee) in zip(slices, expect):
        assert s[3] == es
        assert s[4] == ee


POLYGON1 = [
    (0, 0), (50, 0), (50, 10), (20, 10), (20, 20), (30, 20), (30, 30),
    (50, 30), (50, 40), (25, 40), (25, 50), (0, 50), (0, 60), (25, 60), (0, 0),
]
POLYGON2 = [(0, 0), (50, 0), (50, 10), (0, 10), (0, 0)]


def _clip_ring(points, k1, k2):
    xs = np.array([p[0] for p in points], dtype=np.float64)
    ys = np.array([p[1] for p in points], dtype=np.float64)
    zs = np.zeros(len(xs))
    return clip_ring_part(xs, ys, zs, 0, k1, k2)


def test_clip_polygons():
    rx, ry, _ = _clip_ring(POLYGON1, 10.0, 40.0)
    expected1 = [
        (10, 0), (40, 0), (40, 10), (20, 10), (20, 20), (30, 20), (30, 30),
        (40, 30), (40, 40), (25, 40), (25, 50), (10, 50), (10, 60), (25, 60),
        (10, 24), (10, 0),
    ]
    points_eq(list(zip(rx, ry)), expected1)

    rx2, ry2, _ = _clip_ring(POLYGON2, 10.0, 40.0)
    expected2 = [(10, 0), (40, 0), (40, 10), (10, 10), (10, 0)]
    points_eq(list(zip(rx2, ry2)), expected2)


def test_clip_points():
    from geojson_vt_rs_spark.core.geom import GEOM_MULTIPOINT

    pts1 = POLYLINE1[:-1]
    xs = np.array([p[0] for p in pts1], dtype=np.float64)
    ys = np.array([p[1] for p in pts1], dtype=np.float64)
    k = xs
    mask = (k >= 10.0) & (k <= 40.0)
    expected1 = [(20, 10), (20, 20), (30, 20), (30, 30), (25, 40), (25, 50), (25, 60)]
    points_eq(list(zip(xs[mask], ys[mask])), expected1)

    xs2 = np.array([p[0] for p in POLYLINE2], dtype=np.float64)
    mask2 = (xs2 >= 10.0) & (xs2 <= 40.0)
    assert mask2.sum() == 0


# Spark's file-scan defaults: spark.sql.files.maxPartitionBytes and
# spark.sql.files.openCostInBytes
MB = 1 << 20
MAX_BYTES, OPEN_COST = 128 * MB, 4 * MB


def test_frontier_listing_hides_dot_and_underscore_names(tmp_path):
    """The level reader lists what Spark's file index lists: no names
    starting with '.' (write_parquet's temp files) or '_', no dirs."""
    import os

    from geojson_vt_rs_spark.operators.pipeline import frontier_files

    for name, size in [("part-00001-render.parquet", 10),
                       (".part-00000-render.parquet.123.tmp", 50),
                       ("_SUCCESS", 0),
                       ("part-00000-render.parquet", 30)]:
        (tmp_path / name).write_bytes(b"x" * size)
    (tmp_path / "z=1").mkdir()
    assert [(os.path.basename(p), s) for p, s in frontier_files(
        str(tmp_path))] == [("part-00000-render.parquet", 30),
                            ("part-00001-render.parquet", 10)]
    with pytest.raises(FileNotFoundError):
        frontier_files(str(tmp_path / "missing"))


def test_pack_files_matches_spark_file_partitions():
    """pack_files bins whole files like Spark's FilePartition: every file
    in exactly one bin, the same bins for the same listing, one bin per
    small file when there are as many files as cores, and Spark's bin
    count for 64 files of about 0.5 MB on 4 cores: each costs 4.5 MB
    against a cap of 64 * 4.5 / 4 = 72 MB, so 16 fill a bin."""
    from geojson_vt_rs_spark.operators.pipeline import pack_files

    small = [(f"f{i}", 1000 + i) for i in range(4)]
    bins = pack_files(small, MAX_BYTES, OPEN_COST, 4)
    assert sorted(map(len, bins)) == [1, 1, 1, 1]

    files = [(f"part-{i:05d}", MB // 2 + (i * 7919) % 4096) for i in range(64)]
    bins = pack_files(files, MAX_BYTES, OPEN_COST, 4)
    assert sorted(p for b in bins for p in b) == sorted(p for p, _ in files)
    assert len(bins) == 4 and all(len(b) == 16 for b in bins)
    assert bins == pack_files(files, MAX_BYTES, OPEN_COST, 4)
    # largest first: the first bin holds the 16 largest files
    by_size = sorted(files, key=lambda f: -f[1])
    assert bins[0] == [p for p, _ in by_size[:16]]
    # the cap never exceeds maxPartitionBytes: 1000 such files on 4
    # cores would cost 1125 MB a core, so a bin takes files while its
    # cost so far plus the next size stays within 128 MB: 29 of them
    many = [(f"g{i}", MB // 2) for i in range(1000)]
    assert max(map(len, pack_files(many, MAX_BYTES, OPEN_COST, 4))) == 29
    assert pack_files([], MAX_BYTES, OPEN_COST, 4) == []
