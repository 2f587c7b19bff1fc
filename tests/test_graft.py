"""Graft pipeline tests: PNG codec, synthetic images, cell assignment,
PIP join vs brute force, kNN join, mosaic PSNR + caption byte-equality."""

import json
import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pip_oracle import ray_cast_inside

from geojson_vt_rs_spark.sources.images import (
    compute_phash,
    decode_image,
    generate_images,
    make_image_row,
    make_pixels,
)
from geojson_vt_rs_spark.sources.png import decode_png, encode_png, psnr


def test_png_roundtrip():
    rgb = make_pixels(7, 24, 16)
    data = encode_png(rgb)
    back = decode_png(data)
    assert np.array_equal(rgb, back)
    assert psnr(rgb, back) == float("inf")


def test_image_row_deterministic():
    a = make_image_row(42)  # i%4 == 2 -> jpeg row
    b = make_image_row(42)
    assert a["fmt"] == "jpeg"
    assert a["bytes"] == b["bytes"]
    assert a["phash"] == b["phash"]
    assert a["caption"] == "caption for img00000042"
    # phash is the INGEST-time hash of the source pixels; jpeg is lossy,
    # so the decoded image's hash may drift by a few bits but stays near
    rgb = decode_image(a["bytes"], a["w"], a["h"], a["fmt"])
    drift = bin((compute_phash(rgb) ^ a["phash"]) & ((1 << 64) - 1)).count("1")
    assert drift <= 8, drift
    c = make_image_row(41)  # png row: lossless, phash exact
    rgb_c = decode_image(c["bytes"], c["w"], c["h"], c["fmt"])
    assert compute_phash(rgb_c) == c["phash"]


def test_jpeg_roundtrip():
    from geojson_vt_rs_spark.sources.jpeg import encode_jpeg
    from geojson_vt_rs_spark.sources.png import psnr

    for i, w, h in [(2, 16, 24), (6, 32, 32), (10, 24, 16), (14, 17, 9)]:
        rgb = make_pixels(i, w, h)
        back = decode_image(encode_jpeg(rgb), w, h, "jpeg")
        assert back.shape == rgb.shape
        assert psnr(rgb, back) >= 40.0  # builder-brief fidelity gate
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff", 8, 8, "jpeg")  # truncated
    with pytest.raises(ValueError):
        decode_image(b"nonsense", 8, 8, "jpeg")


N = 2000
ZOOM = 5


@pytest.fixture(scope="module")
def images(spark):
    from geojson_vt_rs_spark.plans.spatial import with_cells, with_footprints

    df = with_cells(with_footprints(generate_images(spark, N, 8)), ZOOM)
    df.persist().count()
    return df


def test_images_table_shape(spark, images):
    assert images.count() == N
    row = images.filter("image_id = 'img00000042'").collect()[0]
    rgb = decode_image(bytes(row["bytes"]), row["w"], row["h"], row["fmt"])
    assert psnr(rgb, rgb) == float("inf")
    assert row["caption"] == "caption for img00000042"
    # footprints in range, cells in range
    agg = images.selectExpr(
        "min(lon) a", "max(lon) b", "min(lat) c", "max(lat) d",
        "min(cx) e", "max(cx) f", "min(cy) g", "max(cy) h",
    ).collect()[0]
    assert -180 <= agg["a"] and agg["b"] < 180.01
    assert -80.01 <= agg["c"] and agg["d"] < 80.01
    assert 0 <= agg["e"] and agg["f"] < (1 << ZOOM)
    assert 0 <= agg["g"] and agg["h"] < (1 << ZOOM)


def test_metro_skew_present(images):
    top = (
        images.groupBy("cx", "cy").count().orderBy("count", ascending=False).limit(3)
    ).collect()
    # ~30% of rows in 3 metro cells
    assert sum(r["count"] for r in top) > 0.25 * N


def _box(x0, y0, x1, y1):
    """Closed lon/lat box ring as (xs, ys, zs)."""
    xs = np.array([x0, x1, x1, x0, x0], dtype=np.float64)
    ys = np.array([y0, y0, y1, y1, y0], dtype=np.float64)
    return xs, ys, np.zeros(5)


def _hand_shapes():
    """Shapes that the generated boxes lack, each over image footprints:
    a concave L whose notch corner sits inside the NYC metro cluster, a
    ring whose hole's corner sits inside the Tokyo cluster, and a box
    spanning the 2x2 block of z5 tiles x 16-17, y 15-16, which clipping
    cuts into four tile polygons."""
    from geojson_vt_rs_spark.core.geom import GEOM_POLYGON, make_feature

    lx = np.array([-74.5, -73.5, -73.5, -74.001, -74.001, -74.5, -74.5])
    ly = np.array([40.2, 40.2, 40.7175, 40.7175, 41.2, 41.2, 40.2])
    shapes = [
        [(lx, ly, np.zeros(len(lx)))],
        [_box(139.2, 35.2, 140.2, 36.2), _box(139.696, 35.694, 140.0, 36.0)],
        [_box(1.0, -8.0, 20.0, 8.0)],
    ]
    feats = []
    for i, rings in enumerate(shapes):
        f = make_feature(
            GEOM_POLYGON, rings, ring_group_sizes=[len(rings)],
            feature_seq=10_000 + i, id_str=f"hand{i}",
        )
        f.num_points = len(f.xs)
        feats.append(f)
    return feats


@pytest.fixture(scope="module")
def poly_index(spark):
    """Generated polygons and polylines plus the hand-built shapes."""
    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.operators.schema import (
        FEATURE_SCHEMA,
        create_feature_df,
        features_to_pdf,
    )
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT
    from geojson_vt_rs_spark.sources.synth_features import generate_features

    feats = generate_features(spark, 600, partitions=4).unionByName(
        create_feature_df(spark, features_to_pdf(_hand_shapes()), FEATURE_SCHEMA)
    )
    # index_max_points=0 forces full split to ZOOM so every occupied
    # cell has its clipped tile polygons materialized
    return SparkGeoJSONVT(
        spark, feats, Options(index_max_zoom=ZOOM, index_max_points=0)
    )


def test_pip_join_vs_bruteforce(spark, images, poly_index):
    from geojson_vt_rs_spark.plans.spatial import pip_join, tile_polygons_df

    polys = tile_polygons_df(spark, poly_index, ZOOM)
    npolys = polys.count()
    assert npolys > 0
    got = pip_join(images, polys, ZOOM).toPandas()

    # brute force on the driver: every polygon against every point of
    # its cell, with no bbox prune
    pts = images.select("image_id", "mx", "my", "cx", "cy").toPandas()
    pl = polys.toPandas()
    expected = set()
    z2 = float(1 << ZOOM)
    for pr in pl.itertuples(index=False):
        sub = pts[(pts.cx == pr.x) & (pts.cy == pr.y)]
        if sub.empty:
            continue
        tx = (sub["mx"].to_numpy() * z2 - pr.x) * 4096
        ty = (sub["my"].to_numpy() * z2 - pr.y) * 4096
        inside = ray_cast_inside(tx, ty, json.loads(pr.rings_json))
        for iid in sub["image_id"].to_numpy()[inside]:
            expected.add((iid, pr.x, pr.y, pr.feature_idx, pr.id_str))
    actual = {
        (r.image_id, r.cx, r.cy, r.feature_idx, r.id_str)
        for r in got.itertuples(index=False)
    }
    assert actual == expected
    # the hand shapes: the L and the holed ring each keep part of their
    # metro cluster out, and the 2x2 box is clipped into four tiles
    hand = {}
    for t in poly_index.get_internal_tiles().values():
        for idx, f in enumerate(t.features):
            if t.z == ZOOM and (f["id_str"] or "").startswith("hand"):
                hand.setdefault(f["id_str"], set()).add((t.x, t.y, idx))
    assert {(x, y) for x, y, _ in hand["hand2"]} == {
        (16, 15), (17, 15), (16, 16), (17, 16)
    }
    for k, metro in (("hand0", 0), ("hand1", 1)):  # L: NYC, holed ring: Tokyo
        ids = set(
            images.filter(f"pmod(xxhash64(image_id), 10) = {metro}")
            .toPandas()["image_id"]
        )
        hits = {a[0] for a in actual if a[1:4] in hand[k]}
        assert 0 < len(hits) < len(ids), (k, len(hits), len(ids))
    # caption invariant: joined captions byte-equal the source formula
    for r in got.itertuples(index=False):
        assert r.caption == "caption for " + r.image_id


# Ring vertices on a coarse grid make horizontal edges, shared vertex
# heights and repeated vertices common; the wide draw reaches the tile
# buffer.  Every coordinate is an integer, as in the emitted polygons.
_coord = st.one_of(st.integers(0, 8).map(lambda g: 512 * g),
                   st.integers(-64, 4160))
_vertex = st.tuples(_coord, _coord)
# a closed ring (a 2-point draw closes into the degenerate a-b-a) or a
# short unclosed one of 1-2 points, which the ray cast skips
_ring = st.one_of(
    st.lists(_vertex, min_size=2, max_size=7).map(
        lambda r: [list(p) for p in r + r[:1]]),
    st.lists(_vertex, min_size=1, max_size=2).map(
        lambda r: [list(p) for p in r]),
)


@st.composite
def _holed(draw):
    """An axis-aligned outer ring with one hole strictly inside it."""
    x0, y0 = draw(st.integers(-64, 3000)), draw(st.integers(-64, 3000))
    w, h = draw(st.integers(8, 1000)), draw(st.integers(8, 1000))
    a, b = draw(st.integers(1, w // 2 - 1)), draw(st.integers(1, h // 2 - 1))

    def box(x0, y0, x1, y1):
        return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]

    return [box(x0, y0, x0 + w, y0 + h),
            box(x0 + a, y0 + b, x0 + w - a, y0 + h - b)]


# one flat ring list per polygon, as tile_polygons_df stores it: holes,
# multipolygon parts and degenerate rings all fold into one parity count
_rings = st.one_of(st.lists(_ring, min_size=1, max_size=4), _holed())


@given(st.lists(_rings, min_size=1, max_size=5),
       st.lists(st.tuples(st.integers(-160, 8360), st.integers(-160, 8360)),
                max_size=30),
       st.lists(st.integers(-80, 4180), max_size=10))
@settings(max_examples=20, deadline=None, derandomize=True)
def test_pip_join_matches_ray_cast_oracle(spark, polys, free, xs):
    """The JVM ray cast of pip_join keeps exactly the (point, polygon)
    pairs of the numpy oracle: points on every vertex, at every vertex's
    ray height and on edge midpoints (horizontal edges included), plus
    free points at half-unit steps.  At z0 in tile (0, 0), tx = mx * 4096
    exactly, so both sides test the same doubles."""
    from geojson_vt_rs_spark.operators.schema import local_relation_df
    from geojson_vt_rs_spark.plans.spatial import pip_join

    verts = [tuple(p) for rings in polys for r in rings for p in r]
    pts = set(verts)
    pts |= {(x, vy) for x in xs for _, vy in verts}
    pts |= {((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
            for rings in polys for r in rings for a, b in zip(r, r[1:])}
    pts |= {(x / 2, y / 2) for x, y in free}
    pts = sorted(pts)
    tx = np.array([p[0] for p in pts], dtype=np.float64)
    ty = np.array([p[1] for p in pts], dtype=np.float64)
    img = local_relation_df(
        spark,
        [(f"p{i}", f"caption for p{i}", 0, 0, x / 4096, y / 4096)
         for i, (x, y) in enumerate(pts)],
        "image_id string, caption string, cx long, cy long, "
        "mx double, my double")
    rows = []
    for k, rings in enumerate(polys):
        rx = [p[0] for r in rings for p in r]
        ry = [p[1] for r in rings for p in r]
        rows.append((0, 0, k, json.dumps(rings), f"s{k}", None,
                     math.floor(min(rx)), math.ceil(max(rx)),
                     math.floor(min(ry)), math.ceil(max(ry))))
    tile_polys = local_relation_df(
        spark, rows,
        "x long, y long, feature_idx int, rings_json string, "
        "id_str string, id_num long, "
        "minx long, maxx long, miny long, maxy long")

    got = {(r.image_id, r.feature_idx) for r in pip_join(
        img, tile_polys, 0).collect()}
    want = {(f"p{i}", k)
            for k, rings in enumerate(polys)
            for i in np.flatnonzero(ray_cast_inside(tx, ty, rings))}
    assert got == want


def _plan_nodes(df):
    """The executed physical nodes of a run DataFrame, through AQE's final
    plan and its query stages; a cached input's plan is not its scan's
    child, so it stays out."""
    todo, out = [df._jdf.queryExecution().executedPlan()], []
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        out.append(p)
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_graft_python_stages(spark, images, poly_index):
    """pip_join runs no Python: its executed plan holds no Python node.
    The mosaic's render stage has one partition per core: its exchange
    asks for defaultParallelism partitions, which AQE does not coalesce."""
    from geojson_vt_rs_spark.plans.spatial import (
        mosaic_tiles,
        pip_join,
        tile_polygons_df,
    )

    pip = pip_join(images, tile_polygons_df(spark, poly_index, ZOOM), ZOOM)
    assert pip.count() > 0
    names = {p.getClass().getSimpleName() for p in _plan_nodes(pip)}
    assert "BroadcastHashJoinExec" in names, names
    assert not {n for n in names if "Python" in n or "Pandas" in n
                or "Arrow" in n}, names

    n = spark.sparkContext.defaultParallelism
    mos = mosaic_tiles(images, ZOOM)
    assert mos.count() > 0
    nodes = _plan_nodes(mos)
    assert "MapInPandasExec" in {p.getClass().getSimpleName() for p in nodes}
    by_num = [p.numPartitions() for p in nodes
              if p.getClass().getSimpleName() == "ShuffleExchangeExec"
              and p.shuffleOrigin().toString() == "REPARTITION_BY_NUM"]
    assert by_num == [n]
    assert mos.rdd.getNumPartitions() == n


def test_knn_join(spark, images, poly_index):
    from geojson_vt_rs_spark.plans.spatial import knn_neighbor_tiles

    centers = spark.createDataFrame(
        [
            (t.x, t.y)
            for t in poly_index.get_internal_tiles().values()
            if t.z == ZOOM and t.features
        ],
        "x long, y long",
    )
    out = knn_neighbor_tiles(images, centers, ZOOM, k=3)
    pdf = out.toPandas()
    assert len(pdf) > 0
    g = pdf.groupby("image_id")["rank"].agg(["min", "max", "count"])
    assert (g["min"] == 1).all()
    assert (g["count"] <= 3).all()
    # ranks are distance-sorted per image
    for _, grp in pdf.groupby("image_id"):
        d = grp.sort_values("rank")["d2"].to_numpy()
        assert (np.diff(d) >= 0).all()


def test_mosaic_psnr_and_lineage(spark, images):
    from geojson_vt_rs_spark.plans.spatial import (
        SLOT_PX,
        TILE_PX,
        mosaic_tiles,
        nn_resample,
    )

    tiles = mosaic_tiles(images, ZOOM).toPandas()
    assert len(tiles) > 0
    assert tiles["n_images"].sum() > 0
    per = TILE_PX // SLOT_PX

    src = {r["image_id"]: r for r in images.collect()}
    checked = 0
    for t in tiles.head(5).itertuples(index=False):
        canvas = decode_png(bytes(t.tile_png))
        manifest = json.loads(t.manifest_json)
        assert t.n_images == len(manifest)
        for s, iid in list(manifest.items())[:8]:
            s = int(s)
            r = src[iid]
            rgb = decode_image(bytes(r["bytes"]), r["w"], r["h"], r["fmt"])
            want = nn_resample(rgb)
            ry, rx = (s // per) * SLOT_PX, (s % per) * SLOT_PX
            slot = canvas[ry : ry + SLOT_PX, rx : rx + SLOT_PX]
            assert psnr(slot, want) >= 40.0
            assert np.array_equal(slot, want)  # PNG is lossless: exact
            checked += 1
    assert checked > 0


def test_mosaic_decode_early_identical(spark):
    """decode_early moves decode+resample before the shuffle (the
    large-image scale path) — output tiles must be byte-identical to the
    default decode-in-render path."""
    from geojson_vt_rs_spark.plans.spatial import (
        mosaic_tiles,
        with_cells,
        with_footprints,
    )
    from geojson_vt_rs_spark.sources.images import generate_images

    imgs = with_cells(with_footprints(generate_images(spark, 600, 4)), 5)
    imgs = imgs.persist()
    a = {
        (r["x"], r["y"]): (bytes(r["tile_png"]), r["manifest_json"])
        for r in mosaic_tiles(imgs, 5, decode_early=False).collect()
    }
    b = {
        (r["x"], r["y"]): (bytes(r["tile_png"]), r["manifest_json"])
        for r in mosaic_tiles(imgs, 5, decode_early=True).collect()
    }
    imgs.unpersist()
    assert a == b


def test_mosaic_unbroadcast_survivors_identical(spark):
    """Above MOSAIC_BROADCAST_MAX_ZOOM the survivor-id join drops its
    broadcast hint (worst-case 4^zoom * SLOTS rows would blow the
    broadcast ceiling at z8+) and lets AQE pick the strategy — output
    must be byte-identical on both sides of the gate, and the hint-free
    plan must not carry the explicit broadcast hint."""
    from geojson_vt_rs_spark.plans.spatial import (
        MOSAIC_BROADCAST_MAX_ZOOM,
        mosaic_tiles,
        with_cells,
        with_footprints,
    )
    from geojson_vt_rs_spark.sources.images import generate_images

    imgs = with_cells(with_footprints(generate_images(spark, 400, 4)), 5)
    imgs = imgs.persist()

    def tiles(**kw):
        return {
            (r["x"], r["y"]): (bytes(r["tile_png"]), r["manifest_json"])
            for r in mosaic_tiles(imgs, 5, **kw).collect()
        }

    a = tiles(broadcast_survivors=True)
    b = tiles(broadcast_survivors=False)
    assert a == b and len(a) > 0
    # the default gate: low zoom hints broadcast, high zoom does not
    lo = mosaic_tiles(imgs, 5)
    hi = mosaic_tiles(imgs, MOSAIC_BROADCAST_MAX_ZOOM + 1)
    lo_plan = lo._jdf.queryExecution().optimizedPlan().toString()
    hi_plan = hi._jdf.queryExecution().optimizedPlan().toString()
    assert "rightHint=(strategy=broadcast)" in lo_plan
    assert "strategy=broadcast" not in hi_plan
    imgs.unpersist()


def test_mosaic_batch_border_vs_oracle(spark, images):
    """Arrow batches of 7 rows cut most tiles across batches; every tile
    must still equal a driver-side render of its first SLOTS images.
    One cell is packed past SLOTS so its tile also carries the cap."""
    from pyspark.sql import functions as F

    from geojson_vt_rs_spark.plans.spatial import (
        SLOT_PX,
        SLOTS,
        TILE_PX,
        mosaic_tiles,
        nn_resample,
    )

    hot = F.pmod(F.xxhash64("image_id"), F.lit(5)) == 0  # ~N/5 > SLOTS rows
    imgs = images.withColumn("cx", F.when(hot, F.lit(0)).otherwise(F.col("cx")))
    imgs = imgs.withColumn("cy", F.when(hot, F.lit(0)).otherwise(F.col("cy")))
    src = imgs.select("cx", "cy", "image_id", "bytes", "w", "h", "fmt").toPandas()

    per = TILE_PX // SLOT_PX
    want = {}
    for (cx, cy), g in src.groupby(["cx", "cy"]):
        g = g.sort_values("image_id").head(SLOTS)
        canvas = np.zeros((TILE_PX, TILE_PX, 3), dtype=np.uint8)
        for s, r in enumerate(g.itertuples(index=False)):
            ry, rx = (s // per) * SLOT_PX, (s % per) * SLOT_PX
            canvas[ry : ry + SLOT_PX, rx : rx + SLOT_PX] = nn_resample(
                decode_image(bytes(r.bytes), r.w, r.h, r.fmt)
            )
        ids = g["image_id"].tolist()
        want[(cx, cy)] = (
            ZOOM, cx, cy, encode_png(canvas), len(ids),
            sum(len(b) for b in g["bytes"]), ids[0], ids[-1],
            json.dumps({str(s): i for s, i in enumerate(ids)}, sort_keys=True),
        )
    assert max(len(g) for _, g in src.groupby(["cx", "cy"])) > SLOTS

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = {(r["x"], r["y"]): tuple(r) for r in mosaic_tiles(imgs, ZOOM).collect()}
        empty = mosaic_tiles(imgs.limit(0), ZOOM).count()
    finally:
        spark.conf.set(key, old)
    assert got.keys() == want.keys()
    for k, row in got.items():
        assert row[:3] == want[k][:3] and bytes(row[3]) == want[k][3], k
        assert row[4:] == want[k][4:], k
    assert empty == 0
