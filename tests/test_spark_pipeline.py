"""End-to-end Spark pipeline tests: the distributed pyramid must produce
byte-identical tiles to the reference fixtures (same goldens as the local
suite, executed through DataFrame stages + Arrow kernels)."""

import json
import os

import pytest

from geojson_vt_rs_spark.config import Options, TileOptions
from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
from geojson_vt_rs_spark.plans.one_shot import geojson_to_tile_df
from geojson_vt_rs_spark.plans.pyramid import EMPTY_TILE, SparkGeoJSONVT

from conftest import fixture_path, parse_jsontile, parse_jsontiles
from conftest import emitted_to_canonical  # noqa: F401  (used by helper below)


def spark_tile_canonical(tile) -> list:
    from geojson_vt_rs_spark.core.geom import GEOM_MULTIPOLYGON

    out = []
    for f in tile.features:
        geom = f["geometry"]
        if f["kind"] == GEOM_MULTIPOLYGON:
            geom = [ring for poly in geom for ring in poly]
        if f["type"] == 1:
            geom = [[float(p[0]), float(p[1])] for p in geom]
        else:
            geom = [[[float(p[0]), float(p[1])] for p in part] for part in geom]
        out.append((f["type"], geom, f["tags"], f["id_str"], f["id_num"]))
    return out


def _expected_tile(name):
    with open(fixture_path(name)) as fh:
        return parse_jsontile(json.load(fh))


def test_one_shot_flagship(spark):
    feats = read_geojson_features(spark, fixture_path("us-states.json"))
    rows = geojson_to_tile_df(spark, feats, 12, 1171, 1566).toPandas()
    fr = rows[rows.feature_idx >= 0].sort_values("feature_idx")
    assert len(fr) == 2
    tags = json.loads(fr.iloc[0]["tags_json"])
    assert tags["name"] == "District of Columbia"


def test_spark_index_us_states(spark):
    feats = read_geojson_features(spark, fixture_path("us-states.json"))
    index = SparkGeoJSONVT(spark, feats, Options(), prefer_local=False)

    t = index.get_tile(7, 37, 48)
    assert spark_tile_canonical(t) == _expected_tile("us-states-z7-37-48.json")

    sq = index.get_tile(9, 148, 192)
    assert spark_tile_canonical(sq) == _expected_tile("us-states-square.json")

    assert index.get_tile(11, 800, 400) is EMPTY_TILE
    assert index.get_tile(11, 800, 400) is EMPTY_TILE
    assert index.total == 37


@pytest.mark.parametrize(
    "inp,exp,imz,imp,lm",
    [
        ("us-states.json", "us-states-tiles.json", 7, 200, False),
        ("dateline.json", "dateline-metrics-tiles.json", 0, 10000, True),
        ("collection.json", "collection-tiles.json", 0, 10000, False),
    ],
)
def test_spark_tile_corpus(spark, inp, exp, imz, imp, lm):
    feats = read_geojson_features(spark, fixture_path(inp))
    index = SparkGeoJSONVT(
        spark,
        feats,
        Options(
            max_zoom=14,
            index_max_zoom=imz,
            index_max_points=imp,
            tile=TileOptions(line_metrics=lm),
        ),
        prefer_local=False,
    )
    expected = parse_jsontiles(fixture_path(exp))
    actual = {}
    for tid, t in list(index.get_internal_tiles().items()):
        key = f"z{t.z}-{t.x}-{t.y}"
        actual[key] = spark_tile_canonical(index.get_tile(t.z, t.x, t.y))
    assert set(actual.keys()) == set(expected.keys())
    for key in expected:
        assert actual[key] == expected[key], f"tile {key} of {inp}"


def test_feature_schema_parquet_roundtrip(spark, tmp_path):
    """The flat feature encoding persists losslessly through parquet —
    the property that makes leaf-feature checkpoints exact.  Input: the
    generated corpus (polygons, polylines, antimeridian straddlers)
    through the pyramid's convert+wrap kernel."""
    import numpy as np

    from geojson_vt_rs_spark.operators.pipeline import _convert_wrap_kernel
    from geojson_vt_rs_spark.operators.schema import (
        FEATURE_SCHEMA,
        pdf_to_features,
    )
    from geojson_vt_rs_spark.sources.synth_features import generate_features

    feats = generate_features(spark, 300, partitions=4)
    conv = feats.mapInPandas(
        _convert_wrap_kernel(1e-7, False, 64 / 4096, False),
        schema=FEATURE_SCHEMA,
    )
    path = str(tmp_path / "feats")
    conv.write.parquet(path)
    back = spark.read.parquet(path)

    order = ["feature_seq", "world_copy", "slice_path"]
    a = conv.toPandas().sort_values(order, ignore_index=True)
    b = back.toPandas().sort_values(order, ignore_index=True)
    assert len(a) == len(b) > 300
    assert set(a.world_copy) == {0, 1, 2}
    for fa, fb in zip(pdf_to_features(a), pdf_to_features(b)):
        assert np.array_equal(fa.xs, fb.xs)
        assert np.array_equal(fa.ys, fb.ys)
        assert np.array_equal(fa.zs, fb.zs)  # DP importance bit-exact
        assert np.array_equal(fa.part_offsets, fb.part_offsets)
        assert fa.bbox == fb.bbox
        assert fa.props_json == fb.props_json


def test_nofuse_split_path_tilewise_exact(spark):
    """fuse_max_points=1 forces EVERY level through render_split_stage
    (including its columnar bbox pass-through fast path) — all 105 tiles
    of the us-states imz=7/imp=200 corpus must match the local tiler exactly."""
    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler
    from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT
    from geojson_vt_rs_spark.sources.geojson import load_geojson_file

    path = "/root/reference/fixtures/us-states.json"
    feats = read_geojson_features(spark, path)
    idx = SparkGeoJSONVT(
        spark,
        feats,
        Options(max_zoom=14, index_max_zoom=7, index_max_points=200,
                fuse_max_points=1),
        prefer_local=False,
    )
    loc = CoreTiler(
        load_geojson_file(path),
        Options(max_zoom=14, index_max_zoom=7, index_max_points=200),
    )
    assert idx.total == loc.total == 105
    for tid, lt in loc.tiles.items():
        st = idx.tiles[tid]
        ltf = lt.emitter.features
        assert len(st.features) == len(ltf)
        for a, b in zip(st.features, ltf):
            assert a["geometry"] == b["geometry"]
            assert a["tags"] == b["tags"]
            assert a["kind"] == b["kind"]


def test_float_feature_ids(spark):
    """Non-integer numeric ids are legal GeoJSON (types.rs:133 via the
    geojson crate's string-or-number Id) — preserved end-to-end through
    both the local and the distributed tiler."""
    import json as _json

    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler
    from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT
    from geojson_vt_rs_spark.sources.geojson import load_geojson

    gj = _json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature", "id": 1.5,
                 "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
                 "properties": {"n": "float"}},
                {"type": "Feature", "id": 7,
                 "geometry": {"type": "Point", "coordinates": [3.0, 4.0]},
                 "properties": {"n": "int"}},
                {"type": "Feature", "id": "s42",
                 "geometry": {"type": "Point", "coordinates": [5.0, 6.0]},
                 "properties": {"n": "str"}},
            ],
        }
    )

    def ids_of(features):
        out = {}
        for tf in features:
            key = _json.loads(tf["tags"] or "{}") if isinstance(
                tf["tags"], str) else tf["tags"]
            out[key["n"]] = (tf["id_str"], tf["id_num"], tf["id_float"])
        return out

    loc = CoreTiler(load_geojson(gj), Options())
    lt = loc.get_tile(0, 0, 0)  # returns the TileEmitter directly
    got_local = ids_of(lt.features)
    assert got_local == {
        "float": (None, None, 1.5),
        "int": (None, 7, None),
        "str": ("s42", None, None),
    }

    feats = read_geojson_features(spark, gj)
    idx = SparkGeoJSONVT(spark, feats, Options(), prefer_local=False)
    st = idx.get_tile(0, 0, 0)
    assert ids_of(st.features) == got_local


def test_convert_wrap_point_fast_path_equivalence(spark):
    """The convert+wrap kernel (run through mapInPandas) with its
    vectorized single-point path must be byte-identical to the core
    convert + wrap on the driver (the path the goldens pin) on a corpus
    spanning the fast path (interior points), its exclusions
    (antimeridian-buffer points, poles, multipoints, lines, polygons),
    and both generate_id settings."""
    import numpy as np

    from geojson_vt_rs_spark.core.geom import (
        GEOM_LINESTRING,
        GEOM_MULTIPOINT,
        GEOM_POINT,
        GEOM_POLYGON,
        make_feature,
    )
    from geojson_vt_rs_spark.core.project import convert
    from geojson_vt_rs_spark.core.wrap import wrap
    from geojson_vt_rs_spark.operators.pipeline import _convert_wrap_kernel
    from geojson_vt_rs_spark.operators.schema import (
        FEATURE_SCHEMA,
        create_feature_df,
        feature_to_row,
        features_to_pdf,
    )

    z1 = np.zeros(1)

    def pt(i, lon, lat):
        f = make_feature(
            GEOM_POINT,
            [(np.array([lon]), np.array([lat]), z1)],
            props_json=f'{{"i":{i}}}',
            feature_seq=i,
        )
        f.num_points = 1
        return f

    feats = [
        pt(0, -77.0, 38.9),          # interior
        pt(1, 179.999, 10.0),        # inside the right wrap buffer
        pt(2, -179.999, -10.0),      # inside the left wrap buffer
        pt(3, 0.0, 89.9),            # near-pole (Y clamp region)
        pt(4, 12.0, -89.9),
        pt(5, -180.0, 0.0),          # exactly on the antimeridian
        pt(6, 180.0, 0.0),
    ]
    mp = make_feature(
        GEOM_MULTIPOINT,
        [(np.array([1.0, 179.9]), np.array([2.0, 3.0]), np.zeros(2))],
        props_json='{"i":7}',
        feature_seq=7,
    )
    mp.num_points = 2
    ln = make_feature(
        GEOM_LINESTRING,
        [(np.array([-10.0, 10.0]), np.array([0.0, 5.0]), np.zeros(2))],
        feature_seq=8,
    )
    ln.num_points = 2
    ring_x = np.array([0.0, 1.0, 1.0, 0.0, 0.0])
    ring_y = np.array([0.0, 0.0, 1.0, 1.0, 0.0])
    pg = make_feature(
        GEOM_POLYGON,
        [(ring_x, ring_y, np.zeros(5))],
        ring_group_sizes=[1],
        feature_seq=9,
    )
    pg.num_points = 5
    feats += [mp, ln, pg]

    df = create_feature_df(spark, features_to_pdf(feats), FEATURE_SCHEMA)
    tol = (0.390625 / 4096) / (1 << 14)
    buf = 64 / 4096

    def canon(rows):
        out = []
        for r in sorted(
            rows, key=lambda r: (r["feature_seq"], r["world_copy"])
        ):
            out.append(
                tuple(
                    tuple(v) if isinstance(v, (list, np.ndarray)) else v
                    for v in [
                        r["feature_seq"], r["world_copy"], r["slice_path"],
                        r["id_str"], r["id_num"], r["id_float"],
                        r["props_json"], r["geom_type"], r["xs"], r["ys"],
                        r["zs"], r["part_offsets"], r["ring_offsets"],
                        r["part_dist"], r["part_area"], r["bbox_min_x"],
                        r["bbox_min_y"], r["bbox_max_x"], r["bbox_max_y"],
                        r["num_points"],
                    ]
                )
            )
        return out

    for gen_id in (False, True):
        fused = canon(df.mapInPandas(
            _convert_wrap_kernel(tol, gen_id, buf, False),
            schema=FEATURE_SCHEMA,
        ).collect())
        core = canon([
            feature_to_row(f)
            for f in wrap(convert(feats, tol, gen_id), buf, False)
        ])
        assert fused == core and len(fused) > len(feats)


def test_first_turn_modes_leaf_recovery_and_empty(spark, tmp_path):
    """The raw-gated first level: (a) optimistic split over a root that
    is REALLY a leaf recovers exactly by rerunning the first wave as a
    leaf (the root's rows and leaf features, no children), in the index
    and in the parquet store; (b) an empty input still
    registers the root through both the fuse-all and optimistic routes
    (lib.rs:265-295), in the index and in the parquet store."""
    from geojson_vt_rs_spark.plans.checkpoint import CheckpointedPyramid
    import numpy as np

    from geojson_vt_rs_spark.core.geom import GEOM_POINT, make_feature
    from geojson_vt_rs_spark.operators.schema import (
        FEATURE_SCHEMA,
        create_feature_df,
        features_to_pdf,
    )

    def pts_df(n):
        z1 = np.zeros(1)
        feats = []
        for i in range(n):
            f = make_feature(
                GEOM_POINT,
                [(np.array([-77.0 + i * 0.01]), np.array([38.9]), z1)],
                props_json=f'{{"i":{i}}}',
                feature_seq=i,
            )
            f.num_points = 1
            feats.append(f)
        return create_feature_df(spark, features_to_pdf(feats), FEATURE_SCHEMA)

    # (a) fuse_max_points=1 -> fuse_bound == 1 < raw 5 -> optimistic
    # split at z0; tnp 5 <= index_max_points -> truly a leaf -> recovery
    o = Options(index_max_zoom=7, index_max_points=200,
                tile=TileOptions(), fuse_max_points=1)
    idx = SparkGeoJSONVT(spark, pts_df(5), o, prefer_local=False)
    assert idx.total == 1 and 0 in idx.stats
    t = idx.get_tile(0, 0, 0)
    assert len(t.features) == 5 and t.num_points == 5
    # the leaf retained its source features: a drill below works
    t1 = idx.get_tile(2, 0, 1)
    assert t1 is not None  # drill executes off the retained leaf

    # local-path cross-check: identical z0 tile feature count
    idx_loc = SparkGeoJSONVT(spark, pts_df(5), o, prefer_local=True)
    assert len(idx_loc.get_tile(0, 0, 0).features) == 5

    # the store's rerun of the first wave as a leaf: one tile, its 5
    # leaves, no child rows of the mispredicted split, the index's root
    cp = CheckpointedPyramid(spark, o)
    out = str(tmp_path / "mispredicted")
    assert cp.run(pts_df(5), out)["total_tiles"] == 1
    assert cp._tile_keys(out) == cp._leaf_keys[out] == {(0, 0, 0)}
    assert spark.read.parquet(f"{out}/leaves").count() == 5
    level_1 = os.path.join(out, "frontier", "level_1")
    assert not os.path.isdir(level_1) or not any(
        f.endswith(".parquet") for _, _, fs in os.walk(level_1) for f in fs)
    rows = cp.read_tile(out, 0, 0, 0).toPandas()
    assert [
        (int(r.type), r.geometry_json, json.loads(r.tags_json))
        for r in rows.itertuples(index=False)
    ] == [(f["type"], json.dumps(f["geometry"], separators=(",", ":")),
           f["tags"]) for f in t.features]

    # (b) empty input, fuse-all route (raw 0 <= default fuse_bound)
    empty = pts_df(0)
    o1 = Options(index_max_zoom=7, index_max_points=200, tile=TileOptions())
    e1 = SparkGeoJSONVT(spark, empty, o1, prefer_local=False)
    assert e1.total == 1 and len(e1.get_tile(0, 0, 0).features) == 0

    # (b') empty input with a tiny fuse bound still routes through fuse
    # (raw 0 <= bound) and must register the root all the same
    o2 = Options(index_max_zoom=7, index_max_points=200,
                 tile=TileOptions(), fuse_max_points=1)
    e2 = SparkGeoJSONVT(spark, empty, o2, prefer_local=False)
    assert e2.total == 1 and len(e2.get_tile(0, 0, 0).features) == 0

    # the store holds the same single empty root on both routes
    for i, opts in enumerate((o1, o2)):
        cp = CheckpointedPyramid(spark, opts)
        out = str(tmp_path / f"empty{i}")
        assert cp.run(empty, out)["total_tiles"] == 1
        assert cp._tile_keys(out) == {(0, 0, 0)}
        assert cp.read_tile(out, 0, 0, 0).count() == 0
