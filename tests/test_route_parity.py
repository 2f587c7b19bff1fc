"""Route parity on generated inputs: the local core tiler, the distributed
index (``SparkGeoJSONVT(prefer_local=False)``) and the checkpointed store
(``CheckpointedPyramid``'s tile rows) must agree tile by tile, and on the
retained leaf features, on every gate route of the level loop, and through
drill-down on both ``get_tile``s from the leaves each route retained.

Runs without the reference fixtures: the corpus is
``sources/synth_features.generate_features`` (polygons and polylines with
three dense metros and a few antimeridian straddlers)."""

import json
import os
import tempfile

import numpy as np
import pandas as pd
import pytest

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.core.geom import GEOM_POLYGON
from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler
from geojson_vt_rs_spark.operators.schema import pdf_to_features
from geojson_vt_rs_spark.plans.checkpoint import CheckpointedPyramid
from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT
from geojson_vt_rs_spark.sources.synth_features import generate_features

N_FEATURES = 300  # 2070 raw points, 53 tiles
BASE = dict(max_zoom=14, index_max_zoom=4, index_max_points=200)
# raw points <= fuse_bound (min(fuse_max_points, max(imp, 8192)) = 8192):
# the whole build is one fused task; fuse_max_points=1: optimistic z0
# then per-level render+split; fuse_max_points=1000: optimistic z0, then
# tiles with index_max_points < tnp <= 1000 fuse as bounded groups
ROUTES = {
    "fuse_all": {},
    "split": dict(fuse_max_points=1),
    "fuse_groups": dict(fuse_max_points=1000),
}


def tile_of(lon, lat, z):
    z2 = 1 << z
    s = np.sin(np.radians(lat))
    y = 0.5 - 0.25 * np.log((1 + s) / (1 - s)) / np.pi
    return z, int((lon + 180.0) / 360.0 * z2), int(y * z2)


# dense: the first metro; sparse: a lone world-spread polygon; the third
# lies south of every feature, so its nearest ancestor retains nothing
DRILLS = [tile_of(-74.0, 40.7, 9), None, tile_of(-140.0, -82.0, 11)]


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_features(spark, N_FEATURES, partitions=4).persist()
    pdf = df.toPandas().sort_values("feature_seq", ignore_index=True)
    yield df, pdf
    df.unpersist()


def core_index(pdf, opts):
    return CoreTiler(list(pdf_to_features(pdf)), opts)


def canon(feats):
    """Tile-feature dicts (core emitter or SparkTile) -> comparable."""
    return [
        (f["type"], f["kind"],
         json.dumps(f["geometry"], separators=(",", ":")),
         f["tags"], f["id_str"], f["id_num"], f["id_float"])
        for f in feats
    ]


def canon_rows(pdf):
    """Store tile rows, in tile order -> comparable."""
    return [
        (int(r.type), int(r.kind), r.geometry_json,
         None if r.tags_json is None else json.loads(r.tags_json),
         r.tile_id_str if isinstance(r.tile_id_str, str) else None,
         int(r.tile_id_num) if pd.notna(r.tile_id_num) else None,
         float(r.tile_id_float) if pd.notna(r.tile_id_float) else None)
        for r in pdf.itertuples(index=False)
    ]


def read_tile(cp, out, key):
    return canon_rows(cp.read_tile(out, *key).toPandas().sort_values(
        "feature_idx"))


def core_tiles(core):
    return {
        (it.emitter.z, it.emitter.x, it.emitter.y): it.emitter
        for it in core.tiles.values()
    }


def leaf_rows(rows):
    """Retained source rows (TILED_COLS) -> (z, x, y) -> sorted source
    keys (world_copy, feature_seq, slice_path, num_points)."""
    out = {}
    for r in rows.itertuples(index=False):
        out.setdefault((int(r.z), int(r.x), int(r.y)), []).append(
            (int(r.world_copy), int(r.feature_seq), r.slice_path,
             int(r.num_points)))
    return {k: sorted(v) for k, v in out.items()}


def core_leaves(core):
    """The core tiler's retained source features, keyed like leaf_rows."""
    return {
        (it.emitter.z, it.emitter.x, it.emitter.y): sorted(
            (f.world_copy, f.feature_seq, f.slice_path, f.num_points)
            for f in it.source_features)
        for it in core.tiles.values() if it.source_features
    }


def store_tiles(spark, out):
    """The whole store in one scan: (z, x, y) -> ((num_points,
    num_simplified), canonical features in read_tile's order).  Asserts
    each tile has exactly one stats row."""
    pdf = spark.read.parquet(f"{out}/tiles").toPandas()
    st = pdf[pdf.feature_idx == -1]
    assert not st.duplicated(subset=["z", "x", "y"]).any()
    rows = pdf[pdf["type"].notna()].sort_values(
        ["world_copy", "feature_seq", "slice_path", "sub_idx"])
    feats = {
        (int(z), int(x), int(y)): canon_rows(grp)
        for (z, x, y), grp in rows.groupby(["z", "x", "y"], sort=False)
    }
    return {
        (int(r.z), int(r.x), int(r.y)): (
            (int(r.tile_num_points), int(r.tile_num_simplified)),
            feats.get((int(r.z), int(r.x), int(r.y)), []),
        )
        for r in st.itertuples(index=False)
    }


@pytest.mark.parametrize("route", list(ROUTES))
def test_routes_identical_tiles(spark, tmp_path, corpus, route):
    df, pdf = corpus
    opts = Options(**BASE, **ROUTES[route])
    core = core_index(pdf, opts)
    want = core_tiles(core)

    idx = SparkGeoJSONVT(spark, df, opts, prefer_local=False)
    out = str(tmp_path / route)
    cp = CheckpointedPyramid(spark, opts)
    s = cp.run(df, out)
    if route == "fuse_all":
        assert s["levels"] == 1
    else:
        assert s["levels"] > 1
    if route == "fuse_groups":
        # some split tile below the root falls in the fused-group band
        assert any(
            0 < k[0] < opts.index_max_zoom
            and opts.index_max_points < em.num_points <= opts.fuse_max_points
            for k, em in want.items()
        )

    got_idx = {(t.z, t.x, t.y): t for t in idx.tiles.values()}
    store = store_tiles(spark, out)
    assert set(got_idx) == set(want) == set(store) == cp._tile_keys(out)
    assert s["total_tiles"] == idx.total == core.total == len(want)
    assert idx.stats == core.stats
    for key, em in want.items():
        t = got_idx[key]
        counts = (em.num_points, em.num_simplified)
        assert (t.num_points, t.num_simplified) == counts, key
        assert canon(t.features) == canon(em.features), key
        assert store[key] == (counts, canon(em.features)), key
    # the point lookup ranks exactly like the bulk scan: the root, the
    # fullest tile and the emptiest
    by_size = sorted(want, key=lambda k: len(want[k].features))
    for key in {(0, 0, 0), by_size[0], by_size[-1]}:
        assert read_tile(cp, out, key) == store[key][1]

    # every route retains the core tiler's leaf features, and the
    # manifests count every stored leaf and feature row
    leaves = spark.read.parquet(f"{out}/leaves").toPandas()
    want_leaves = core_leaves(core)
    assert want_leaves
    assert leaf_rows(leaves) == want_leaves
    assert leaf_rows(pd.concat(idx.leaf_features.values())) == want_leaves
    assert sum(m["n_leaf_feature_rows"] for m in s["manifests"]) == len(leaves)
    n_rows = sum(len(feats) for _, feats in store.values())
    assert n_rows == sum(len(em.features) for em in want.values())
    assert s["total_tile_rows"] == n_rows


@pytest.mark.parametrize("route", list(ROUTES))
def test_drills_identical_tiles(spark, tmp_path, corpus, route):
    df, pdf = corpus
    opts = Options(**BASE, **ROUTES[route])
    core = core_index(pdf, opts)
    idx = SparkGeoJSONVT(spark, df, opts, prefer_local=False)
    out = str(tmp_path / route)
    cp = CheckpointedPyramid(spark, opts)
    cp.run(df, out)

    lone = pdf[(pdf.feature_seq % 10 >= 3) & (pdf.geom_type == GEOM_POLYGON)].iloc[0]
    targets = list(DRILLS)
    targets[1] = tile_of(float(lone["xs"][0]), float(lone["ys"][0]), 10)
    n_feats = []
    for z, x, y in targets:
        em = core.get_tile(z, x, y)
        want = canon(em.features)
        n_feats.append(len(want))
        t = idx.get_tile(z, x, y)
        assert canon(t.features) == want, (z, x, y)
        assert canon_rows(cp.get_tile(out, z, x, y).toPandas().sort_values(
            "feature_idx")) == want
    assert n_feats[0] > 10 and n_feats[1] >= 1 and n_feats[2] == 0

    # the drills created the same tiles everywhere, counted the same way
    assert idx.stats == core.stats
    assert idx.total == core.total
    keys = set(core_tiles(core))
    assert {(t.z, t.x, t.y) for t in idx.tiles.values()} == keys
    assert cp._tile_keys(out) == keys
    store = store_tiles(spark, out)
    for key, em in core_tiles(core).items():
        assert store[key] == (
            (em.num_points, em.num_simplified), canon(em.features)), key

    # the drills extended the memos exactly as a rescan of the store
    # loads them, and the leaf flag marks exactly the tiles in leaves/
    fresh = CheckpointedPyramid(spark, opts)
    assert fresh._tile_keys(out) == cp._tile_keys(out)
    assert fresh._leaf_keys[out] == cp._leaf_keys[out]
    leaves = spark.read.parquet(f"{out}/leaves").toPandas()
    assert cp._leaf_keys[out] == set(leaf_rows(leaves))
    # the drilled index retains the core tiler's leaf features; the
    # store too (it also keeps its drill roots' rows)
    want_leaves = core_leaves(core)
    assert leaf_rows(pd.concat(idx.leaf_features.values())) == want_leaves
    stored = leaf_rows(leaves)
    assert all(stored[k] == v for k, v in want_leaves.items())


def test_structural_leaf_root_renders_once(spark, tmp_path, corpus,
                                           monkeypatch):
    """index_max_zoom 0 with raw points above fuse_bound: the root is a
    leaf by structure, so the first wave renders it as a leaf.  That wave
    is the build's only pass (no second render of the root, no child
    clip, no frontier), and the store and the index hold the core
    tiler's root and leaf features.  The counters patch the names the
    store's level loop calls; the split route is their positive control:
    its levels below the root do call render_split_stage."""
    from geojson_vt_rs_spark.plans import checkpoint

    df, pdf = corpus
    opts = Options(max_zoom=14, index_max_zoom=0, index_max_points=200,
                   fuse_max_points=1)
    calls = []
    for name in ("render_split_stage", "fused_stage"):
        def counted(*a, _real=getattr(checkpoint, name), _name=name, **k):
            calls.append(_name)
            return _real(*a, **k)
        monkeypatch.setattr(checkpoint, name, counted)
    out = str(tmp_path / "imz0")
    cp = CheckpointedPyramid(spark, opts)
    s = cp.run(df, out)
    idx = SparkGeoJSONVT(spark, df, opts, prefer_local=False)
    assert calls == []
    assert s["levels"] == 1 and s["manifests"][0]["n_children"] == 0
    assert not os.path.exists(f"{out}/frontier/level_1")
    CheckpointedPyramid(spark, Options(**BASE, **ROUTES["split"])).run(
        df, str(tmp_path / "split"))
    assert "render_split_stage" in calls

    core = core_index(pdf, opts)
    em = core_tiles(core)[(0, 0, 0)]
    assert core.total == 1
    root = ((em.num_points, em.num_simplified), canon(em.features))
    assert store_tiles(spark, out) == {(0, 0, 0): root}
    assert cp._tile_keys(out) == cp._leaf_keys[out] == {(0, 0, 0)}
    t = idx.get_tile(0, 0, 0)
    assert ((t.num_points, t.num_simplified), canon(t.features)) == root
    assert idx.total == 1 and idx.stats == core.stats
    leaves = spark.read.parquet(f"{out}/leaves").toPandas()
    assert leaf_rows(leaves) == core_leaves(core)
    assert leaf_rows(pd.concat(idx.leaf_features.values())) == leaf_rows(
        leaves)
    assert s["manifests"][0]["n_leaf_feature_rows"] == len(leaves)


def fuse_levels(core, opts):
    """The levels of the store's loop that hold 'fuse' tiles, from the
    core tiler's tiles: a level-z tile is in the loop's frontier when
    every ancestor split (the first wave renders and splits any root it
    does not keep as a leaf)."""
    from geojson_vt_rs_spark.plans.pyramid import decide

    act = {k: decide(opts, *k, em.num_points)
           for k, em in core_tiles(core).items()}

    def in_frontier(z, x, y):
        while z > 0:
            z, x, y = z - 1, x // 2, y // 2
            if act[(z, x, y)] == "leaf" or (z and act[(z, x, y)] == "fuse"):
                return False
        return True

    return sorted({k[0] for k, a in act.items()
                   if k[0] and a == "fuse" and in_frontier(*k)})


def test_render_levels_read_frontier_task_side(spark, tmp_path, corpus,
                                               monkeypatch):
    """Render/split levels read their frontier files in the tasks; only a
    level that holds 'fuse' tiles scans its frontier through the JVM
    (checkpoint._read_frontier), for its fused pass."""
    from geojson_vt_rs_spark.plans import checkpoint

    df, pdf = corpus
    reads = []
    real = checkpoint._read_frontier

    def counted(spark, out_dir, level):
        reads.append(level)
        return real(spark, out_dir, level)

    monkeypatch.setattr(checkpoint, "_read_frontier", counted)
    for route in ("split", "fuse_groups"):
        opts = Options(**BASE, **ROUTES[route])
        reads.clear()
        s = CheckpointedPyramid(spark, opts).run(df, str(tmp_path / route))
        assert s["levels"] > 1
        want = fuse_levels(core_index(pdf, opts), opts)
        assert reads == want, route
        assert bool(want) == (route == "fuse_groups")


def store_rows(spark, out):
    """(tiles, leaves) of a store as sorted row multisets, the ``level``
    and ``z`` partition columns included."""
    def cell(v):
        if isinstance(v, np.ndarray):
            return tuple(v.tolist())
        return None if v is None or (isinstance(v, float) and np.isnan(v)) else v

    def rows(table):
        pdf = spark.read.parquet(f"{out}/{table}").toPandas()
        cols = sorted(pdf.columns)
        assert {"level", "z"} <= set(cols)
        return sorted(repr(tuple(cell(v) for v in r))
                      for r in pdf[cols].itertuples(index=False, name=None))

    return rows("tiles"), rows("leaves")


def store_manifests(out):
    found = {}
    for name in sorted(os.listdir(f"{out}/_manifests")):
        with open(f"{out}/_manifests/{name}") as fh:
            m = json.load(fh)
        for k in ("wall_sec", "steal_frac"):
            m.pop(k)
        found[name] = m
    return found


def test_resume_skips_hidden_frontier_files(spark, tmp_path, corpus):
    """A resumed build reads only the visible frontier files: with a
    stale temp file of a killed writer (a copy of a real part file under
    write_parquet's dot-prefixed temp name) in frontier/level_1 and the
    manifests from level 1 on removed (the split route's last one), it
    writes the uninterrupted build's tiles and leaves rows and
    manifests, and every read_tile returns the uninterrupted tile."""
    import glob
    import shutil

    df, _ = corpus
    opts = Options(**BASE, **ROUTES["split"])
    full, out = str(tmp_path / "full"), str(tmp_path / "resumed")
    n = CheckpointedPyramid(spark, opts).run(df, full)["levels"]
    CheckpointedPyramid(spark, opts).run(df, out)
    assert n > 1
    part = sorted(glob.glob(f"{out}/frontier/level_1/part-*"))[0]
    shutil.copy(part, f"{out}/frontier/level_1/"
                      ".part-00000-render.parquet.123.tmp")
    for level in range(1, n):
        os.remove(f"{out}/_manifests/level_{level}.json")
    res = CheckpointedPyramid(spark, opts)
    assert res.run(df, out)["levels"] == n
    assert store_rows(spark, out) == store_rows(spark, full)
    assert store_manifests(out) == store_manifests(full)
    want = store_tiles(spark, full)
    assert res._tile_keys(out) == set(want)
    for key, (_, feats) in want.items():
        assert read_tile(res, out, key) == feats, key


def test_index_leaves_no_scratch_dir(spark, tmp_path, corpus, monkeypatch):
    """The distributed index builds and drills through store directories
    made with tempfile, and removes each before the call returns."""
    df, _ = corpus
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    made = []
    real = tempfile.mkdtemp

    def mkdtemp(*a, **k):
        made.append(real(*a, **k))
        return made[-1]

    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    idx = SparkGeoJSONVT(spark, df, Options(**BASE), prefer_local=False)
    assert made and not os.listdir(scratch)
    n_made, n_tiles = len(made), idx.total
    assert idx.get_tile(*DRILLS[0]).features
    assert idx.total > n_tiles
    assert len(made) > n_made and not os.listdir(scratch)
    assert all(os.path.dirname(d) == str(scratch) for d in made)


def test_local_index_keeps_tile_objects(spark, corpus):
    """prefer_local=True: a lookup wraps only the core tiles it has not
    wrapped yet, so a memoized tile is the same object on every lookup,
    and after drills the index's tiles, stats and total are the core
    tiler's."""
    df, pdf = corpus
    opts = Options(**BASE)
    idx = SparkGeoJSONVT(spark, df, opts, prefer_local=True)
    core = core_index(pdf, opts)
    root = idx.get_tile(0, 0, 0)
    assert idx.get_tile(0, 0, 0) is root
    n_tiles = idx.total
    for key in (DRILLS[0], DRILLS[2]):
        assert canon(idx.get_tile(*key).features) == canon(
            core.get_tile(*key).features)
    assert idx.total > n_tiles and idx.get_tile(0, 0, 0) is root
    assert idx.stats == core.stats and idx.total == core.total
    want = core_tiles(core)
    got = {(t.z, t.x, t.y): t for t in idx.tiles.values()}
    assert set(got) == set(want)
    for key, em in want.items():
        t = got[key]
        assert (t.num_points, t.num_simplified) == (
            em.num_points, em.num_simplified), key
        assert canon(t.features) == canon(em.features), key


# one-shot geojson_to_tile cases: (z, x, y), wrap_, clip_, line_metrics
ONE_SHOT = {
    "metro_z9": (tile_of(-74.0, 40.7, 9), False, True, False),
    "root": ((0, 0, 0), False, True, False),
    # feature 288 sits 1.8 degrees west of the antimeridian: only its
    # wrapped copy reaches this tile's buffer
    "antimeridian": ((1, 0, 0), True, True, False),
    "no_clip": (tile_of(139.7, 35.7, 10), False, False, False),
    "line_metrics": (tile_of(2.35, 48.85, 9), False, True, True),
    # south of every feature: no feature row, still one stats row
    "empty": (DRILLS[2], False, True, False),
}


@pytest.mark.parametrize("case", list(ONE_SHOT))
def test_one_shot_matches_core(spark, corpus, case):
    """The distributed one-shot geojson_to_tile_df renders the core
    geojson_to_tile's tile: the same feature rows in feature_idx order
    and exactly one stats row with the same counts, also for a tile no
    feature reaches."""
    from geojson_vt_rs_spark.config import TileOptions
    from geojson_vt_rs_spark.core.tiler import geojson_to_tile
    from geojson_vt_rs_spark.plans.one_shot import geojson_to_tile_df

    df, pdf = corpus
    (z, x, y), wrap_, clip_, lm = ONE_SHOT[case]
    topts = TileOptions(line_metrics=lm)
    em = geojson_to_tile(list(pdf_to_features(pdf)), z, x, y, topts,
                         wrap_=wrap_, clip_=clip_)
    rows = geojson_to_tile_df(spark, df, z, x, y, topts, wrap_=wrap_,
                              clip_=clip_).toPandas()
    st = rows[rows.feature_idx == -1]
    assert len(st) == 1
    assert (int(st.num_points.iloc[0]), int(st.num_simplified.iloc[0])) == (
        em.num_points, em.num_simplified)
    got = rows[rows.feature_idx >= 0].sort_values("feature_idx")
    assert got.feature_idx.tolist() == list(range(len(got)))
    assert len(got) == len(em.features)
    assert (len(got) == 0) == (case == "empty")
    assert [
        (int(r.type), int(r.kind), r.geometry_json,
         None if r.tags_json is None else json.loads(r.tags_json),
         r.id_str if isinstance(r.id_str, str) else None,
         int(r.id_num) if pd.notna(r.id_num) else None,
         float(r.id_float) if pd.notna(r.id_float) else None)
        for r in got.itertuples(index=False)
    ] == canon(em.features)
    if case == "antimeridian":
        assert len(em.features) > len(geojson_to_tile(
            list(pdf_to_features(pdf)), z, x, y, topts, clip_=clip_).features)


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "integer ids above 2**53 round through float64: features_to_pdf "
    "builds id_num from ints mixed with None at ingest, and the kernels' "
    "frames do the same when a batch also holds a null id"))
def test_big_int_ids_exact(spark):
    """Integer feature ids above 2**53 reach the distributed index's root
    exactly as the core tiler emits them, compared as ints."""
    from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
    from geojson_vt_rs_spark.sources.geojson import load_geojson

    ids = [2**53 + 1, None, 2**60 + 3]
    gj = json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": i, "properties": {"n": n},
         "geometry": {"type": "Polygon", "coordinates": [[
             [lon, 10], [lon + 5, 10], [lon + 5, 15], [lon, 15], [lon, 10]]]}}
        for n, (i, lon) in enumerate(zip(ids, (-60, 0, 60)))
    ]})
    opts = Options(fuse_max_points=1)
    want = [f["id_num"] for f in
            CoreTiler(load_geojson(gj), opts).get_tile(0, 0, 0).features]
    assert want == ids
    idx = SparkGeoJSONVT(spark, read_geojson_features(spark, gj), opts,
                         prefer_local=False)
    got = [f["id_num"] for f in idx.get_tile(0, 0, 0).features]
    assert all(v is None or type(v) is int for v in got)
    assert got == want


def test_big_int_ids_survive_ingest(spark):
    """Integer ids above 2**53 mixed with a null id leave features_to_pdf
    as a nullable Int64 column and reach Spark exactly, through the
    Arrow path of create_feature_df and through its sanitized path (the
    one a session without Arrow takes)."""
    from geojson_vt_rs_spark.operators.schema import (
        FEATURE_SCHEMA,
        create_feature_df,
        features_to_pdf,
    )
    from geojson_vt_rs_spark.sources.geojson import load_geojson

    ids = [2**53 + 1, None, 2**60 + 3]
    gj = json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": i, "properties": {"n": n},
         "geometry": {"type": "Point", "coordinates": [n, n]}}
        for n, i in enumerate(ids)
    ]})
    pdf = features_to_pdf(load_geojson(gj))
    assert str(pdf["id_num"].dtype) == "Int64"
    assert [None if v is pd.NA else int(v) for v in pdf["id_num"]] == ids
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            rows = create_feature_df(spark, pdf, FEATURE_SCHEMA).collect()
            assert [r.id_num for r in rows] == ids, arrow
    finally:
        spark.conf.set(key, prev)


def rank_window(spark, out, key):
    """read_tile's rows as a Spark scan of tiles/ ranked by a row_number
    window over the four order keys: the DataFrame contract read_tile
    keeps."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    z, x, y = key
    order = ["world_copy", "feature_seq", "slice_path", "sub_idx"]
    w = Window.partitionBy("z", "x", "y").orderBy(*order)
    return (
        spark.read.parquet(f"{out}/tiles")
        .filter((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y))
        .filter(F.col("type").isNotNull())
        .withColumn("feature_idx", F.row_number().over(w) - 1)
        .drop(*order)
        .orderBy("feature_idx")
    )


def assert_tile_contract(spark, cp, out, key):
    got, want = cp.read_tile(out, *key), rank_window(spark, out, key)
    assert got.schema == want.schema, key
    pd.testing.assert_frame_equal(got.toPandas(), want.toPandas())


def test_read_tile_dataframe_contract(spark, tmp_path, corpus):
    """read_tile returns the rank window's DataFrame: the same schema
    (nullability included) and the same pandas frame, for a level tile,
    a drilled tile and an empty tile of a generated store, and for a
    hand-written tile whose order keys tie on every prefix and hold
    nulls, its rows spread over two level dirs beside a stats row and a
    neighbour tile's row."""
    import itertools

    import pyarrow as pa

    from geojson_vt_rs_spark.operators.pipeline import (
        write_parquet,
        z_part_schema,
    )
    from geojson_vt_rs_spark.operators.schema import TILE_STORE_SCHEMA

    df, _ = corpus
    out = str(tmp_path / "store")
    cp = CheckpointedPyramid(spark, Options(**BASE, **ROUTES["split"]))
    cp.run(df, out)
    store = store_tiles(spark, out)
    fullest = max(store, key=lambda k: len(store[k][1]))
    empty = min(k for k, (_, feats) in store.items() if not feats)
    assert cp.get_tile(out, *DRILLS[0]).count() > 10
    # DRILLS[2]: no such tile, no row
    for key in (fullest, DRILLS[0], empty, DRILLS[2]):
        assert_tile_contract(spark, cp, out, key)

    # ties: every (world_copy, feature_seq, slice_path, sub_idx) of these
    # values once, in a shuffled order, split over two level dirs
    combos = list(itertools.product(
        (None, 0, 1), (None, 5, 7), (None, "", "000001"), (None, 0, 2)))
    np.random.default_rng(7).shuffle(combos)
    schema = z_part_schema(TILE_STORE_SCHEMA)

    def row(x, y, wc, fs, sp, si, fidx=None, typ=1):
        r = dict.fromkeys(schema.names)
        r.update(x=x, y=y, feature_idx=fidx, type=typ, kind=typ,
                 geometry_json=repr((wc, fs, sp, si)), action="feature",
                 world_copy=wc, feature_seq=fs, slice_path=sp, sub_idx=si)
        return r

    hand = str(tmp_path / "hand")
    half = len(combos) // 2
    for level, part in (("L0", combos[:half]), ("drill_5_1_2", combos[half:])):
        rows = [row(1, 2, *c) for c in part] + [row(1, 3, 0, 1, "", 0)]
        if level == "L0":
            rows.append(row(1, 2, None, None, None, None, fidx=-1, typ=None))
        write_parquet(f"{hand}/tiles/level={level}/z=5", "part-0.parquet",
                      pa.Table.from_pylist(rows, schema=schema))
    cp_hand = CheckpointedPyramid(spark, Options())
    assert cp_hand.read_tile(hand, 5, 1, 2).count() == len(combos)
    assert_tile_contract(spark, cp_hand, hand, (5, 1, 2))


def test_cold_drill_runs_one_spark_job(spark, tmp_path, corpus):
    """A cold get_tile runs exactly one Spark job (the drill pass) before
    its caller collects, and loading the key memo runs none: the driver
    reads the store's stats, leaf and tile files itself."""
    import uuid

    df, _ = corpus
    opts = Options(**BASE, **ROUTES["split"])
    out = str(tmp_path / "store")
    CheckpointedPyramid(spark, opts).run(df, out)
    sc = spark.sparkContext
    tag = uuid.uuid4().hex

    def job_ids(name, fn):
        group = f"{name}-{tag}"
        sc.setJobGroup(group, name)
        try:
            got = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return got, sc.statusTracker().getJobIdsForGroup(group)

    keys, ids = job_ids(
        "keys", lambda: CheckpointedPyramid(spark, opts)._tile_keys(out))
    assert keys and ids == []
    assert DRILLS[0] not in keys
    # a new object: the drill loads its key memo too
    tile, ids = job_ids(
        "drill", lambda: CheckpointedPyramid(spark, opts).get_tile(
            out, *DRILLS[0]))
    assert len(ids) == 1
    assert tile.count() > 10


def test_drill_skips_stray_leaf_files(spark, tmp_path, corpus):
    """A drill reads only the root's visible, committed leaf files: with
    a stale dot-prefixed temp file (a copy of a real part file under
    write_parquet's temp name) in the root's leaves/level=*/z=<rz> dir
    and an orphan leaves/level=drill_* dir (a drill that died before its
    tiles rename), the drilled store's tiles and leaves rows and the
    target's read_tile equal a clean store's after the same drill, and
    the orphan is gone."""
    import glob
    import shutil

    from geojson_vt_rs_spark.plans.pyramid import find_parent

    df, _ = corpus
    opts = Options(**BASE, **ROUTES["split"])
    clean, dirty = str(tmp_path / "clean"), str(tmp_path / "dirty")
    CheckpointedPyramid(spark, opts).run(df, clean)
    shutil.copytree(clean, dirty)
    cp = CheckpointedPyramid(spark, opts)
    keys = cp._tile_keys(dirty)
    rz, rx, ry = find_parent(*DRILLS[0], lambda *k: k in keys)
    assert (rz, rx, ry) in cp._leaf_keys[dirty]
    zdir = sorted(glob.glob(f"{dirty}/leaves/level=*/z={rz}"))[0]
    part = sorted(glob.glob(f"{zdir}/part-*"))[0]
    shutil.copy(part, f"{zdir}/.{os.path.basename(part)}.123.tmp")
    orphan = f"{dirty}/leaves/level=drill_{rz + 1}_{2 * rx}_{2 * ry}"
    shutil.copytree(zdir, f"{orphan}/z={rz}")

    want = CheckpointedPyramid(spark, opts).get_tile(clean, *DRILLS[0])
    got = cp.get_tile(dirty, *DRILLS[0])
    assert not os.path.exists(orphan)
    assert store_rows(spark, dirty) == store_rows(spark, clean)
    pd.testing.assert_frame_equal(got.toPandas(), want.toPandas())
