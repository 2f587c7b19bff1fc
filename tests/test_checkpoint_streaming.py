"""Checkpointed pyramid / mosaic resumability tests: the store's staged-
rename + JSON-manifest commit protocol, resume, crash windows and drills."""

import glob
import json
import os
import shutil

import pytest

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
from geojson_vt_rs_spark.plans.checkpoint import (
    CheckpointedPyramid,
    checkpointed_mosaic,
    _read_manifest,
)

# the store protocol tests run on the us-states fixture and on a
# generated polygon/line corpus that needs no reference fixtures
CORPORA = ["us_states", "generated"]


def load_corpus(spark, corpus):
    if corpus == "us_states":
        from conftest import fixture_path

        return read_geojson_features(spark, fixture_path("us-states.json"))
    if corpus == "empty_children":
        return empty_children_corpus(spark)
    from geojson_vt_rs_spark.sources.synth_features import generate_features

    return generate_features(spark, 300, partitions=4)


def empty_children_corpus(spark):
    """A corpus whose level 1 (at index_max_points=200, fuse_max_points=1)
    splits one tile but emits NO child rows, so the level's manifest has
    n_children == 0 and four pending (empty) children.

    A zigzag line lives only in the outer buffer ring of z1 tile (0, 0):
    inside that tile's clip band (world x <= 0.5 + 1/128) but outside
    every child band (x <= 0.5 + 1/256).  Clipped to the band, each
    inside vertex gains two intersection points, so the ring tile holds
    ~240 points and splits while the neighbour tile (1, 0), holding the
    unclipped 160-point line, stays a leaf.  A 60-point cluster in tile
    (1, 1) lifts the root above index_max_points."""
    import json
    import math

    def lonlat(x, y):
        lat = math.atan(math.sinh(math.pi * (1 - 2 * y)))
        return [(x - 0.5) * 360.0, math.degrees(lat)]

    zig = [
        lonlat(0.505 if i % 2 == 0 else 0.510, 0.1 + 0.3 * i / 159)
        for i in range(160)
    ]
    cluster = [
        lonlat(0.75 + 0.001 * (i % 8), 0.75 + 0.001 * (i // 8))
        for i in range(60)
    ]
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"name": "zigzag"},
             "geometry": {"type": "LineString", "coordinates": zig}},
            {"type": "Feature", "properties": {"name": "cluster"},
             "geometry": {"type": "MultiPoint", "coordinates": cluster}},
        ],
    }
    return read_geojson_features(spark, json.dumps(fc))


def core_total(spark, feats, opts):
    """Tile count of the local core tiler over the same input."""
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

    return SparkGeoJSONVT(spark, feats, opts, prefer_local=True).total


@pytest.mark.parametrize("corpus", CORPORA)
def test_checkpointed_pyramid_and_resume(spark, tmp_path, corpus):
    out = str(tmp_path / "pyr")
    feats = load_corpus(spark, corpus)
    opts = Options(max_zoom=14, index_max_zoom=3, index_max_points=200)
    cp = CheckpointedPyramid(spark, opts)
    s1 = cp.run(feats, out)
    # small inputs may fuse the whole subtree into level 0 — what matters
    # is the complete tile set landing in the store
    assert s1["levels"] >= 1
    if corpus == "us_states":
        assert s1["total_tiles"] == 17  # local-tiler ground truth at imz=3/imp=200
    else:
        assert s1["total_tiles"] == core_total(spark, feats, opts)
    for m in s1["manifests"]:
        assert m["n_tiles"] > 0
        assert "wall_sec" in m
    # every zoom 0..3 is populated
    import pyspark.sql.functions as F

    zs = {
        r["z"]
        for r in spark.read.parquet(os.path.join(out, "tiles"))
        .select("z")
        .distinct()
        .collect()
    }
    assert {0, 1, 2, 3} <= zs

    # simulate a crash after level 0: drop manifests for levels >= 1
    for p in sorted(glob.glob(os.path.join(out, "_manifests", "level_*.json")))[1:]:
        os.remove(p)
    # wipe tile parquet rows written after level 0 is NOT needed for the
    # resume logic test: resume re-appends; use a fresh dir to verify a
    # full re-run equals the summary instead
    s2 = cp.run(feats, out)
    assert s2["levels"] == s1["levels"]

    # the tiles table supports partition-pruned point lookups
    tile = cp.read_tile(out, 1, 0, 0).toPandas()
    assert len(tile) >= 0
    # warm repeat read hits the per-(z,x,y) memo (same persisted DF, no
    # new scan+rank plan), with identical rows
    again = cp.read_tile(out, 1, 0, 0)
    assert again is cp.read_tile(out, 1, 0, 0)
    assert again.toPandas().equals(tile)

    # fully-completed run resumes as a no-op
    s3 = cp.run(feats, out)
    assert s3["levels"] == s2["levels"]
    # publishing (even a no-op resume does not publish; force one by
    # invalidation check): a publish must evict the warm memo
    cp._invalidate_memos(out)
    fresh = cp.read_tile(out, 1, 0, 0)
    assert fresh is not again
    assert fresh.toPandas().equals(tile)


def test_checkpointed_mosaic_resume(spark, tmp_path):
    from geojson_vt_rs_spark.plans.spatial import with_cells, with_footprints
    from geojson_vt_rs_spark.sources.images import generate_images

    out = str(tmp_path / "mosaic")
    imgs = with_cells(with_footprints(generate_images(spark, 400, 4)), 5).persist()
    s1 = checkpointed_mosaic(imgs, 5, out, n_buckets=4)
    assert s1["buckets"] == 4
    assert s1["n_images"] > 0

    # resume skips completed buckets (manifests untouched)
    before = [_read_manifest(out, f"mosaic_bucket_{b}") for b in range(4)]
    s2 = checkpointed_mosaic(imgs, 5, out, n_buckets=4)
    after = [_read_manifest(out, f"mosaic_bucket_{b}") for b in range(4)]
    assert before == after
    assert s2["n_tiles"] == s1["n_tiles"]

    # partial resume: remove one bucket's manifest -> only it recomputes
    os.remove(os.path.join(out, "_manifests", "mosaic_bucket_2.json"))
    s3 = checkpointed_mosaic(imgs, 5, out, n_buckets=4)
    assert s3["n_tiles"] == s1["n_tiles"]
    imgs.unpersist()


def test_checkpointed_get_tile_drilldown(spark, tmp_path):
    """Parquet-store get_tile: memo hit, drill-down miss (creates and
    persists new tiles), and EMPTY result for feature-less regions —
    compared against the in-memory index on the generated corpus."""
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT
    from test_route_parity import tile_of

    out = str(tmp_path / "pyr2")
    feats = load_corpus(spark, "generated")
    opts = Options()  # index_max_zoom=5, default stops at z0 leaf
    cp = CheckpointedPyramid(spark, opts)
    cp.run(feats, out)

    mem = SparkGeoJSONVT(spark, feats, opts)  # adaptive local reference

    # drill-down miss (the first generated metro) -> must match the
    # in-memory engine's tile exactly
    got = cp.get_tile(out, 7, 37, 48).toPandas()
    want = mem.get_tile(7, 37, 48)
    assert len(want.features) > 0
    assert len(got) == len(want.features)
    for i, tf in enumerate(want.features):
        row = got[got.feature_idx == i].iloc[0]
        assert row["type"] == tf["type"]
        assert json.loads(row["geometry_json"]) == tf["geometry"]

    # now a memo hit (persisted by the drill) — identical rows
    assert (7, 37, 48) in cp._tile_keys(out)
    again = cp.get_tile(out, 7, 37, 48).toPandas()
    assert again.equals(got)

    # feature-less region (south of every feature) -> empty tile
    empty = cp.get_tile(out, *tile_of(-140.0, -82.0, 11)).toPandas()
    assert len(empty) == 0


def test_checkpointed_pyramid_golden_corpus(spark, tmp_path):
    """The PARQUET write path must reproduce the us-states golden corpus
    exactly: read every tile back from the store and compare to the
    fixture (same check the in-memory index passes)."""
    import json as _json

    import pyspark.sql.functions as F

    from conftest import fixture_path, parse_jsontiles

    out = str(tmp_path / "pyrg")
    feats = read_geojson_features(spark, fixture_path("us-states.json"))
    cp = CheckpointedPyramid(
        spark, Options(max_zoom=14, index_max_zoom=7, index_max_points=200)
    )
    s = cp.run(feats, out)
    expected = parse_jsontiles(fixture_path("us-states-tiles.json"))

    all_rows = spark.read.parquet(os.path.join(out, "tiles")).toPandas()
    # every tile (incl. feature-less ones — the fixture has empty tiles
    # like z4-3-4) appears via its stats row
    actual = {
        f"z{int(r.z)}-{int(r.x)}-{int(r.y)}": []
        for r in all_rows[all_rows.feature_idx < 0].itertuples(index=False)
    }
    # feature rows carry the persisted order keys (feature_idx is derived
    # at read time by read_tile); sort here exactly as read_tile ranks
    rows = all_rows[all_rows["type"].notna()]
    from geojson_vt_rs_spark.core.geom import GEOM_MULTIPOLYGON

    for (z, x, y), grp in rows.groupby(["z", "x", "y"]):
        feats_c = []
        for r in grp.sort_values(
            ["world_copy", "feature_seq", "slice_path", "sub_idx"]
        ).itertuples(index=False):
            geom = _json.loads(r.geometry_json)
            if int(r.kind) == GEOM_MULTIPOLYGON:
                geom = [ring for poly in geom for ring in poly]
            if int(r.type) == 1:
                geom = [[float(p[0]), float(p[1])] for p in geom]
            else:
                geom = [[[float(p[0]), float(p[1])] for p in part] for part in geom]
            tags = None if r.tags_json is None else _json.loads(r.tags_json)
            feats_c.append(
                (int(r.type), geom, tags,
                 r.tile_id_str if isinstance(r.tile_id_str, str) else None,
                 None)
            )
        actual[f"z{int(z)}-{int(x)}-{int(y)}"] = feats_c

    # expected corpus covers only non-empty tiles
    assert set(expected.keys()) <= set(actual.keys())
    for key in expected:
        assert actual[key] == expected[key], f"tile {key}"
    # tiles absent from the fixture must be feature-less in the store
    for key in set(actual.keys()) - set(expected.keys()):
        assert actual[key] == [], key


def canon_rows(pdf):
    """A table's rows, order-free and comparable (array cells as lists)."""
    return sorted(
        repr(tuple(v.tolist() if hasattr(v, "tolist") else v for v in r))
        for r in pdf[sorted(pdf.columns)].itertuples(index=False)
    )


def crash_inside_level(out, s1):
    """Roll a finished store back to a crash inside a level with leaves
    and children: its pass wrote the staged tiles and leaves and the next
    frontier, then the driver died before the publish and the manifest;
    no later level ran.  A wider earlier attempt left one more
    ``part-<high pid>`` file in the staging dir and in the frontier dir
    (copies of real part files: reading them would duplicate rows)."""
    lv = next(m["level"] for m in s1["manifests"][1:]
              if m["n_children"] and m["n_leaf_feature_rows"])
    os.makedirs(os.path.join(out, "_staging"), exist_ok=True)
    for m in s1["manifests"][lv:]:
        k = m["level"]
        os.remove(os.path.join(out, "_manifests", f"level_{k}.json"))
        for t in ("tiles", "leaves"):
            fin = os.path.join(out, t, f"level=L{k}")
            if k == lv:
                os.rename(fin, os.path.join(out, "_staging", f"{t}_level_{k}"))
            else:
                shutil.rmtree(fin, ignore_errors=True)
        if k > lv:
            shutil.rmtree(os.path.join(out, "frontier", f"level_{k + 1}"),
                          ignore_errors=True)
    stg = os.path.join(out, "_staging", f"tiles_level_{lv}")
    fdir = os.path.join(out, "frontier", f"level_{lv + 1}")
    for d in (glob.glob(os.path.join(stg, "z=*"))[0], fdir):
        part = sorted(glob.glob(os.path.join(d, "part-*.parquet")))[0]
        shutil.copy(part, os.path.join(d, "part-09999-render.parquet"))


@pytest.mark.parametrize("corpus",
                         CORPORA + ["empty_children", "staged_level"])
def test_checkpointed_exactly_once_after_crash(spark, tmp_path, corpus):
    """Kill-and-resume with NO reader-side dedupe: simulate both crash
    windows of the level commit protocol — (a) after publish, before
    manifest (level dir exists, manifest missing) and (b) mid-staging
    (orphan staging dir) — the resumed store must hold zero duplicate
    (z,x,y,feature_idx) keys and byte-identical content.

    ``empty_children``: the level before the last records only empty
    pending children (n_children == 0), so the resume takes the
    no-frontier branch; its manifests and every read_tile must equal
    the uninterrupted build's.

    ``staged_level`` (generated corpus): the crash falls inside a level
    whose tasks already wrote its staged files and next frontier, with a
    stale part file of a wider attempt in both (crash_inside_level); the
    resume must equal the uninterrupted build in its tiles and leaves
    rows, manifests and every read_tile."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "pyr_xonce")
    feats = load_corpus(spark, corpus)
    # tiny fuse bound forces true per-level distributed processing so the
    # run writes several level commits to crash between
    cp = CheckpointedPyramid(
        spark,
        Options(
            max_zoom=14, index_max_zoom=3, index_max_points=200,
            fuse_max_points=1,
        ),
    )
    s1 = cp.run(feats, out)
    assert s1["levels"] >= 2  # need a real multi-level run for the test

    key_cols = ["z", "x", "y", "world_copy", "feature_seq", "slice_path",
                "sub_idx"]

    def snapshot():
        return (
            spark.read.parquet(os.path.join(out, "tiles"))
            .select(
                "z", "x", "y", "feature_idx", "type", "world_copy",
                "feature_seq", "slice_path", "sub_idx", "geometry_json",
                "tags_json",
            )
            .sort(*key_cols, "feature_idx", "geometry_json")
            .toPandas()
        )

    def assert_no_dupes(pdf):
        keyed = pdf[pdf["type"].notna()]
        assert not keyed.duplicated(subset=key_cols).any()

    base = snapshot()
    assert_no_dupes(base)

    def manifests():
        return [
            {k: v for k, v in m.items() if k not in ("wall_sec", "steal_frac")}
            for m in cp.summary(out)["manifests"]
        ]

    def tiles_by_key():
        keys = (
            spark.read.parquet(os.path.join(out, "tiles"))
            .select("z", "x", "y").distinct().collect()
        )
        return {
            (k.z, k.x, k.y): cp.read_tile(out, k.z, k.x, k.y).toPandas()
            for k in keys
        }

    def tables():
        return [canon_rows(spark.read.parquet(os.path.join(out, t)).toPandas())
                for t in ("tiles", "leaves")]

    whole = corpus in ("empty_children", "staged_level")
    if corpus == "empty_children":
        m_prev = s1["manifests"][-2]
        assert m_prev["n_children"] == 0 and m_prev["pending_children"]
    if whole:
        base_manifests, base_tiles = manifests(), tiles_by_key()
        base_tables = tables()

    stg = None
    if corpus == "staged_level":
        crash_inside_level(out, s1)
    else:
        # (a) crash after publish, before manifest: kill the LAST
        # level's manifest but leave its published dir in place
        last = s1["levels"] - 1
        os.remove(os.path.join(out, "_manifests", f"level_{last}.json"))
        # (b) plus an orphan staging dir from a killed write
        stg = os.path.join(out, "_staging", f"tiles_level_{last}")
        os.makedirs(stg, exist_ok=True)
        with open(os.path.join(stg, "garbage.bin"), "wb") as fh:
            fh.write(b"partial write")

    s2 = cp.run(feats, out)
    assert s2["levels"] == s1["levels"]
    assert s2["total_tiles"] == s1["total_tiles"]
    resumed = snapshot()
    assert_no_dupes(resumed)
    assert base.equals(resumed)
    assert stg is None or not os.path.exists(stg)
    if whole:
        assert manifests() == base_manifests
        assert tables() == base_tables
        got = tiles_by_key()
        assert got.keys() == base_tiles.keys()
        for k, tile in base_tiles.items():
            assert got[k].equals(tile), k


@pytest.mark.parametrize("corpus", CORPORA)
def test_drilldown_crash_window_retry(spark, tmp_path, corpus):
    """get_tile drill-down commit protocol: simulate a crash AFTER the
    leaves rename but BEFORE the tiles rename (tiles is the commit
    point) — a retried get_tile must recompute and return the exact
    tile with no duplicate rows."""
    import shutil as _sh

    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

    out = str(tmp_path / "pyr_dc")
    feats = load_corpus(spark, corpus)
    opts = Options()
    cp = CheckpointedPyramid(spark, opts)
    cp.run(feats, out)

    # full drill (ground truth)
    want = cp.get_tile(out, 7, 37, 48).toPandas()
    mem = SparkGeoJSONVT(spark, feats, opts)
    assert len(want) == len(mem.get_tile(7, 37, 48).features)

    # roll back to the crash window: remove the committed drill tiles dir
    # but LEAVE the drill leaves dir (as if we died between the renames);
    # the retry runs in a new process, so a new object with empty memos
    _sh.rmtree(os.path.join(out, "tiles", "level=drill_7_37_48"))
    again = CheckpointedPyramid(spark, opts).get_tile(out, 7, 37, 48)
    again = again.toPandas()
    assert os.path.isdir(os.path.join(out, "tiles", "level=drill_7_37_48"))
    assert len(again) == len(want)
    assert not again.duplicated(subset=["feature_idx"]).any()


@pytest.mark.parametrize("corpus", CORPORA)
def test_multi_drill_divergent_targets(spark, tmp_path, corpus):
    """Two drills whose paths share a prefix then diverge: every drilled
    tile matches the in-memory tiler, and cousin tiles created by the
    first drill are not duplicated by the second (a drill starts from
    the nearest memoized ancestor and writes no row of it)."""
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

    out = str(tmp_path / "pyr_md")
    feats = load_corpus(spark, corpus)
    opts = Options()
    cp = CheckpointedPyramid(spark, opts)
    cp.run(feats, out)
    mem = SparkGeoJSONVT(spark, feats, opts)

    # paths share z0..z5 then diverge (37//2=18 vs 38//2=19 at z6)
    for tz, tx, ty in [(7, 37, 48), (7, 38, 48), (8, 74, 96)]:
        got = cp.get_tile(out, tz, tx, ty).toPandas()
        want = mem.get_tile(tz, tx, ty).features
        assert len(got) == len(want), (tz, tx, ty)
        assert not got.duplicated(subset=["feature_idx"]).any()
        for i, tf in enumerate(want):
            row = got.iloc[i]
            assert json.loads(row["geometry_json"]) == tf["geometry"]
    # the shared-prefix tiles exist exactly once in the store
    import pyspark.sql.functions as Fx

    dup = (
        spark.read.parquet(os.path.join(out, "tiles"))
        .filter(Fx.col("feature_idx") == -1)
        .groupBy("z", "x", "y")
        .count()
        .filter(Fx.col("count") > 1)
        .count()
    )
    assert dup == 0


@pytest.mark.parametrize("corpus", CORPORA)
def test_store_routes_identical_tiles(spark, tmp_path, corpus):
    """The raw-gated level-0 routes (fuse-all subtree vs optimistic
    render+split levels) lay the store out differently (one fused level
    vs per-zoom levels) but every tile read back must be identical —
    same tile set, same ordered features per tile."""
    feats = load_corpus(spark, corpus)
    o_fuse = Options(max_zoom=14, index_max_zoom=3, index_max_points=200)
    o_opt = Options(max_zoom=14, index_max_zoom=3, index_max_points=200,
                    fuse_max_points=1)
    out_a = str(tmp_path / "fuse")
    out_b = str(tmp_path / "opt")
    cp_a = CheckpointedPyramid(spark, o_fuse)
    cp_b = CheckpointedPyramid(spark, o_opt)
    sa = cp_a.run(feats, out_a)
    sb = cp_b.run(feats, out_b)
    assert sa["levels"] == 1  # raw 3539 <= fuse_bound -> one fused level
    assert sb["levels"] >= 2  # optimistic split -> real per-zoom levels
    if corpus == "us_states":
        assert sa["total_tiles"] == sb["total_tiles"] == 17
    else:
        want = core_total(spark, feats, o_fuse)
        assert sa["total_tiles"] == sb["total_tiles"] == want

    keys_a = sorted(cp_a._tile_keys(out_a))
    keys_b = sorted(cp_b._tile_keys(out_b))
    assert keys_a == keys_b

    for z, x, y in keys_a:
        ta = cp_a.read_tile(out_a, z, x, y).select(
            "feature_idx", "type", "kind", "geometry_json", "tags_json"
        ).toPandas()
        tb = cp_b.read_tile(out_b, z, x, y).select(
            "feature_idx", "type", "kind", "geometry_json", "tags_json"
        ).toPandas()
        assert ta.values.tolist() == tb.values.tolist(), (z, x, y)


def test_drill_tile_sink_matches_core_tiler(spark, tmp_path):
    """drill_pass's tasks write the core tiler's drill: every
    new tile's features, in the emitter's order, to the staged tiles;
    the source features each new leaf tile retains to the staged
    leaves; and per-tile partials equal to the core tiles' num_points /
    num_simplified and to the written feature and leaf row counts.  None
    of the memoized root's rows (the one stored tile a drill touches),
    and idempotent under re-execution (deterministic filenames + atomic
    rename — a retried/duplicated task overwrites with identical
    content)."""
    import glob
    import os

    import pandas as pd

    from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler
    from geojson_vt_rs_spark.operators.pipeline import TaskSink
    from geojson_vt_rs_spark.operators.schema import pdf_to_features
    from geojson_vt_rs_spark.plans.pyramid import TILED_COLS, drill_pass
    from test_route_parity import (
        canon,
        core_leaves,
        core_tiles,
        leaf_rows,
    )
    from test_route_parity import canon_rows as canon_features

    out = str(tmp_path / "sinkstore")
    feats = load_corpus(spark, "generated")
    opts = Options()  # the root is a leaf: every feature stays at z0
    cp = CheckpointedPyramid(spark, opts)
    cp.run(feats, out)

    # the root's leaf files, as get_tile lists them
    src = sorted(glob.glob(os.path.join(out, "leaves", "level=*", "z=0",
                                        "part-*.parquet")))
    assert src
    root, target = (0, 0, 0), (7, 37, 48)  # the first generated metro
    pdf = feats.toPandas().sort_values("feature_seq", ignore_index=True)
    core = CoreTiler(list(pdf_to_features(pdf)), opts)
    core.get_tile(*target)
    want = core_tiles(core)

    stg = TaskSink(str(tmp_path / "stg_tiles"), str(tmp_path / "stg_leaves"),
                   action="drill")
    partials: dict = {}
    for r in drill_pass(spark, src, opts, root, target,
                        tile_sink=stg).collect():
        assert r.sub_idx == 1
        acc = partials.setdefault((r.z, r.x, r.y), [0, 0, 0, 0])
        for i, v in enumerate((r.num_points, r.n_emitted, r.nf, r.n_leaf)):
            acc[i] += v

    order = ["world_copy", "feature_seq", "slice_path", "sub_idx"]
    got_tiles = spark.read.parquet(stg.tiles).toPandas()
    assert len(got_tiles) > 10
    assert (got_tiles["action"] == "drill").all()
    assert got_tiles[["feature_idx", "tile_num_points",
                      "tile_num_simplified"]].isna().all().all()
    written = {
        (int(z), int(x), int(y)): canon_features(grp)
        for (z, x, y), grp in got_tiles.sort_values(order).groupby(
            ["z", "x", "y"], sort=False)
    }
    # root-only exclusion: the pass renders tiles below the root only,
    # down to the target
    assert root not in written and target in written
    assert all(0 < t[0] <= target[0] for t in written)
    got_leaves = spark.read.parquet(stg.leaves).toPandas()
    assert sorted(got_leaves.columns) == sorted(TILED_COLS)
    assert len(got_leaves) > 10
    assert leaf_rows(got_leaves) == core_leaves(core)
    n_leaf = {k: len(v) for k, v in core_leaves(core).items()}
    em = want[root]
    assert partials.pop(root) == [em.num_points, 0, 0, 0]
    assert set(written) <= set(partials)
    for key, (tnp, ns, nf, nl) in partials.items():
        em = want[key]
        assert (tnp, ns) == (em.num_points, em.num_simplified), key
        assert written.get(key, []) == canon(em.features), key
        assert (nf, nl) == (len(em.features), n_leaf.get(key, 0)), key
    # the core tiles the pass never saw are the empty children of the
    # split path tiles (drill_tiles adds them from the partials)
    for key in set(want) - set(partials) - {root}:
        assert want[key].num_points == 0 and not want[key].features

    # idempotence: re-executing the pass overwrites the same files with
    # identical content (no duplicates, no leftover visible tmp files)
    def files():
        return sorted(glob.glob(f"{stg.tiles}/z=*/*")
                      + glob.glob(f"{stg.leaves}/z=*/*"))

    files1 = files()
    assert files1 and all("/part-" in f for f in files1)
    drill_pass(
        spark, src, opts, root, target, tile_sink=stg,
    ).write.format("noop").mode("overwrite").save()
    assert files() == files1
    key = ["z", "x", "y"] + order
    again = spark.read.parquet(stg.tiles).toPandas()
    pd.testing.assert_frame_equal(
        again.sort_values(key, ignore_index=True),
        got_tiles.sort_values(key, ignore_index=True), check_dtype=True)
    assert canon_rows(spark.read.parquet(stg.leaves).toPandas()) == \
        canon_rows(got_leaves)
