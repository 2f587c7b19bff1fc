"""Distributed tile pyramid: the reference's recursive split_tile
(/root/reference/src/lib.rs:251-434) re-expressed as a breadth-first
per-zoom DataFrame loop, and drill-down get_tile (lib.rs:184-245) as the
same recursion pruned to one root-to-target path.

Equivalence: the recursion's stop conditions are per-tile, so a
breadth-first traversal visits the same tile set and every tile sees the
same feature multiset (clip bands are a function of (z,x,y) only).

This module holds the pyramid's pure rules (``decide``, ``fuse_bound``,
``find_parent``, ``drill_tiles``) and passes (``decisions_df``,
``fused_stage``, ``drill_pass``); the level loop that drives them is the
store's build (plans/checkpoint.py ``CheckpointedPyramid``).  Each turn
decides every frontier tile with ``decide`` (lib.rs:305-313) from its
point count, renders and child-clips the non-fused tiles in one per-row
pass whose tasks read the frontier files themselves
(render_split_stage), and runs small split subtrees whole inside one
task (``fused_stage``, over the 'fuse' rows joined with
``decisions_df`` and shuffled by tile).  Every pass writes its tiles,
leaves and children from the tasks and returns only per-tile
partials.  The in-memory SparkGeoJSONVT is that store, built into a
scratch directory and loaded on the driver.

"Retain source_features on leaves / clear on split parents"
(lib.rs:311,324,335,430-433) becomes the leaf-features store; a get_tile
miss runs ``drill_pass`` from the nearest ancestor's retained features —
the recursion pruned to the target path, every level in one
feature-parallel pass.  Tiles created empty along the way count in
stats/total — observable in tests.rs:430 (total == 37 after the z11 miss
lookups), and every split parent spawns all four children (split_tile is
called unconditionally), so feature-less children become empty tiles.

At 100 TB: the frontier shrinks geometrically (features are partitioned
into disjoint children), and the render pass packs the shrinking
frontier's files into fewer tasks, as Spark's file scan would; hot
tiles (dense metros) are bounded by index_max_points splitting them
further down.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Dict, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.core.tiler import to_id
from geojson_vt_rs_spark.operators.pipeline import (
    FEATURE_ROW_COLS,
    PARTIAL_SCHEMA,
    TaskSink,
    _partials_frame,
    _tile_feature,
    _TaskWriter,
    _drill_kernel,
    _root_reader,
    write_parquet,
    z_part_schema,
)
from geojson_vt_rs_spark.operators.schema import (
    TILED_FEATURE_SCHEMA,
    feature_to_row,
    pdf_to_features,
)

TILED_COLS = [f.name for f in TILED_FEATURE_SCHEMA.fields]


class SparkTile:
    """One memoized tile.  ``features`` (canonical tile-feature dicts)
    is LAZY when loaded from stored feature rows: the driver keeps the
    raw rows and defers the per-row JSON parse to first access — a
    1M-point build touches millions of rows but a typical consumer reads
    a handful of tiles, so eager parsing was the dominant driver-side
    cost per level."""

    __slots__ = ("z", "x", "y", "num_points", "num_simplified",
                 "_features", "_lazy")

    def __init__(self, z, x, y, features, num_points, num_simplified,
                 lazy=None):
        self.z = z
        self.x = x
        self.y = y
        self._features = features  # list, or None when lazy
        self._lazy = lazy  # (pdf, parser) when _features is None
        self.num_points = num_points
        self.num_simplified = num_simplified

    @property
    def features(self):
        if self._features is None:
            pdf, parser = self._lazy
            self._features = parser(pdf)
            self._lazy = None
        return self._features


EMPTY_TILE = SparkTile(0, 0, 0, [], 0, 0)

# decisions tables above this row count fall back to createDataFrame
# (bounded VALUES plan text; below it the LocalRelation needs no job)
_VALUES_DDF_MAX = 4096


def decisions_df(spark: SparkSession, decisions) -> DataFrame:
    """(z, x, y, action) rows as a LocalRelation-backed DataFrame: a
    level's 'fuse' decisions, broadcast-joined with its JVM frontier scan
    for fused_stage (the render pass carries its actions in the task
    closure instead).

    ``spark.createDataFrame(list)`` parallelizes into defaultParallelism
    slices, so BROADCASTING the index-sized decisions table ran a 32-task
    Python-roundtrip job per pyramid level (event-log: 0.3-1.3 s/level).
    A literal VALUES scan is a LocalTableScan: the broadcast materializes
    driver-side with NO job.  Falls back to createDataFrame for huge
    decision tables (bounded plan text)."""
    from geojson_vt_rs_spark.operators.schema import local_relation_df

    return local_relation_df(
        spark, list(decisions), "z int, x int, y int, action string",
        max_rows=_VALUES_DDF_MAX,
    )


def fuse_bound(options: Options) -> int:
    """Max num_points for which a split tile's WHOLE subtree runs in one
    task.  Serial subtree work ~ tnp * depth, and depth grows while
    children stay above index_max_points, so the bound caps at
    max(index_max_points, 8192)."""
    return min(options.fuse_max_points,
               max(options.index_max_points, 8192))


def decide(options: Options, z: int, x: int, y: int, tnp: int) -> str:
    """A frontier tile's build action from its point count (lib.rs:
    305-313): 'leaf' (stop and retain), 'fuse' (split, with the whole
    subtree small enough for one task) or 'split'.  The drill's 'stop'
    (max_zoom) and off-path leaves belong to the drill (_drill_kernel)."""
    if z == options.index_max_zoom or tnp <= options.index_max_points:
        return "leaf"
    return "fuse" if tnp <= fuse_bound(options) else "split"


def _children(tiles) -> list:
    return [
        (z + 1, 2 * x + dx, 2 * y + dy)
        for z, x, y in tiles
        for dx in (0, 1)
        for dy in (0, 1)
    ]


def _subtree_kernel(options: Options, tile_sink: TaskSink):
    """mapInPandas kernel over TILED rows clustered by tile (a fused
    level's rows, repartitioned and sorted by (z, x, y), or the raw-gated
    wave's root rows): the core tiler's whole split recursion under each
    tile.  The tasks write every subtree tile's features (order keys
    (0, i, '', 0) rank in the emitter's order) and retained source rows
    to ``tile_sink``, and return one partial per tile, empty tiles
    included (PARTIAL_SCHEMA, sub_idx 1: num_points, n_emitted =
    num_simplified, nf, n_leaf): the drill pass's contract
    (_drill_kernel)."""
    order = ["world_copy", "feature_seq", "slice_path"]

    def subtree(key, pieces, w: _TaskWriter, tnp: dict) -> None:
        from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler

        feats = [f for p in pieces for f in pdf_to_features(p[TILED_COLS[3:]])]
        keys = pd.concat([p[order] for p in pieces], ignore_index=True)
        feats = [feats[i] for i in keys.sort_values(order, kind="stable").index]
        rend: list = []
        leaves: list = []
        ns: dict = {}
        for it in CoreTiler.subtree(feats, options, *key).tiles.values():
            em = it.emitter
            tile = dict(z=em.z, x=em.x, y=em.y)
            rend += [
                tile | dict(world_copy=0, feature_seq=i, slice_path="",
                            sub_idx=0) | _tile_feature(tf)
                for i, tf in enumerate(em.features)
            ]
            leaves += [tile | feature_to_row(f) for f in it.source_features]
            tnp[(em.z, em.x, em.y)] = em.num_points
            ns[(em.z, em.x, em.y)] = em.num_simplified
        w.features([pd.DataFrame(rend, columns=FEATURE_ROW_COLS)], ns)
        if leaves:
            w.leaves(pd.DataFrame(leaves, columns=TILED_COLS))

    def groups(batches):
        # (key, row slices) per tile; a tile's rows may span batches
        key, pieces = None, []
        for pdf in batches:
            for k, g in pdf.groupby(["z", "x", "y"], sort=False):
                if k != key and pieces:
                    yield key, pieces
                    pieces = []
                key = tuple(map(int, k))
                pieces.append(g)
        if pieces:
            yield key, pieces

    def run(batches):
        w = _TaskWriter(tile_sink, "fuse")
        tnp: dict = {}
        for key, pieces in groups(batches):
            subtree(key, pieces, w, tnp)
        counts = w.close()
        if tnp:
            yield _partials_frame({
                k: (v, *counts.get(k, (0, 0, 0))) for k, v in tnp.items()
            }, 1)

    return run


def fused_stage(fr: DataFrame, options: Options,
                tile_sink: TaskSink) -> DataFrame:
    """The 'fuse' tiles of a level (``fr``: their rows, with the action
    column of the decisions join) as whole subtrees, one _subtree_kernel
    call per task over its rows clustered by tile."""
    return (
        fr.drop("action")
        .repartition("z", "x", "y").sortWithinPartitions("z", "x", "y")
        .mapInPandas(_subtree_kernel(options, tile_sink),
                     schema=PARTIAL_SCHEMA)
    )


def find_parent(z: int, x: int, y: int, memoized) -> Optional[tuple]:
    """The nearest ancestor of (z, x, y) for which ``memoized(z, x, y)``
    holds, or None (lib.rs:229-245): the drill root of both get_tiles.
    split_tile creates all four children of every tile it splits
    (lib.rs:344-428), so no tile below that ancestor is memoized yet.
    ``memoized`` is a set lookup in both: the index's tile dict, or the
    store's key memo, which it loads from its stats files on the driver
    (plans/checkpoint.py ``_tile_keys``), so no probe runs a Spark job."""
    while z != 0:
        z, x, y = z - 1, x // 2, y // 2
        if memoized(z, x, y):
            return z, x, y
    return None


def drill_pass(spark: SparkSession, files: list, options: Options,
               root: tuple, target: tuple, tile_sink: TaskSink) -> DataFrame:
    """The cold get_tile pass of both SparkGeoJSONVT and
    CheckpointedPyramid: _drill_kernel from ``root``'s retained leaf
    rows down to ``target``, as one Spark job of defaultParallelism
    tasks.  ``files``: parquet files of leaf rows of the root's z (the
    store's ``leaves/level=*/z=<rz>`` files, or the index's one scratch
    file), without the z column.  The tasks read them themselves
    (_root_reader): each keeps every P-th of the root's rows, so the
    descent renders on every core and no leaf row crosses the JVM."""
    par = spark.sparkContext.defaultParallelism
    batch = spark._jsparkSession.sessionState().conf().arrowMaxRecordsPerBatch()
    read = _root_reader(files, root, par, batch)
    kernel = _drill_kernel(options, root, target, tile_sink)
    return spark.range(0, par, 1, par).mapInPandas(
        lambda batches: kernel(read(batches)), schema=PARTIAL_SCHEMA)


def drill_tiles(partials: pd.DataFrame, root: tuple, target: tuple) -> list:
    """The tiles a drill pass creates, as (z, x, y, num_points,
    num_simplified): every tile the pass saw but ``root`` (the one
    memoized tile it touches, see find_parent), finished from its
    partials, plus the empty children of the split path tiles
    (split_tile creates all four, lib.rs:344-428)."""
    agg: dict = {}
    for r in partials.itertuples(index=False):
        key = (int(r.z), int(r.x), int(r.y))
        tnp, ns = agg.get(key, (0, 0))
        agg[key] = (tnp + int(r.num_points), ns + int(r.n_emitted))
    out = [k + v for k, v in agg.items() if k != root]
    (pz, px, py), (cz, cx, cy) = root, target
    while pz < cz and agg.get((pz, px, py), (0,))[0] > 0:
        out += [
            ch + (0, 0) for ch in _children([(pz, px, py)]) if ch not in agg
        ]
        m = 1 << (cz - pz - 1)
        pz, px, py = pz + 1, cx // m, cy // m
    return out


class SparkGeoJSONVT:
    """Tile index built by Spark jobs; memoized tiles + leaf features.

    ``features_df`` must be a raw lon/lat features DataFrame
    (FEATURE_SCHEMA, see operators.pipeline.read_geojson_features).
    The distributed index is a CheckpointedPyramid store built into a
    scratch directory and loaded on the driver (``_load``); its drills
    commit to a scratch directory the same way.  Each scratch directory
    is removed before the call returns.
    """

    # inputs below this many raw points run the core tiler on the driver
    # outright (adaptive local execution — the distributed loop's fixed
    # per-level cost only pays off on big frontiers); results identical
    LOCAL_THRESHOLD_POINTS = 1_000_000

    def __init__(
        self,
        spark: SparkSession,
        features_df: DataFrame,
        options: Optional[Options] = None,
        prefer_local: Optional[bool] = None,
    ):
        self.spark = spark
        self.options = options or Options()
        self.tiles: Dict[int, SparkTile] = {}
        self.leaf_features: Dict[int, pd.DataFrame] = {}
        self.stats: Dict[int, int] = {}
        self.total = 0
        self._local = None

        # the raw JVM point sum picks local vs distributed and doubles as
        # the loop's raw gate (skipped when prefer_local=True is forced)
        npts = None
        if prefer_local is None:
            npts = features_df.agg(F.sum("num_points")).collect()[0][0] or 0
            prefer_local = npts <= self.LOCAL_THRESHOLD_POINTS
        if prefer_local:
            self._init_local(features_df)
            return
        from geojson_vt_rs_spark.plans.checkpoint import CheckpointedPyramid

        self._store = CheckpointedPyramid(spark, self.options)
        with tempfile.TemporaryDirectory() as d:
            self._store.run(features_df, d, raw_npts=npts)
            self._load(d)

    # ------------------------------------------------------------------
    def _init_local(self, features_df: DataFrame) -> None:
        """Adaptive local execution: collect the (small) input and run the
        core tiler on the driver; the public surface stays identical."""
        from geojson_vt_rs_spark.core.tiler import GeoJSONVT as CoreTiler

        feats = list(pdf_to_features(features_df.toPandas()))
        feats.sort(key=lambda f: f.feature_seq)
        self._local = CoreTiler(feats, self.options)
        self._sync_local()

    def _sync_local(self) -> None:
        # a core tile never changes once created (core/tiler.py _split):
        # wrap only the new ones
        lt = self._local
        self.stats = dict(lt.stats)
        self.total = lt.total
        for tid, it in lt.tiles.items():
            if tid not in self.tiles:
                em = it.emitter
                self.tiles[tid] = SparkTile(em.z, em.x, em.y, em.features,
                                            em.num_points, em.num_simplified)

    # ------------------------------------------------------------------
    def _load(self, d: str) -> None:
        """Register what a store build or drill commit wrote under ``d``
        (plans/checkpoint.py layout), read with pyarrow (index-sized):
        one tile per stats row (feature_idx -1), with its feature rows as
        the tile's features, parsed on first access; the ``leaves/`` rows
        are retained."""
        tiles = _read_table(os.path.join(d, "tiles"))
        if tiles is not None:
            feats = tiles[tiles["type"].notna().to_numpy()]
            groups = dict(list(feats.groupby(["z", "x", "y"], sort=False)))
            stats = tiles[(tiles["feature_idx"] == -1).to_numpy()]
            for r in stats.itertuples(index=False):
                z, x, y = int(r.z), int(r.x), int(r.y)
                grp = groups.get((z, x, y))
                self.tiles[to_id(z, x, y)] = SparkTile(
                    z, x, y, [] if grp is None else None,
                    int(r.tile_num_points), int(r.tile_num_simplified),
                    lazy=None if grp is None else (grp, _tile_features),
                )
                self.stats[z] = self.stats.get(z, 0) + 1
                self.total += 1
        leaves = _read_table(os.path.join(d, "leaves"))
        if leaves is not None:
            for (z, x, y), grp in leaves.groupby(["z", "x", "y"], sort=False):
                self.leaf_features[to_id(int(z), int(x), int(y))] = grp[
                    TILED_COLS
                ].reset_index(drop=True)

    # ------------------------------------------------------------------
    def get_tile(self, z: int, x_: int, y: int) -> SparkTile:
        o = self.options
        if z > o.max_zoom:
            raise ValueError(f"Requested zoom higher than maxZoom: {z}")
        z2 = 1 << z
        x = ((x_ % z2) + z2) % z2
        tid = to_id(z, x, y)
        if self._local is not None:
            self._local.get_tile(z, x, y)
            self._sync_local()
            return self.tiles.get(tid, EMPTY_TILE)
        if tid in self.tiles:
            return self.tiles[tid]
        parent = find_parent(z, x, y, lambda *k: to_id(*k) in self.tiles)
        if parent is None:
            raise LookupError("Parent tile not found")
        leaf = self.leaf_features.get(to_id(*parent))
        if leaf is not None and not leaf.empty:
            # (an ancestor without retained features creates nothing new:
            # split_tile(parent, empty) — no Spark job needed)
            self._drill(leaf, parent, (z, x, y))
        return self.tiles.get(tid, EMPTY_TILE)

    def _drill(self, leaf: pd.DataFrame, root: tuple, target: tuple) -> None:
        """Cold get_tile: the store's drill (CheckpointedPyramid._drill)
        from the nearest memoized ancestor's retained features, committed
        to a scratch directory and loaded like the build.  The pass
        writes none of the root's rows; the root was split
        (lib.rs:430-433), so it retains nothing any more."""
        import pyarrow as pa

        from geojson_vt_rs_spark.plans.checkpoint import _Commit

        schema = z_part_schema(TILED_FEATURE_SCHEMA)
        with tempfile.TemporaryDirectory() as d:
            # the root's rows as one leaf file: the store's drill input
            write_parquet(d, "root.parquet", pa.Table.from_pandas(
                leaf[schema.names], schema=schema, preserve_index=False))
            commit = _Commit(d, "drill", "drill")
            self._store._drill([os.path.join(d, "root.parquet")], root,
                               target, commit)
            commit.publish()
            self.leaf_features.pop(to_id(*root), None)
            self._load(d)

    def get_internal_tiles(self):
        return self.tiles


def _read_table(path: str) -> Optional[pd.DataFrame]:
    """A hive-partitioned store table (``level=*/z=*``) as one pandas
    frame, or None when it was never written."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table().to_pandas()


def _tile_features(grp: pd.DataFrame) -> list:
    """One tile's stored feature rows -> canonical features in
    read_tile's order (the deferred half of a loaded SparkTile)."""
    rows = grp.sort_values(
        ["world_copy", "feature_seq", "slice_path", "sub_idx"],
        kind="stable",
    )
    return [
        dict(
            type=int(r.type),
            kind=int(r.kind),
            geometry=json.loads(r.geometry_json),
            tags=None if r.tags_json is None else json.loads(r.tags_json),
            id_str=r.tile_id_str if isinstance(r.tile_id_str, str) else None,
            id_num=int(r.tile_id_num) if pd.notna(r.tile_id_num) else None,
            id_float=(float(r.tile_id_float) if pd.notna(r.tile_id_float)
                      else None),
        )
        for r in rows.itertuples(index=False)
    ]
