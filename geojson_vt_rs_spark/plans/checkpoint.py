"""Checkpointed, resumable production pipelines.

Two write paths, both idempotent-resume via per-partition JSON manifests
carrying lineage + row-count metrics (north_rule: "checkpoints per-tile-
partition progress with lineage + row-count metrics for resumability"):

* CheckpointedPyramid — the distributed tile pyramid (plans/pyramid.py's
  run_levels, with the staged parquet store as its sink) writing tiles /
  leaf-features / next-level frontiers as parquet per level; a level's
  manifest is written only after all its outputs land, so a killed job
  resumes from the first level without a manifest, re-reading the last
  persisted frontier (no recompute of completed levels).

* checkpointed_mosaic — the raster mosaic sharded into hash buckets of
  cells; completed buckets are skipped on resume.

Everything is written with deterministic content, so a resumed run
produces byte-identical outputs to an uninterrupted one.

Filesystem contract.  Every commit is staged, then published by rename:
Spark jobs write under ``<out_dir>/_staging``, the driver publishes a
level or drill with one ``os.rename`` per table (``_Commit``) and writes
each manifest to a temp file it ``os.replace``s into place; executor
tasks of a drill pass write their tile files to dot-prefixed temp names
and ``os.replace`` them onto deterministic final names
(drill_descend_stage's ``tile_sink``).  So ``out_dir`` must be ONE
shared POSIX path: the same directory for the driver and every
executor, with atomic rename within it.  Local mode and a shared POSIX
mount satisfy this; an object store without atomic rename does not.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.operators.pipeline import (
    RS_CAGG,
    RS_CHILD,
    RS_LEAF,
    RS_RENDER,
)
from geojson_vt_rs_spark.operators.schema import TILE_STORE_DDL
from geojson_vt_rs_spark.plans.pyramid import (
    CAGG_COLS,
    TILED_COLS,
    drill_pass,
    drill_tiles,
    find_parent,
    run_levels,
)


def cpu_ticks() -> tuple:
    """(steal_ticks, total_ticks) from /proc/stat; (0, 0) off-Linux.
    The one steal reader: bench.py and tools/ bracket their timed windows
    with it too.  Each level manifest records its window's steal fraction
    so a slow level is classifiable from the store alone (a 32-core z1
    was observed bimodal 9-17s across sessions — the slow runs track
    elevated hypervisor steal, not GC; this pins that per level)."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def steal_frac(t0: tuple, t1: tuple) -> float:
    """The steal share of the CPU ticks between two cpu_ticks() reads."""
    d = t1[1] - t0[1]
    return round((t1[0] - t0[0]) / d, 4) if d > 0 else 0.0


def _manifest_path(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, "_manifests", f"{name}.json")


def _write_manifest(out_dir: str, name: str, payload: dict) -> None:
    path = _manifest_path(out_dir, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    os.replace(tmp, path)  # atomic completion marker


def _sweep_drill_orphans(out_dir: str) -> list:
    """Remove leaves/level=drill_* dirs whose matching tiles/level=drill_*
    commit never landed.  get_tile publishes leaves FIRST (the tiles rename
    is the commit point), so a crash in between strands orphan leaf rows
    that any reader scanning the leaves root would otherwise see until that
    exact tile is re-drilled.  Returns the swept dir names."""
    leaves_root = os.path.join(out_dir, "leaves")
    tiles_root = os.path.join(out_dir, "tiles")
    swept = []
    if not os.path.isdir(leaves_root):
        return swept
    for d in os.listdir(leaves_root):
        if not d.startswith("level=drill_"):
            continue
        if not os.path.isdir(os.path.join(tiles_root, d)):
            shutil.rmtree(os.path.join(leaves_root, d), ignore_errors=True)
            swept.append(d)
    return swept


def _read_manifest(out_dir: str, name: str) -> Optional[dict]:
    path = _manifest_path(out_dir, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _stats_row(z, x, y, tnp, ns, action) -> tuple:
    """A tile's stats row (feature_idx -1) in TILE_STORE_DDL order."""
    return (z, x, y, -1, None, None, None, None, None, None, None, tnp, ns,
            action, None, None, None, None)


def _feature_rows(rows: DataFrame) -> DataFrame:
    """A pass's RS_RENDER rows (RS_SCHEMA) -> tiles-table feature rows
    (TILE_STORE_DDL order).  feature_idx is NOT ranked here: a
    Window.partitionBy(z,x,y) at z0 has ONE partition, serializing the
    whole dataset through a single task (54s of the 76s 1M build; 8->32
    efficiency 0.236).  The deterministic order-key columns are persisted
    instead and read_tile derives feature_idx per tile."""
    return rows.filter(
        (F.col("row_kind") == RS_RENDER) & (F.col("sub_idx") >= 0)
    ).select(
        "z", "x", "y",
        F.lit(None).cast("int").alias("feature_idx"),
        "type", "kind", "geometry_json", "tags_json",
        F.col("id_str").alias("tile_id_str"),
        F.col("id_num").alias("tile_id_num"),
        F.col("id_float").alias("tile_id_float"),
        F.lit(None).cast("int").alias("tile_num_points"),
        F.lit(None).cast("int").alias("tile_num_simplified"),
        F.lit("feature").alias("action"),
        "world_copy", "feature_seq", "slice_path", "sub_idx",
    )


def _tile_partials(step: DataFrame) -> pd.DataFrame:
    """Per tile of a multi-level pass (RS_SCHEMA rows: fused subtrees or
    a drill), in one collection: ``num_points`` and ``n_emitted`` from
    its RS_CAGG rows, its RS_LEAF row count ``n_leaf`` (a tile with
    retained rows is a leaf) and its feature row count ``nf``."""
    kind = F.col("row_kind")
    cagg = kind == RS_CAGG
    feature = (kind == RS_RENDER) & (F.col("sub_idx") >= 0)
    return step.groupBy("z", "x", "y").agg(
        F.sum(F.when(cagg, F.col("num_points"))).alias("num_points"),
        F.sum(F.when(cagg, F.col("n_emitted"))).alias("n_emitted"),
        F.sum((kind == RS_LEAF).cast("long")).alias("n_leaf"),
        F.sum(feature.cast("long")).alias("nf"),
    ).toPandas()


def _append(df: DataFrame, path: str) -> None:
    df.write.mode("append").partitionBy("z").parquet(path)


class _Commit:
    """One exactly-once commit unit of the store: tile and leaf rows are
    staged in ``_staging/{tiles,leaves}_<stage>`` and published by one
    directory rename each to ``{tiles,leaves}/level=<final>``.  Staging
    and final dirs left by a crashed attempt (no commit record: safe to
    discard and recompute) are removed up front.  Leaves publish first,
    so a crash between the renames leaves only an orphan leaves dir."""

    def __init__(self, out_dir: str, stage: str, final: str):
        self.stg_tiles = os.path.join(out_dir, "_staging", f"tiles_{stage}")
        self.stg_leaves = os.path.join(out_dir, "_staging", f"leaves_{stage}")
        self.fin_tiles = os.path.join(out_dir, "tiles", f"level={final}")
        self.fin_leaves = os.path.join(out_dir, "leaves", f"level={final}")
        for p in (self.stg_tiles, self.stg_leaves, self.fin_tiles,
                  self.fin_leaves):
            shutil.rmtree(p, ignore_errors=True)

    def publish(self) -> None:
        for stg, fin in ((self.stg_leaves, self.fin_leaves),
                         (self.stg_tiles, self.fin_tiles)):
            if os.path.isdir(stg):
                os.makedirs(os.path.dirname(fin), exist_ok=True)
                os.rename(stg, fin)


class _StoreSink:
    """run_levels sink of CheckpointedPyramid: each level's rendered tile
    rows, stats rows and leaf features go to a ``_Commit``, its children
    to ``frontier/level_<N+1>`` (the resume point), and the level
    manifest is written after the publish."""

    def __init__(self, cp: "CheckpointedPyramid", out_dir: str):
        self.cp = cp
        self.out = out_dir

    def begin(self, level):
        self.t0, self.tick0 = time.time(), cpu_ticks()
        self.c = _Commit(self.out, f"level_{level}", f"L{level}")
        self.ns: dict = {}
        self.n_fused = self.n_leaf_fused = self.nf_fused = 0

    def _frontier_dir(self, level):
        return os.path.join(self.out, "frontier", f"level_{level + 1}")

    def level(self, level, step2=None, fuse=None, leaves=None,
              children=False):
        cagg = pd.DataFrame(columns=CAGG_COLS)
        if step2 is not None:
            # wave 1 — the heavy write; materializes step2 (and fr) so the
            # follow-up actions scan cached data
            _append(_feature_rows(step2), self.c.stg_tiles)

            # wave 2 — independent actions over the cached data run as
            # concurrent jobs, each writing its own directory (concurrent
            # appends to one directory would race in the committer):
            # per-tile render counters, the next level's partials, the
            # children frontier and the leaf features
            rend = step2.filter(F.col("row_kind") == RS_RENDER)
            jobs = [lambda: rend.groupBy("z", "x", "y").agg(
                F.sum("n_emitted").alias("ns"),
                F.sum((F.col("sub_idx") >= 0).cast("long")).alias("nf"),
            ).toPandas()]
            if children:
                jobs.append(lambda: step2.filter(
                    F.col("row_kind") == RS_CAGG
                ).select(*CAGG_COLS).toPandas())
                jobs.append(lambda: step2.filter(
                    F.col("row_kind") == RS_CHILD
                ).select(*TILED_COLS).write.mode("overwrite").parquet(
                    self._frontier_dir(level)))
            if leaves is not None:
                jobs.append(lambda: self.leaves(level, leaves))
            with ThreadPoolExecutor(len(jobs)) as ex:
                res = [f.result() for f in [ex.submit(j) for j in jobs]]
            self.ns = {
                (int(r.z), int(r.x), int(r.y)): (int(r.ns), int(r.nf))
                for r in res[0].itertuples(index=False)
            }
            if children:
                cagg = res[1]
        if fuse is not None:
            # fused subtrees, from one cached pass: the leaves write (it
            # fills the cache), one collection of the fused tiles'
            # partials (a tile without retained rows stopped at max zoom
            # or holds no features), then the feature rows written with
            # the tiles' stats rows — the stats rows need no write of
            # their own
            step = fuse.persist()
            self.leaves(level, step.filter(
                F.col("row_kind") == RS_LEAF).select(*TILED_COLS))
            st = _tile_partials(step)
            stats = [
                _stats_row(int(r.z), int(r.x), int(r.y), int(r.num_points),
                           int(r.n_emitted), "leaf" if r.n_leaf else "stop")
                for r in st.itertuples(index=False)
            ]
            _append(_feature_rows(step).unionByName(
                self.cp.spark.createDataFrame(stats, TILE_STORE_DDL)
            ), self.c.stg_tiles)
            step.unpersist()
            self.n_fused = len(st)
            self.n_leaf_fused = int(st["n_leaf"].sum())
            self.nf_fused = int(st["nf"].sum())
        return cagg, self.n_fused

    def leaves(self, level, df):
        _append(df, self.c.stg_leaves)

    def commit(self, level, tiles, pending, n_children, n_leaf):
        # per-tile stats rows: num_points from the decision partials,
        # num_simplified from the render counters (the fused tiles' rows
        # were written with their features)
        stats = [
            _stats_row(z, x, y, tnp, self.ns.get((z, x, y), (0, 0))[0], a)
            for z, x, y, a, tnp, _ in tiles
        ]
        if stats:
            _append(self.cp.spark.createDataFrame(stats, TILE_STORE_DDL),
                    self.c.stg_tiles)
        if not n_children:
            shutil.rmtree(self._frontier_dir(level), ignore_errors=True)
        self.c.publish()
        self.cp._commit_manifest(
            self.out,
            f"level_{level}",
            dict(
                level=level,
                n_tiles=len(stats) + self.n_fused,
                n_tile_feature_rows=sum(nf for _, nf in self.ns.values())
                + self.nf_fused,
                n_leaf_feature_rows=int(n_leaf) + self.n_leaf_fused,
                n_children=n_children,
                pending_children=pending,
                wall_sec=round(time.time() - self.t0, 3),
                steal_frac=steal_frac(self.tick0, cpu_ticks()),
            ),
            self.c.fin_tiles,
            self.c.fin_leaves,
        )


class CheckpointedPyramid:
    """Distributed pyramid with per-level parquet checkpoints.

    Layout under ``out_dir``:
      tiles/z=*/          rendered tile rows (partition-pruned get_tile)
      leaves/z=*/         retained leaf source features (drill-down input)
      frontier/level_N/   the N-th level's input features (resume point)
      _manifests/level_N.json  lineage: row counts per kind, wall time

    Write semantics are EXACTLY-ONCE per level: every write of a level
    lands in ``_staging/`` first, then one atomic directory rename
    publishes it as ``tiles/level=L<N>`` / ``leaves/level=L<N>`` and the
    manifest is written last.  On resume, staging leftovers and published
    level dirs without a manifest are removed before the level recomputes
    (deterministic content), so readers never see duplicates and need no
    dedupe.  With ``iceberg=True`` (pyiceberg required — absent in this
    container) a real snapshot commit subsumes the JSON manifest as the
    commit point (plans/iceberg_sink.py).  ``level`` is a string
    partition column readers may ignore; ``z`` remains a partition
    column so point lookups still prune.
    """

    def __init__(
        self,
        spark: SparkSession,
        options: Optional[Options] = None,
        iceberg: bool = False,
        catalog_kwargs: Optional[dict] = None,
    ):
        """``iceberg=True`` layers real snapshot commits over the level
        publishes (plans/iceberg_sink.py): files are still written
        distributed + renamed into place, but the Iceberg snapshot is
        the commit point and carries the manifest; the JSON manifest
        becomes a read cache written after the commit.  Requires
        pyiceberg (ImportError otherwise — absent in this container, so
        the staged-rename protocol below is the tested default)."""
        self.spark = spark
        self.options = options or Options()
        self._iceberg = iceberg
        self._catalog_kwargs = catalog_kwargs
        self._sinks: dict = {}
        # per-store memo of the tile keys (the reference's in-memory tile
        # memo, lib.rs:145-150) and of the keys of the tiles that retain
        # leaf features: loaded together with ONE stats-row job
        # (_tile_keys), extended by each drill of THIS object (a drill
        # only adds tiles) and invalidated by each level commit.  Exists
        # purely to avoid re-scanning per lookup; external writers are
        # out of scope (same single-writer contract as the staged-rename
        # protocol).
        self._keys: dict = {}
        self._leaf_keys: dict = {}
        # warm-lookup memo: (out_dir, z, x, y) -> persisted ranked tile DF
        # (the reference's warm get_tile is a dict hit, lib.rs:193-195;
        # without this every repeat read pays the one-tile rank window).
        # Bounded LRU; kept across drills (a drill never changes a
        # published tile), invalidated with _keys by each level commit.
        self._tile_dfs: dict = {}
        self._tile_dfs_cap = 256

    def _sink(self, out_dir: str):
        if not self._iceberg:
            return None
        if out_dir not in self._sinks:
            from geojson_vt_rs_spark.plans.iceberg_sink import IcebergTileSink

            self._sinks[out_dir] = IcebergTileSink(
                out_dir, self._catalog_kwargs
            )
        return self._sinks[out_dir]

    def _commit_manifest(
        self, out_dir: str, name: str, payload: dict,
        tiles_dir: str = "", leaves_dir: str = "",
    ) -> None:
        sink = self._sink(out_dir)
        if sink is not None:
            # snapshot commit FIRST (the commit point); JSON after (cache)
            if leaves_dir and os.path.isdir(leaves_dir):
                sink.commit_level(
                    "leaves", leaves_dir, dict(payload, table="leaves")
                )
            sink.commit_level(
                "tiles",
                tiles_dir if os.path.isdir(tiles_dir) else "",
                payload,
            )
        _write_manifest(out_dir, name, payload)
        self._invalidate_memos(out_dir)  # tile set changed; reload lazily

    def _invalidate_memos(self, out_dir: str) -> None:
        self._keys.pop(out_dir, None)
        self._leaf_keys.pop(out_dir, None)
        for k in [k for k in self._tile_dfs if k[0] == out_dir]:
            self._tile_dfs.pop(k).unpersist()

    def _get_manifest(self, out_dir: str, name: str) -> Optional[dict]:
        m = _read_manifest(out_dir, name)
        if m is None and self._iceberg and name.startswith("level_"):
            sink = self._sink(out_dir)
            m = sink.read_manifest("tiles", int(name.split("_")[1]))
            if m is not None:
                _write_manifest(out_dir, name, m)  # restore the cache
        return m

    def run(
        self, features_df: DataFrame, out_dir: str,
        raw_npts: Optional[int] = None,
    ) -> dict:
        """Build the pyramid into ``out_dir`` with run_levels
        (plans/pyramid.py), or resume it from the first level without a
        manifest.  ``raw_npts`` (optional): the input's total RAW point
        count — lets the fresh level-0 gate skip its one cheap JVM sum
        over ``features_df``."""
        spark = self.spark
        os.makedirs(out_dir, exist_ok=True)
        _sweep_drill_orphans(out_dir)
        sink = _StoreSink(self, out_dir)
        level = 0
        while self._get_manifest(out_dir, f"level_{level}") is not None:
            level += 1
        if level == 0:
            run_levels(spark, self.options, sink, features_df=features_df,
                       raw_npts=raw_npts)
            return self.summary(out_dir)
        m = self._get_manifest(out_dir, f"level_{level - 1}")
        pending = [tuple(c) for c in m.get("pending_children", [])]
        if m["n_children"] or pending:
            # no children rows but pending ones: a turn records them
            frontier = spark.read.parquet(
                os.path.join(out_dir, "frontier", f"level_{level}")
            ) if m["n_children"] else None
            run_levels(spark, self.options, sink, frontier=frontier,
                       pending=pending, level=level)
        return self.summary(out_dir)


    def summary(self, out_dir: str) -> dict:
        levels = []
        i = 0
        while (m := self._get_manifest(out_dir, f"level_{i}")) is not None:
            levels.append(m)
            i += 1
        return dict(
            levels=len(levels),
            total_tiles=sum(m["n_tiles"] for m in levels),
            total_tile_rows=sum(m["n_tile_feature_rows"] for m in levels),
            manifests=levels,
        )

    def read_tile(self, out_dir: str, z: int, x: int, y: int) -> DataFrame:
        """Partition-pruned point lookup on the tiles table (get_tile
        memo-hit path, lib.rs:193-195).  feature_idx is derived HERE from
        the persisted deterministic order-key columns — the output is one
        tile, so the rank window is a single tiny partition.  (Ranking at
        write time would funnel the entire dataset through 1-4 tasks at
        z0/z1 — the scale-killer removed in round 4.)  Repeat reads of
        the same tile hit a persisted per-(z,x,y) memo (bounded LRU,
        invalidated on publish) so the warm path pays no parquet scan or
        rank job — the reference's warm get_tile dict hit."""
        from pyspark.sql import Window

        key = (out_dir, z, x, y)
        cached = self._tile_dfs.get(key)
        if cached is not None:
            # refresh LRU position
            self._tile_dfs[key] = self._tile_dfs.pop(key)
            return cached
        w = Window.partitionBy("z", "x", "y").orderBy(
            "world_copy", "feature_seq", "slice_path", "sub_idx"
        )
        df = (
            self.spark.read.parquet(os.path.join(out_dir, "tiles"))
            .filter((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y))
            .filter(F.col("type").isNotNull())
            .withColumn("feature_idx", F.row_number().over(w) - 1)
            .drop("world_copy", "feature_seq", "slice_path", "sub_idx")
            .orderBy("feature_idx")
            .persist()
        )
        while len(self._tile_dfs) >= self._tile_dfs_cap:
            old = next(iter(self._tile_dfs))
            self._tile_dfs.pop(old).unpersist()
        self._tile_dfs[key] = df
        return df

    def _tile_keys(self, out_dir: str) -> set:
        """All existing tile keys, from the per-tile stats rows
        (feature_idx == -1 — exactly one per tile) in ONE pushed-filter
        scan that also loads ``_leaf_keys``, the tiles that retain leaf
        features (action 'leaf'); cached until this object commits a
        level, extended by its drills."""
        keys = self._keys.get(out_dir)
        if keys is None:
            tiles_root = os.path.join(out_dir, "tiles")
            keys, leaves = set(), set()
            if os.path.isdir(tiles_root):
                pdf = (
                    self.spark.read.parquet(tiles_root)
                    .filter(F.col("feature_idx") == -1)
                    .select("z", "x", "y", "action")
                    .toPandas()
                )
                for r in pdf.itertuples(index=False):
                    key = (int(r.z), int(r.x), int(r.y))
                    keys.add(key)
                    if r.action == "leaf":
                        leaves.add(key)
            self._keys[out_dir], self._leaf_keys[out_dir] = keys, leaves
        return keys

    def get_tile(self, out_dir: str, z: int, x_: int, y: int) -> DataFrame:
        """Full get_tile semantics on the parquet store (lib.rs:184-223):
        memo-hit -> pruned read; miss -> drill down from the nearest
        memoized ancestor (find_parent, shared with the in-memory index)
        when it retains leaf features, append the newly created tiles
        (and their leaves) to the store, then read.  Returns the tile's
        feature rows (possibly empty = EMPTY_TILE)."""
        o = self.options
        if z > o.max_zoom:
            raise ValueError(f"Requested zoom higher than maxZoom: {z}")
        _sweep_drill_orphans(out_dir)
        z2 = 1 << z
        x = ((x_ % z2) + z2) % z2
        tile_keys = self._tile_keys(out_dir)
        if (z, x, y) in tile_keys:
            return self.read_tile(out_dir, z, x, y)
        root = find_parent(z, x, y, lambda *k: k in tile_keys)
        if root not in self._leaf_keys[out_dir]:
            # no ancestor, or a feature-less one -> EMPTY
            return self.read_tile(out_dir, z, x, y)

        # drill DISTRIBUTED: tiles and leaves stream from the executors
        # straight into the staging dirs, committed like a level
        rz, rx, ry = root
        leaf = self.spark.read.parquet(os.path.join(out_dir, "leaves")).filter(
            (F.col("z") == rz) & (F.col("x") == rx) & (F.col("y") == ry)
        )
        tag = f"drill_{z}_{x}_{y}"
        commit = _Commit(out_dir, tag, tag)
        tiles, leafy = self._drill(leaf, root, (z, x, y), commit)
        commit.publish()
        # the drill only added tiles below its root: extend the key
        # memos, keep the read_tile memo
        tile_keys.update(tiles)
        self._leaf_keys[out_dir] |= leafy
        return self.read_tile(out_dir, z, x, y)

    def _drill(
        self, leaf: DataFrame, root: tuple, target: tuple, commit: _Commit,
    ) -> tuple:
        """Target-directed descent from the ancestor's retained leaves:
        non-path tiles stop and retain (lib.rs:324-338), the path tile
        splits until the target — the whole descent is ONE feature-
        parallel pass (plans/pyramid.py drill_pass), the one the
        in-memory index's get_tile runs too.  The rendered tile features
        (~85 % of the pass's output rows) sink to the staging parquet
        IN-KERNEL (drill_descend_stage ``tile_sink``: idempotent per-task
        files) — they never cross the Python->JVM boundary and need no
        write job.  ``root`` is the only stored tile the pass touches,
        and it emits none of root's rows.  Stats rows are finished
        driver-side from the pass's per-tile partials; a new tile with
        retained rows records action 'leaf', the rest 'drill'.  Returns
        the new tile keys and the set of those that are leaves."""
        spark = self.spark
        step = drill_pass(
            spark, leaf, self.options, root, target,
            tile_sink=commit.stg_tiles,
        ).persist()

        # one wave: leaf write + partials collection run as concurrent
        # jobs over the cached pass (the tile files appear as a side
        # effect of whichever job computes it first; duplicated
        # concurrent compute re-writes identical files atomically)
        leaves = step.filter(F.col("row_kind") == RS_LEAF).select(*TILED_COLS)
        with ThreadPoolExecutor(2) as ex:
            lf = ex.submit(_append, leaves, commit.stg_leaves)
            sf = ex.submit(_tile_partials, step)
            lf.result()
            partials = sf.result()
        step.unpersist()
        leafy = {
            (int(r.z), int(r.x), int(r.y))
            for r in partials.itertuples(index=False) if r.n_leaf
        }
        tiles = drill_tiles(partials, root, target)
        stats_rows = [
            _stats_row(*t, "leaf" if t[:3] in leafy else "drill")
            for t in tiles
        ]
        if stats_rows:
            _append(spark.createDataFrame(stats_rows, TILE_STORE_DDL),
                    commit.stg_tiles)
        return [t[:3] for t in tiles], leafy


def checkpointed_mosaic(
    images_pts: DataFrame,
    zoom: int,
    out_dir: str,
    n_buckets: int = 8,
) -> dict:
    """Raster mosaic sharded into hash buckets of tiles; each bucket is a
    separately-committed unit of progress with row-count lineage."""
    from geojson_vt_rs_spark.plans.spatial import mosaic_tiles

    os.makedirs(out_dir, exist_ok=True)
    done = []
    for b in range(n_buckets):
        name = f"mosaic_bucket_{b}"
        m = _read_manifest(out_dir, name)
        if m is not None:
            done.append(m)
            continue
        t0 = time.time()
        part = images_pts.filter(
            F.pmod(F.col("cx") * 31 + F.col("cy"), F.lit(n_buckets)) == b
        )
        tiles = mosaic_tiles(part, zoom).persist()
        stats = tiles.agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.coalesce(F.sum("n_images"), F.lit(0)).alias("n_images"),
            F.coalesce(F.sum("src_bytes"), F.lit(0)).alias("src_bytes"),
        ).collect()[0]
        tiles.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={b}")
        )
        tiles.unpersist()
        m = dict(
            bucket=b,
            n_tiles=int(stats["n_tiles"]),
            n_images=int(stats["n_images"]),
            src_bytes=int(stats["src_bytes"]),
            wall_sec=round(time.time() - t0, 3),
        )
        _write_manifest(out_dir, name, m)
        done.append(m)
    return dict(
        buckets=len(done),
        n_tiles=sum(m["n_tiles"] for m in done),
        n_images=sum(m["n_images"] for m in done),
        manifests=done,
    )
