"""Checkpointed, resumable production pipelines.

Two write paths, both idempotent-resume via per-partition JSON manifests
carrying lineage + row-count metrics (north_rule: "checkpoints per-tile-
partition progress with lineage + row-count metrics for resumability"):

* CheckpointedPyramid — the distributed tile pyramid.  Its own level
  loop (``_build``) drives plans/pyramid.py's rules and passes and
  writes tiles / leaf-features / next-level frontiers as parquet per
  level; a level's manifest is written only after all its outputs
  land, so a killed job resumes from the first level without a
  manifest, re-reading the last persisted frontier (no recompute of
  completed levels).

* checkpointed_mosaic — the raster mosaic sharded into hash buckets of
  cells; completed buckets are skipped on resume.

Everything is written with deterministic content, so a resumed run
produces byte-identical outputs to an uninterrupted one.

Filesystem contract.  Every commit is staged, then published by rename:
the tasks of a level or drill pass write that commit's rows themselves —
rendered features to ``<out_dir>/_staging/tiles_<commit>``, retained
leaf rows to ``_staging/leaves_<commit>``, and a level's child rows to
``frontier/level_<N+1>`` (operators/pipeline.py ``_TaskWriter``, one
method per destination: ``features``, ``leaves``, ``children``; one
pyarrow file per (task, pass, z) under a deterministic name, written to a
dot-prefixed temp name and ``os.replace``d into place, so a retried task
rewrites the same file).  The driver writes the commit's stats rows the
same way (``_write_stats``), publishes the staged tables with one
``os.rename`` each (``_Commit``) and writes the manifest to a temp file
it ``os.replace``s into place.  Before a level's pass runs, the driver
removes that level's staging dirs and the frontier dir the pass writes,
so no file of an earlier attempt survives.  The store also READS
itself with pyarrow: a render/split level's tasks read the frontier
files the previous level's tasks wrote (operators/pipeline.py
``frontier_files`` lists them on the driver, ``_frontier_reader`` reads
them in the task); a drill's tasks read its root's
``leaves/level=*/z=<rz>`` files (``_root_reader``, listed after
``_sweep_drill_orphans``); and the driver reads the stats files for the
key memo (``_tile_keys``) and a tile's ``tiles/level=*/z=<z>`` files for
``read_tile``.  Like Spark's file index, every listing skips names that
start with '.' or '_', so a temp file a killed writer left behind is
never read.  Only a level with 'fuse' tiles still scans its frontier in
the JVM (``_read_frontier``).
So ``out_dir`` must be ONE shared POSIX path: the same directory for
the driver and every executor, with atomic rename within it.  Local
mode and a shared POSIX mount satisfy this; an object store without
atomic rename does not.
The in-memory index (plans/pyramid.py SparkGeoJSONVT) is this store,
built and drilled in a ``tempfile.TemporaryDirectory`` on the driver:
every session of this engine is ``local[N]`` (operators/session.py), so
that driver-local directory is such a path.  Only the writer (task
side) and this module (driver side) know where a pass's rows go.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from functools import reduce
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.operators.pipeline import (
    PARTIAL_SCHEMA,
    TaskSink,
    _convert_wrap_kernel,
    _render_split_kernel,
    frontier_files,
    render_split_stage,
    tile_rows,
    write_parquet,
    z_part_schema,
)
from geojson_vt_rs_spark.operators.schema import (
    TILE_STORE_SCHEMA,
    TILED_FEATURE_SCHEMA,
)
from geojson_vt_rs_spark.plans.pyramid import (
    _children,
    _subtree_kernel,
    decide,
    decisions_df,
    drill_pass,
    drill_tiles,
    find_parent,
    fuse_bound,
    fused_stage,
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
    """A tile's stats row (feature_idx -1) in TILE_STORE_SCHEMA order."""
    return (z, x, y, -1, None, None, None, None, None, None, None, tnp, ns,
            action, None, None, None, None)


def _write_stats(stg_tiles: str, rows: list) -> None:
    """A commit's stats rows -> one pyarrow file per z in its staged
    tiles dir, written by the driver: stats rows need no Spark job."""
    import pyarrow as pa

    schema = z_part_schema(TILE_STORE_SCHEMA)
    by_z: dict = {}
    for r in rows:
        by_z.setdefault(r[0], []).append(r[1:])
    for z, rs in by_z.items():
        write_parquet(
            os.path.join(stg_tiles, f"z={z}"), "stats.parquet",
            pa.Table.from_pydict(dict(zip(schema.names, zip(*rs))), schema),
        )


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


def _collect(*passes) -> tuple:
    """Run a level's passes (None: absent) as its one Spark job.
    Returns the render pass's child and parent partials (sub_idx NULL /
    -1) and, per tile the level rendered, (num_points, num_simplified,
    nf, n_leaf, fused): its own partials summed over tasks."""
    got = reduce(DataFrame.unionByName,
                 [p for p in passes if p is not None]).toPandas()
    own = (got["sub_idx"] >= 0).to_numpy()
    per_tile = got.loc[own].groupby(["z", "x", "y"]).agg(
        tnp=("num_points", "sum"), ns=("n_emitted", "sum"),
        nf=("nf", "sum"), n_leaf=("n_leaf", "sum"),
        fused=("sub_idx", "max"),
    )
    return got.loc[~own], {
        (int(z), int(x), int(y)): tuple(int(v) for v in vals)
        for (z, x, y), *vals in per_tile.itertuples()
    }


# read_tile's order keys: a tile's rows rank in this order (feature_idx)
_ORDER_KEYS = ("world_copy", "feature_seq", "slice_path", "sub_idx")

# read_tile's rows: the tiles table's columns without the order keys,
# feature_idx the non-null rank, then the level and z dir columns (the
# columns and types a Spark scan of tiles/ plus a row_number had)
TILE_DF_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, f.name != "feature_idx")
     for f in TILE_STORE_SCHEMA.fields
     if f.name != "z" and f.name not in _ORDER_KEYS]
    + [T.StructField("level", T.StringType()),
       T.StructField("z", T.IntegerType())]
)


def _z_dirs(out_dir: str, table: str, z: int) -> list:
    """The ``<table>/level=*/z=<z>`` dirs of a store, sorted; like a
    Spark scan, level dirs with hidden names ('.', '_') are skipped."""
    root = os.path.join(out_dir, table)
    if not os.path.isdir(root):
        return []
    return sorted(
        d for e in os.listdir(root) if not e.startswith((".", "_"))
        if os.path.isdir(d := os.path.join(root, e, f"z={z}"))
    )


def _frontier_dir(out_dir: str, level: int) -> str:
    return os.path.join(out_dir, "frontier", f"level_{level}")


def _read_frontier(spark: SparkSession, out_dir: str, level: int) -> DataFrame:
    """The input rows (TILED_COLS) of ``level``, where the previous
    level's tasks wrote them, as a JVM scan: the fused pass's input (its
    shuffle clusters each 'fuse' tile's rows); the render pass's tasks
    read the same files themselves."""
    return spark.read.schema(TILED_FEATURE_SCHEMA).parquet(
        _frontier_dir(out_dir, level))


def _start_level(out_dir: str, level: int) -> tuple:
    """A level's ``_Commit``, the TaskSink every pass of the level writes
    to (the frontier dir it writes cleared first) and its start clock
    (wall, cpu_ticks)."""
    clock = time.time(), cpu_ticks()
    commit = _Commit(out_dir, f"level_{level}", f"L{level}")
    fdir = _frontier_dir(out_dir, level + 1)
    shutil.rmtree(fdir, ignore_errors=True)
    return commit, TaskSink(commit.stg_tiles, commit.stg_leaves, fdir), clock


class CheckpointedPyramid:
    """Distributed pyramid with per-level parquet checkpoints.

    Layout under ``out_dir``:
      tiles/level=*/z=*/  rendered tile rows, plus one stats.parquet of
                          the commit's stats rows (read_tile reads one z)
      leaves/level=*/z=*/ retained leaf source features (drill input)
      frontier/level_N/   the N-th level's input features (resume point)
      _manifests/level_N.json  lineage: row counts per kind, wall time

    Write semantics are EXACTLY-ONCE per level: every write of a level
    lands in ``_staging/`` first, then one atomic directory rename
    publishes it as ``tiles/level=L<N>`` / ``leaves/level=L<N>`` and the
    manifest is written last.  On resume, staging leftovers and published
    level dirs without a manifest are removed before the level recomputes
    (deterministic content), so readers never see duplicates and need no
    dedupe.  ``level`` is a string partition column readers may ignore;
    ``z`` remains a partition column so point lookups still prune.
    """

    def __init__(self, spark: SparkSession, options: Optional[Options] = None):
        self.spark = spark
        self.options = options or Options()
        # per-store memo of the tile keys (the reference's in-memory tile
        # memo, lib.rs:145-150) and of the keys of the tiles that retain
        # leaf features: loaded together from the stats files on the
        # driver (_tile_keys), extended by each drill of THIS object (a drill
        # only adds tiles) and invalidated by each level commit.  Exists
        # purely to avoid re-scanning per lookup; external writers are
        # out of scope (same single-writer contract as the staged-rename
        # protocol).
        self._keys: dict = {}
        self._leaf_keys: dict = {}
        # warm-lookup memo: (out_dir, z, x, y) -> the tile's DataFrame
        # (the reference's warm get_tile is a dict hit, lib.rs:193-195;
        # without this every repeat read re-reads and re-sorts the tile).
        # Bounded LRU; kept across drills (a drill never changes a
        # published tile), invalidated with _keys by each level commit.
        self._tile_dfs: dict = {}
        self._tile_dfs_cap = 256

    def _invalidate_memos(self, out_dir: str) -> None:
        self._keys.pop(out_dir, None)
        self._leaf_keys.pop(out_dir, None)
        for k in [k for k in self._tile_dfs if k[0] == out_dir]:
            self._tile_dfs.pop(k)

    def run(
        self, features_df: DataFrame, out_dir: str,
        raw_npts: Optional[int] = None,
    ) -> dict:
        """Build the pyramid into ``out_dir`` (``_build``), or resume it
        from the first level without a manifest.  ``raw_npts``
        (optional): the input's total RAW point count — lets the fresh
        level-0 gate skip its one cheap JVM sum over ``features_df``."""
        os.makedirs(out_dir, exist_ok=True)
        _sweep_drill_orphans(out_dir)
        level = 0
        while _read_manifest(out_dir, f"level_{level}") is not None:
            level += 1
        if level == 0:
            self._build(out_dir, features_df, raw_npts)
            return self.summary(out_dir)
        m = _read_manifest(out_dir, f"level_{level - 1}")
        pending = [tuple(c) for c in m.get("pending_children", [])]
        partials = [tuple(p) for p in m.get("next_partials", [])]
        if m["n_children"] and not partials:
            raise ValueError(f"{out_dir}: level {level - 1}'s manifest "
                             "lacks next_partials; rebuild the store")
        if partials or pending:
            # no children rows but pending ones: a turn records them
            self._build(out_dir, partials=partials, pending=pending,
                        level=level)
        return self.summary(out_dir)

    def _build(
        self,
        out_dir: str,
        features_df: Optional[DataFrame] = None,
        raw_npts: Optional[int] = None,
        partials=(),
        pending=(),
        level: int = 0,
    ) -> None:
        """The pyramid's level loop, decision-first, one level per turn:

        1. per-tile (num_points, rows) — the ONLY per-tile state the stop
           predicate needs (lib.rs:305-313) — finished driver-side from
           the previous turn's map-side child partials (a resumed build:
           from its last manifest), so a level needs no decision agg job;
        2. ``decide`` per tile (index-sized, on the driver);
        3. rendering and child clipping run per ROW (render_split_stage)
           — a z0 root with millions of features stays fully parallel;
           only bounded 'fuse' groups run whole subtrees (fused_stage).

        Every pass of a level writes its tiles and leaves to the level's
        ``_Commit`` and its children to ``frontier/level_<N+1>`` (the
        next level's input and the resume point) from the tasks, and
        returns only its partials: collecting them is the level's one
        Spark job (``_start_level``, ``_collect``, ``_publish_level``).
        The render pass of a later level reads ``frontier/level_<N>``
        in its own tasks, its 'leaf' / 'split' actions in the task
        closure, so no frontier row crosses the JVM; only a level with
        'fuse' tiles scans its frontier in the JVM (``_read_frontier``),
        joins the 'fuse' decisions and shuffles those rows by tile.

        A fresh build passes the raw ``features_df``; the FIRST level
        then skips the decision agg, which would materialize the whole
        convert+wrap output before any rendering: raw points
        (``raw_npts``, one JVM sum when absent) <= fuse_bound route the
        whole build into one fused task (converted tnp <= 3*raw: wrap at
        most triples dateline-straddling features); larger inputs render
        the root in one wave and finish its decision from parent
        partials emitted in the same wave.  A root that is a leaf by
        structure (index_max_zoom 0) renders as a leaf; any other root
        renders+splits OPTIMISTICALLY, and in the (rare) case it was not
        really a split the first wave runs again with action 'leaf'
        (its level's staged files and frontier cleared first, as for
        every level).  A resumed build passes the ``partials`` ((z, x,
        y, num_points, rows) of its next level's tiles, empty when only
        empty children are left), the previous level's ``pending``
        children and ``level``."""
        o = self.options
        first_wave = None
        if features_df is not None:
            if raw_npts is None:
                raw_npts = features_df.agg(F.sum("num_points")).collect()[0][0]
            cw = _convert_wrap_kernel(
                (o.tile.tolerance / o.tile.extent) / (1 << o.max_zoom),
                o.generate_id, o.tile.buffer / o.tile.extent,
                o.tile.line_metrics,
            )
            if int(raw_npts or 0) <= fuse_bound(o):
                # raw-gated fuse: convert+wrap chained straight into the
                # subtree kernel in ONE mapInPandas over ONE coalesced
                # input partition (one Python runner invocation; a grouped
                # path pays a decisions broadcast, a cache build and a
                # shuffle, and frontier.coalesce(1) re-initialized the
                # Python runner once per upstream partition: 4 s of
                # overhead for a 0.15 s kernel on us-states)
                commit, ts, clock = _start_level(out_dir, level)
                sub = _subtree_kernel(o, ts)
                own = _collect(features_df.coalesce(1).mapInPandas(
                    lambda batches: sub(tile_rows(cw(batches), (0, 0, 0))),
                    schema=PARTIAL_SCHEMA,
                ))[1]
                # an empty or fully-dropped input still creates the root
                # (lib.rs:265-295: insert precedes the early return)
                root = [] if own else [(0, 0, 0, "empty", 0)]
                self._publish_level(out_dir, level, commit, clock, root, own)
                return
            # the first turn is ONE Python pass over the raw input:
            # convert+wrap chained into the render/split kernel with the
            # root's (z, x, y, action) columns synthesized in-kernel (no
            # decision join; two chained mapInPandas would each pay the
            # JVM<->worker serde of the whole table)
            first_wave = "leaf" if o.index_max_zoom == 0 else "split"
        pending = list(pending)
        while True:
            commit, ts, clock = _start_level(out_dir, level)
            if first_wave:
                decisions = [(0, 0, 0, first_wave, None)]
            else:
                decisions = [
                    (z, x, y, decide(o, z, x, y, tnp), tnp)
                    for z, x, y, tnp, _ in partials
                ]
            seen = {d[:3] for d in decisions}
            # children of the previous level's split parents that got no
            # features -> empty tiles (lib.rs:344-428)
            tiles = [
                (z, x, y, "empty", 0) for z, x, y in pending
                if (z, x, y) not in seen
            ]
            own, split, nxt = {}, [], []
            if decisions:
                step2 = fuse = None
                if first_wave:
                    rs, act = _render_split_kernel(o, ts, True), first_wave
                    step2 = features_df.mapInPandas(
                        lambda batches: rs(
                            tile_rows(cw(batches), (0, 0, 0), act)),
                        schema=PARTIAL_SCHEMA,
                    )
                else:
                    # the render pass's tasks read the frontier files
                    # themselves; only 'fuse' rows go through the JVM,
                    # whose shuffle clusters each fused tile's rows
                    rest = {d[:3]: d[3] for d in decisions if d[3] != "fuse"}
                    fused = [d[:4] for d in decisions if d[3] == "fuse"]
                    if rest:
                        step2 = render_split_stage(
                            self.spark, _frontier_dir(out_dir, level), rest,
                            o, ts)
                    if fused:
                        fuse = fused_stage(
                            _read_frontier(self.spark, out_dir, level).join(
                                F.broadcast(decisions_df(self.spark, fused)),
                                ["z", "x", "y"]),
                            o, ts)
                cagg, own = _collect(step2, fuse)
                if first_wave:
                    # finish the deferred root decision from the wave's
                    # own parent partials (sub_idx == -1 rows)
                    pm = (cagg["sub_idx"] == -1).to_numpy()
                    root, cagg = cagg.loc[pm], cagg.loc[~pm]
                    act, first_wave = first_wave, None
                    tnp = int(root["num_points"].sum())
                    if root.empty:
                        # empty (or fully-dropped) input: the root tile
                        # still exists (lib.rs:265-295)
                        decisions = [(0, 0, 0, "empty", 0)]
                    elif act == "split" and decide(o, 0, 0, 0, tnp) == "leaf":
                        # mispredicted: the root is really a leaf (decide
                        # reads only num_points) — run the first wave
                        # again with action 'leaf'
                        first_wave = "leaf"
                        continue
                    else:
                        # a 'fuse' root already rendered+split: its
                        # children run as a real level (and fuse there)
                        decisions = [(0, 0, 0, act, tnp)]
                split = [d[:3] for d in decisions if d[3] == "split"]
                nxt = [
                    (int(r.z), int(r.x), int(r.y), int(r.tnp), int(r.rows))
                    for r in cagg.groupby(["z", "x", "y"], as_index=False)
                    .agg(tnp=("num_points", "sum"), rows=("n_emitted", "sum"))
                    .itertuples(index=False)
                ] if split else []
            pending = _children(split)
            self._publish_level(
                out_dir, level, commit, clock,
                tiles + [d for d in decisions if d[3] != "fuse"],
                own, pending, nxt,
            )
            if not split:
                return
            level += 1
            partials = nxt

    def _publish_level(self, out_dir, level, commit, clock, tiles, own,
                       pending=(), nxt=()) -> None:
        """Finish a level: write its stats rows, publish its commit, then
        write its manifest.  ``tiles``: (z, x, y, action, num_points) of
        every non-fused tile, empty children first (action 'empty'), its
        num_simplified from the render counters ``own`` (see
        ``_collect``); the fused tiles' stats come from their own
        partials (a tile without retained rows stopped at max zoom or
        holds no features).  ``nxt``: the next level's (z, x, y,
        num_points, rows)."""
        stats = [
            _stats_row(z, x, y, tnp, own.get((z, x, y), (0, 0))[1], a)
            for z, x, y, a, tnp in tiles
        ] + [
            _stats_row(*k, tnp, ns, "leaf" if n_leaf else "stop")
            for k, (tnp, ns, _, n_leaf, fused) in own.items() if fused
        ]
        _write_stats(commit.stg_tiles, stats)
        commit.publish()
        _write_manifest(out_dir, f"level_{level}", dict(
            level=level,
            n_tiles=len(stats),
            n_tile_feature_rows=sum(t[2] for t in own.values()),
            n_leaf_feature_rows=sum(t[3] for t in own.values()),
            n_children=sum(p[4] for p in nxt),
            next_partials=[list(p) for p in nxt],
            pending_children=list(pending),
            wall_sec=round(time.time() - clock[0], 3),
            steal_frac=steal_frac(clock[1], cpu_ticks()),
        ))
        self._invalidate_memos(out_dir)  # tile set changed; reload lazily

    def summary(self, out_dir: str) -> dict:
        levels = []
        i = 0
        while (m := _read_manifest(out_dir, f"level_{i}")) is not None:
            levels.append(m)
            i += 1
        return dict(
            levels=len(levels),
            total_tiles=sum(m["n_tiles"] for m in levels),
            total_tile_rows=sum(m["n_tile_feature_rows"] for m in levels),
            manifests=levels,
        )

    def read_tile(self, out_dir: str, z: int, x: int, y: int) -> DataFrame:
        """Point lookup on the tiles table (get_tile memo-hit path,
        lib.rs:193-195), read on the driver with pyarrow: the tile's
        ``tiles/level=*/z=<z>`` files with a pushed x/y filter, stats
        rows dropped.  feature_idx is derived HERE from the persisted
        deterministic order keys, sorted in Arrow as Spark's ascending
        order would (nulls first).  (Ranking at write time would funnel
        the entire dataset through 1-4 tasks at z0/z1 — the scale-killer
        removed in round 4.)  The result (TILE_DF_SCHEMA: the scan's
        columns, ``level`` and ``z`` last) is handed to Spark as the
        Arrow table, so the lookup runs no Spark job.  Repeat reads of
        the same tile hit a per-(z,x,y) memo (bounded LRU, invalidated
        on publish) — the reference's warm get_tile dict hit."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        key = (out_dir, z, x, y)
        cached = self._tile_dfs.get(key)
        if cached is not None:
            # refresh LRU position
            self._tile_dfs[key] = self._tile_dfs.pop(key)
            return cached
        found = pc.field("type").is_valid() & (pc.field("x") == x) & (
            pc.field("y") == y)
        parts = []
        for d in _z_dirs(out_dir, "tiles", z):
            level = pa.scalar(
                os.path.basename(os.path.dirname(d))[len("level="):])
            for path, _ in frontier_files(d):
                t = pq.read_table(path, filters=found)
                parts.append(t.append_column(
                    "level", pa.repeat(level, t.num_rows)).append_column(
                    "z", pa.repeat(pa.scalar(z, pa.int32()), t.num_rows)))
        arrow_schema = to_arrow_schema(TILE_DF_SCHEMA)
        if parts:
            t = pa.concat_tables(parts).sort_by(
                [(k, "ascending") for k in _ORDER_KEYS],
                null_placement="at_start")
            t = t.set_column(
                t.schema.get_field_index("feature_idx"),
                arrow_schema.field("feature_idx"),
                pa.array(np.arange(t.num_rows, dtype=np.int32)),
            ).select(arrow_schema.names)
        else:
            t = arrow_schema.empty_table()
        df = self.spark.createDataFrame(t, TILE_DF_SCHEMA)
        while len(self._tile_dfs) >= self._tile_dfs_cap:
            self._tile_dfs.pop(next(iter(self._tile_dfs)))
        self._tile_dfs[key] = df
        return df

    def _tile_keys(self, out_dir: str) -> set:
        """All existing tile keys, from the per-tile stats rows (exactly
        one per tile: the ``stats.parquet`` files that only
        ``_write_stats`` writes), read on the driver with pyarrow — no
        Spark job — together with ``_leaf_keys``, the tiles that retain
        leaf features (action 'leaf'); cached until this object commits a
        level, extended by its drills."""
        import pyarrow.parquet as pq

        keys = self._keys.get(out_dir)
        if keys is None:
            keys, leaves = set(), set()
            for path in sorted(glob.glob(os.path.join(
                    out_dir, "tiles", "level=*", "z=*", "stats.parquet"))):
                z = int(os.path.basename(os.path.dirname(path))[len("z="):])
                t = pq.read_table(path, columns=["x", "y", "action"])
                for x, y, a in zip(*(t.column(c).to_pylist()
                                     for c in ("x", "y", "action"))):
                    keys.add((z, x, y))
                    if a == "leaf":
                        leaves.add((z, x, y))
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
        # its tasks read the root's leaf files themselves (listed after
        # the orphan sweep above, hidden names skipped)
        files = [p for d in _z_dirs(out_dir, "leaves", root[0])
                 for p, _ in frontier_files(d)]
        tag = f"drill_{z}_{x}_{y}"
        commit = _Commit(out_dir, tag, tag)
        tiles, leafy = self._drill(files, root, (z, x, y), commit)
        commit.publish()
        # the drill only added tiles below its root: extend the key
        # memos, keep the read_tile memo
        tile_keys.update(tiles)
        self._leaf_keys[out_dir] |= leafy
        return self.read_tile(out_dir, z, x, y)

    def _drill(
        self, files: list, root: tuple, target: tuple, commit: _Commit,
    ) -> tuple:
        """Target-directed descent from the ancestor's retained leaves
        (``files``: leaf files of the root's z, see drill_pass):
        non-path tiles stop and retain (lib.rs:324-338), the path tile
        splits until the target — the whole descent is ONE feature-
        parallel pass (plans/pyramid.py drill_pass); the in-memory
        index's get_tile runs it too, into a scratch commit.  The
        rendered tile features and retained leaves sink to the staging
        parquet IN-KERNEL (_drill_kernel ``tile_sink``: idempotent
        per-task files) — they never cross the Python->JVM boundary and
        need no write job; collecting the per-tile partials is the
        drill's one job.
        ``root`` is the only stored tile the pass touches, and it emits
        none of root's rows.  Stats rows are finished driver-side from
        the partials (_write_stats); a new tile with retained rows
        records action 'leaf', the rest 'drill'.  Returns the new tile
        keys and the set of those that are leaves."""
        partials = drill_pass(
            self.spark, files, self.options, root, target,
            tile_sink=TaskSink(commit.stg_tiles, commit.stg_leaves,
                               action="drill"),
        ).toPandas()
        leafy = {
            (int(r.z), int(r.x), int(r.y))
            for r in partials.itertuples(index=False) if r.n_leaf
        }
        tiles = drill_tiles(partials, root, target)
        _write_stats(commit.stg_tiles, [
            _stats_row(*t, "leaf" if t[:3] in leafy else "drill")
            for t in tiles
        ])
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
