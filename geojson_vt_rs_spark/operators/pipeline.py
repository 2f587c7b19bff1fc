"""Spark stages of the tiling pipeline: convert, wrap, render, split.

Each stage is declared on DataFrames; geometry math runs in Arrow-batched
pandas kernels (mapInPandas) over the flat encoding — no per-row Python
objects cross the boundary, and Catalyst sees bbox/num_points as plain
columns for pruning.

Scale notes (100 TB shape):
  * convert/wrap/render/split are narrow per-row mapInPandas transforms
    — no shuffle; they scale linearly with input splits.
  * a pyramid level or drill is ONE such pass: its tasks write the
    tiles, retained leaves and child rows themselves (_TaskWriter) and
    return only per-tile partials, from which the driver decides the
    next level (plans/checkpoint.py) — never a driver collect of
    feature rows.
  * a level after the first reads its input in the tasks too
    (_frontier_reader, the writer's twin): the driver lists the
    previous level's child files and packs them into tasks with Spark's
    own file-scan arithmetic (pack_files), so frontier rows never cross
    the JVM and the task count shrinks with the frontier.
  * a drill reads its input in the tasks as well (_root_reader): one
    task per core reads the root's leaf files with a pushed x/y filter
    and keeps every P-th row, so one root's rows spread over every core
    with no exchange, at the price of every task reading the whole
    root (a P-fold read of one leaf tile's rows).
  * a level's only exchange is fused_stage's repartition(z, x, y),
    which clusters the rows of its bounded 'fuse' tiles for whole-
    subtree tasks; the one-shot geojson_to_tile_df (plans/one_shot.py)
    composes these kernels in one pass and moves only its one tile's
    rendered rows to a single finishing task.
"""

from __future__ import annotations

import json
from typing import Iterator, List, NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.core.clip import clip_feature
from geojson_vt_rs_spark.core.project import convert_feature
from geojson_vt_rs_spark.core.tile import TileEmitter
from geojson_vt_rs_spark.core.wrap import wrap as core_wrap
from geojson_vt_rs_spark.operators.schema import (
    FEATURE_SCHEMA,
    TILE_STORE_SCHEMA,
    TILED_FEATURE_SCHEMA,
    create_feature_df,
    feature_to_row,
    features_to_pdf,
    pdf_to_features,
)

FEATURE_COLS = [f.name for f in FEATURE_SCHEMA.fields]
TILED_COLS = [f.name for f in TILED_FEATURE_SCHEMA.fields]


def read_geojson_features(spark: SparkSession, path_or_text) -> DataFrame:
    """GeoJSON -> raw lon/lat features DataFrame (FEATURE_SCHEMA)."""
    from geojson_vt_rs_spark.sources.geojson import load_geojson, load_geojson_file

    feats = (
        load_geojson_file(path_or_text)
        if isinstance(path_or_text, str) and path_or_text.endswith(".json")
        else load_geojson(path_or_text)
    )
    pdf = features_to_pdf(feats)
    # works in sessions without Arrow (driver harness) — see sanitize_pdf
    return create_feature_df(spark, pdf, FEATURE_SCHEMA)


def _convert_wrap_kernel(
    tolerance: float, generate_id: bool, buffer: float, line_metrics: bool,
    wrap: bool = True,
):
    """The convert [+ wrap] pandas kernel as a generator factory, chained
    in front of a render kernel in the same mapInPandas pass (the level
    loop's first wave, the one-shot geojson_to_tile_df), so the wide
    feature arrays cross JVM<->Python once.

    Convert is project + metrics + DP importance (convert.rs:148-176);
    generate_id uses feature_seq, the deterministic 0-based input order —
    identical to the reference's gen_id counter under any partitioning.
    With ``wrap`` each feature then contributes its antimeridian clips
    (wrap.rs:19-43) tagged world_copy 0/1/2: equivalent to the
    reference's global left/right-empty shortcut, because when both are
    empty the center clip is a per-feature trivial accept (proof in
    core/wrap.py).

    Columnar fast path: single-coordinate Point rows project in ONE
    vectorized pass.  A point's convert is just project_points (no
    metrics, no simplify — zs stay 0), and its wrap is a no-op whenever
    buffer < X < 1-buffer (the left clip [-1-b, b] and right clip
    [1-b, 2+b] are then both empty, so core_wrap returns the feature
    unchanged, world_copy included).  Antimeridian-buffer points and
    everything else take the per-feature path; elementwise math is
    identical (same project_points call), so goldens are unaffected."""
    from geojson_vt_rs_spark.core.geom import GEOM_POINT
    from geojson_vt_rs_spark.core.project import project_points

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zero1 = np.zeros(1)
        for pdf in batches:
            is_pt = (
                (pdf["geom_type"].to_numpy() == GEOM_POINT)
                & (pdf["num_points"].to_numpy() == 1)
            )
            if is_pt.any():
                gc = pdf["gc_kinds"].to_numpy()
                is_pt &= np.fromiter(
                    (g is None for g in gc), bool, count=len(gc)
                )
            if is_pt.any():
                X, Y = project_points(
                    np.concatenate(list(pdf["xs"].to_numpy()[is_pt])),
                    np.concatenate(list(pdf["ys"].to_numpy()[is_pt])),
                )
                # with wrap, strict inequalities: a point exactly ON the
                # buffer boundary is clip-inclusion-sensitive -> per-
                # feature path (without wrap every point stays here)
                center_only = (X > buffer) & (X < 1.0 - buffer)
                if wrap and not center_only.all():
                    is_pt[np.flatnonzero(is_pt)[~center_only]] = False
                    X, Y = X[center_only], Y[center_only]
            if is_pt.any():
                k = int(is_pt.sum())
                seqs = pdf["feature_seq"].to_numpy()[is_pt]
                d = dict(
                    feature_seq=seqs,
                    world_copy=pdf["world_copy"].to_numpy()[is_pt],
                    slice_path=pdf["slice_path"].to_numpy()[is_pt],
                    id_str=(
                        [None] * k if generate_id
                        else pdf["id_str"].to_numpy()[is_pt]
                    ),
                    id_num=(
                        seqs if generate_id
                        else pdf["id_num"].to_numpy()[is_pt]
                    ),
                    id_float=(
                        [None] * k if generate_id
                        else pdf["id_float"].to_numpy()[is_pt]
                    ),
                    props_json=pdf["props_json"].to_numpy()[is_pt],
                    geom_type=pdf["geom_type"].to_numpy()[is_pt],
                    xs=[X[i : i + 1] for i in range(k)],
                    ys=[Y[i : i + 1] for i in range(k)],
                    zs=[zero1] * k,
                    part_offsets=pdf["part_offsets"].to_numpy()[is_pt],
                    ring_offsets=pdf["ring_offsets"].to_numpy()[is_pt],
                    gc_kinds=[None] * k,
                    gc_part_offsets=[None] * k,
                    part_dist=[zero1] * k,
                    part_seg_start=[zero1] * k,
                    part_seg_end=[zero1] * k,
                    part_area=[zero1] * k,
                    bbox_min_x=X,
                    bbox_min_y=Y,
                    bbox_max_x=X,
                    bbox_max_y=Y,
                    num_points=np.ones(k, dtype=np.int32),
                )
                yield pd.DataFrame(d, columns=FEATURE_COLS)
            rest = pdf.loc[~is_pt] if is_pt.any() else pdf
            if len(rest) == 0:
                continue
            out: List[dict] = []
            for f in pdf_to_features(rest):
                if generate_id:
                    f.id_str = None
                    f.id_num = f.feature_seq
                    f.id_float = None
                c = convert_feature(f, tolerance)
                if c is not None:
                    for g in (core_wrap([c], buffer, line_metrics) if wrap
                              else [c]):
                        out.append(feature_to_row(g))
            yield pd.DataFrame(out, columns=FEATURE_COLS)

    return kernel


def batch_pre_transform(pdf: pd.DataFrame, extent: int, tol: float,
                        max_zoom: int):
    """Cross-feature columnar render: transform EVERY point of the Arrow
    batch to tile-local int64 coords in one numpy pass, with each row's
    (z2, x, y, sq_tolerance) broadcast per point via np.repeat.

    Elementwise identical to TileEmitter._transform / the per-part z
    filter — same op order ((xs*z2 - x)*extent, half-away round,
    tolerance = tol/(z2*extent), keep = zs > tol^2) — so the golden
    corpora stay exact through this path (asserted by the dual-path
    golden tests).  Per-part numpy dispatch overhead was the dominant
    render cost at fixture shapes (CLAUDE.md perf findings): one
    transform per BATCH replaces 2 transforms per part.

    Returns (offs, tx, ty, keep): row i's slice is offs[i]:offs[i+1].
    """
    from geojson_vt_rs_spark.core.tile import _round_half_away

    n = len(pdf)
    xs_col = pdf["xs"].to_numpy()
    ys_col = pdf["ys"].to_numpy()
    zs_col = pdf["zs"].to_numpy()
    lens = np.fromiter(
        (0 if v is None else len(v) for v in xs_col), np.int64, count=n
    )
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    if total == 0:
        e_i = np.empty(0, np.int64)
        return offs, e_i, e_i, np.empty(0, bool)
    all_x = np.concatenate(
        [np.asarray(v, np.float64) for v in xs_col if v is not None]
    )
    all_y = np.concatenate(
        [np.asarray(v, np.float64) for v in ys_col if v is not None]
    )
    all_z = np.concatenate(
        [np.asarray(v, np.float64) for v in zs_col if v is not None]
    )
    z = pdf["z"].to_numpy().astype(np.int64)
    z2r = np.ldexp(1.0, z)  # exact float(1 << z)
    ext = float(extent)
    tolr = np.where(z == max_zoom, 0.0, tol / (z2r * ext))
    rep_z2 = np.repeat(z2r, lens)
    rep_x = np.repeat(pdf["x"].to_numpy().astype(np.float64), lens)
    rep_y = np.repeat(pdf["y"].to_numpy().astype(np.float64), lens)
    rep_sq = np.repeat(tolr * tolr, lens)
    tx = _round_half_away((all_x * rep_z2 - rep_x) * ext).astype(np.int64)
    ty = _round_half_away((all_y * rep_z2 - rep_y) * ext).astype(np.int64)
    keep = all_z > rep_sq
    return offs, tx, ty, keep


# a rendered feature row as a kernel hands it to _TaskWriter.features:
# the tiles table's columns (TILE_STORE_SCHEMA) but for the ones the
# writer fills (feature_idx, tile_num_points, tile_num_simplified, action)
FEATURE_ROW_COLS = ["z", "x", "y", "world_copy", "feature_seq", "slice_path",
                    "sub_idx", "type", "kind", "geometry_json", "tags_json",
                    "tile_id_str", "tile_id_num", "tile_id_float"]


def _tile_feature(tf: dict) -> dict:
    """An emitted tile feature's FEATURE_ROW_COLS payload columns."""
    return dict(
        type=tf["type"],
        kind=tf["kind"],
        geometry_json=json.dumps(tf["geometry"], separators=(",", ":")),
        tags_json=(None if tf["tags"] is None
                   else json.dumps(tf["tags"], separators=(",", ":"))),
        tile_id_str=tf["id_str"],
        tile_id_num=tf["id_num"],
        tile_id_float=tf["id_float"],
    )


# every pass writes its rows from the tasks and returns only per-(task,
# tile) partials, told apart by sub_idx: NULL a child partial
# (num_points, n_emitted = row count), -1 a parent partial (the same, of
# an input tile), 0 a rendered tile's counters (n_emitted =
# num_simplified, nf feature rows, n_leaf retained rows) and 1 a
# multi-level pass's tile (the same plus its num_points)
PARTIAL_SCHEMA = T.StructType(
    [T.StructField(c, T.IntegerType()) for c in ("z", "x", "y", "sub_idx")]
    + [T.StructField(c, T.LongType())
       for c in ("num_points", "n_emitted", "nf", "n_leaf")]
)
PARTIAL_COLS = [f.name for f in PARTIAL_SCHEMA.fields]


class TaskSink(NamedTuple):
    """Where the tasks of a pass write (the filesystem contract
    in plans/checkpoint.py's module docstring): rendered feature rows to
    ``tiles`` and retained leaf rows to ``leaves``, both partitioned by
    z, child rows to ``frontier``; feature rows record ``action``."""

    tiles: str
    leaves: str
    frontier: Optional[str] = None
    action: str = "feature"


def z_part_schema(struct: T.StructType):
    """Arrow schema of a z-partitioned table's files (z is the dir)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        T.StructType([f for f in struct.fields if f.name != "z"])
    )


def write_parquet(d: str, name: str, table) -> None:
    """Write one parquet file ``d/name``: to a dot-prefixed temp name
    (hidden from readers), then ``os.replace``d onto the final name."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{os.getpid()}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(d, name))


class _TaskWriter:
    """The task side of a pass, one method per TaskSink destination:
    ``features`` (rendered feature rows -> tiles), ``leaves`` (retained
    source rows -> leaves) and ``children`` (child rows -> frontier).
    Rows are held as Arrow batches per (dir, z) and written by ``close``
    as ONE file each, ``part-<partition>-<tag>.parquet``.  The names are
    deterministic, so a retried or duplicated task rewrites the same
    files with the same content.  Tallies per tile (ns, nf, n_leaf) for
    the pass's partials."""

    def __init__(self, sink: TaskSink, tag: str):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.out, self.tag = sink, tag
        self.tile_schema = z_part_schema(TILE_STORE_SCHEMA)
        self.leaf_schema = z_part_schema(TILED_FEATURE_SCHEMA)
        self.frontier_schema = to_arrow_schema(TILED_FEATURE_SCHEMA)
        self.buf: dict = {}  # dir -> (arrow schema, [RecordBatch])
        self.counts: dict = {}  # (z, x, y) -> [ns, nf, n_leaf]

    def _put(self, d: str, schema, pdf: pd.DataFrame) -> None:
        import pyarrow as pa

        self.buf.setdefault(d, (schema, []))[1].append(
            pa.RecordBatch.from_pandas(pdf, schema=schema, preserve_index=False)
        )

    def _by_z(self, root: str, schema, pdf: pd.DataFrame) -> None:
        import os

        zs = pdf["z"].to_numpy()
        for zv in np.unique(zs):
            sub = pdf if (zs == zv).all() else pdf.loc[zs == zv]
            self._put(os.path.join(root, f"z={int(zv)}"), schema,
                      sub[schema.names])

    def _tally(self, rows: pd.DataFrame, i: int) -> None:
        g = rows.groupby(["z", "x", "y"], sort=False).size()
        for k, v in g.items():
            key = (int(k[0]), int(k[1]), int(k[2]))
            self.counts.setdefault(key, [0, 0, 0])[i] += int(v)

    def features(self, frames: list, ns: dict) -> None:
        """Rendered feature rows (FEATURE_ROW_COLS frames) -> tiles;
        ``ns``: (z, x, y) -> num_simplified of the rendered tiles."""
        for k, v in ns.items():
            self.counts.setdefault(k, [0, 0, 0])[0] += v
        for f in frames:
            n = len(f)
            if n:
                self._tally(f, 1)
                null = np.full(n, None, dtype=object)
                self._by_z(self.out.tiles, self.tile_schema, f.assign(
                    feature_idx=null, tile_num_points=null,
                    tile_num_simplified=null,
                    action=np.full(n, self.out.action, dtype=object),
                ))

    def leaves(self, rows: pd.DataFrame) -> None:
        """Retained source rows (TILED_COLS and more) -> leaves."""
        self._tally(rows, 2)
        self._by_z(self.out.leaves, self.leaf_schema, rows)

    def children(self, frames: list) -> None:
        """Child rows (TILED_COLS frames) -> frontier."""
        for f in frames:
            self._put(self.out.frontier, self.frontier_schema, f)

    def close(self) -> dict:
        """Write every buffered file; returns the per-tile tallies."""
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        for d, (schema, batches) in self.buf.items():
            write_parquet(d, f"part-{pid:05d}-{self.tag}.parquet",
                          pa.Table.from_batches(batches, schema=schema))
        self.buf.clear()
        return self.counts


def frontier_files(d: str) -> list:
    """(path, size) of the files a reader of the directory ``d`` sees,
    sorted by path.  As in Spark's file index, names that start with
    '.' or '_' are hidden: write_parquet's temp files among them.  A
    missing ``d`` raises, as a Spark scan of it would."""
    import os

    return sorted(
        (e.path, e.stat().st_size) for e in os.scandir(d)
        if e.is_file() and not e.name.startswith((".", "_"))
    )


def pack_files(files: list, max_bytes: int, open_cost: int,
               parallelism: int) -> list:
    """``files`` ((path, size)) packed into task bins of paths the way
    Spark's file scan packs whole files (FilePartition): each file costs
    its size plus ``open_cost``, the cap is min(max_bytes, max(open_cost,
    total cost / parallelism)), and the bins fill next-fit over the
    files sorted by size, largest first (ties keep ``files``' order)."""
    total = sum(size + open_cost for _, size in files)
    cap = min(max_bytes, max(open_cost, total // max(parallelism, 1)))
    bins, cur, used = [], [], 0
    for path, size in sorted(files, key=lambda f: -f[1]):
        if cur and used + size > cap:
            bins.append(cur)
            cur, used = [], 0
        cur.append(path)
        used += size + open_cost
    if cur:
        bins.append(cur)
    return bins


def _tile_key(z, x, y):
    """One int64 per (z, x, y), scalar or array (z <= 24 < 2**5 and
    x, y < 2**24 fit the 5 + 29 + 29 bits)."""
    return ((np.asarray(z, np.int64) << 58) | (np.asarray(x, np.int64) << 29)
            | np.asarray(y, np.int64))


def _root_reader(files: list, root: tuple, n_tasks: int, batch_size: int):
    """The task side of a drill's input read: a generator over the
    ``id`` batches of a spark.range with one row per task, yielding task
    ``i``'s share of ``root``'s retained rows.  ``files`` are leaf files
    of the root's z (no z column); each task reads them all with a
    pushed x/y filter, inserts z and keeps rows i, i + n_tasks, ... of
    their rows in ``files``' order (what a round-robin repartition deals
    to partition i, without the exchange), in frames of ``batch_size``
    rows (TILED_COLS)."""
    rz, rx, ry = root

    def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids = [i for b in batches for i in b["id"].tolist()]
        if not ids or not files:
            return
        rows = pa.concat_tables([
            pq.read_table(p, columns=TILED_COLS[1:],
                          filters=[("x", "==", rx), ("y", "==", ry)])
            for p in files
        ])
        for i in ids:
            mine = rows.take(np.arange(i, rows.num_rows, n_tasks))
            for rb in mine.to_batches(max_chunksize=batch_size):
                pdf = rb.to_pandas()
                pdf.insert(0, "z", np.full(len(pdf), rz, dtype=np.int32))
                yield pdf

    return read


def _frontier_reader(bins: list, actions: dict, batch_size: int):
    """The task side of a level's frontier read, _TaskWriter's twin: a
    generator over the ``id`` batches of a spark.range with one row per
    bin, yielding the rows of that bin's frontier files (TILED_COLS, in
    Arrow batches of ``batch_size`` rows, the frames mapInPandas would
    hand over) with the ``action`` of their tile from ``actions``
    ((z, x, y) -> action).  Rows of tiles without an action (the
    level's 'fuse' tiles) are dropped."""
    keys = pd.Index(_tile_key(*np.array(list(actions), np.int64).reshape(
        -1, 3).T))
    acts = np.array(list(actions.values()), dtype=object)

    def tag(pdf: pd.DataFrame) -> pd.DataFrame:
        at = keys.get_indexer(_tile_key(
            pdf["z"].to_numpy(), pdf["x"].to_numpy(), pdf["y"].to_numpy()))
        keep = at >= 0
        if not keep.all():
            pdf = pdf.loc[keep].reset_index(drop=True)
            at = at[keep]
        pdf["action"] = acts[at]
        return pdf

    def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for ids in batches:
            for i in ids["id"].tolist():
                for path in bins[i]:
                    with pq.ParquetFile(path) as pf:
                        for rb in pf.iter_batches(batch_size=batch_size,
                                                  columns=TILED_COLS):
                            yield tag(rb.to_pandas())

    return read


def _tile_sums(frames: list) -> dict:
    """(z, x, y) -> (num_points sum, row count) over the frames' rows:
    a pass's child partials, or the parent partials of its input."""
    out: dict = {}
    for f in frames:
        g = f.groupby(["z", "x", "y"], sort=False)["num_points"].agg(
            ["sum", "size"])
        for k, pts, cnt in zip(g.index, g["sum"].tolist(), g["size"].tolist()):
            key = (int(k[0]), int(k[1]), int(k[2]))
            old = out.get(key, (0, 0))
            out[key] = (old[0] + int(pts), old[1] + int(cnt))
    return out


def _rs_body(options: Options):
    """Factory for the render+split PER-BATCH body shared by
    render_split_stage (one call per level) and _drill_kernel (one
    call per level per batch, looped in-kernel).  Returns
    ``body(pdf) -> (feats, children, ns)``: the rendered feature rows
    (FEATURE_ROW_COLS frames), the child rows of the 'split' rows
    (TILED_COLS frames) and each rendered tile's num_simplified
    ((z, x, y) -> int)."""
    buffer = options.tile.buffer
    extent = options.tile.extent
    tol = options.tile.tolerance
    max_zoom = options.max_zoom
    lm = options.tile.line_metrics
    p = 0.5 * buffer / extent

    from geojson_vt_rs_spark.core.geom import GEOM_POINT
    from geojson_vt_rs_spark.core.tile import TYPE_POINT, _round_half_away

    _MISS = object()
    tags_cache: dict = {}

    def canon_tags(p):
        # canonical tags_json == json.dumps(json.loads(p)) with empty
        # props -> None (tile.rs:86-90); cached per distinct string
        if not isinstance(p, str):
            return None
        r = tags_cache.get(p, _MISS)
        if r is _MISS:
            t = json.loads(p)
            r = None if not t else json.dumps(t, separators=(",", ":"))
            tags_cache[p] = r
        return r

    def body(pdf: pd.DataFrame):
            z = pdf["z"].to_numpy()
            x = pdf["x"].to_numpy()
            y = pdf["y"].to_numpy()
            is_split = (pdf["action"] == "split").to_numpy()
            wc = pdf["world_copy"].to_numpy()
            seq = pdf["feature_seq"].to_numpy()
            sp = pdf["slice_path"].to_numpy()
            # single-coordinate Point rows: a point never straddles a
            # split band (bmin == bmax -> always trivial accept/reject),
            # so the split side is always the pandas passthrough below
            # and the render side is ONE vectorized transform — no
            # VtFeature / TileEmitter per row (the LargeGeoJSON shape:
            # 10^6-point inputs are render-bound without this)
            is_pt = (
                (pdf["geom_type"].to_numpy() == GEOM_POINT)
                & (pdf["num_points"].to_numpy() == 1)
            )

            # --- vectorized split classification (split rows only) ----
            xf = x.astype(np.float64)
            yf = y.astype(np.float64)
            z2v = np.ldexp(1.0, z.astype(np.int64))

            def classify(c, bmin, bmax):
                k1a = (c - p) / z2v
                k2a = (c + 0.5 + p) / z2v
                k1b = (c + 0.5 - p) / z2v
                k2b = (c + 1.0 + p) / z2v
                acc_a = (bmin >= k1a) & (bmax < k2a)
                rej_a = (bmax < k1a) | (bmin >= k2a)
                acc_b = (bmin >= k1b) & (bmax < k2b)
                rej_b = (bmax < k1b) | (bmin >= k2b)
                return acc_a, rej_a, acc_b, rej_b

            xm = pdf["bbox_min_x"].to_numpy()
            xM = pdf["bbox_max_x"].to_numpy()
            ym = pdf["bbox_min_y"].to_numpy()
            yM = pdf["bbox_max_y"].to_numpy()
            xa0, xr0, xa1, xr1 = classify(xf, xm, xM)
            ya0, yr0, ya1, yr1 = classify(yf, ym, yM)
            trivial = (
                (xa0 | xr0) & (xa1 | xr1) & (ya0 | yr0) & (ya1 | yr1)
            )
            passthrough = is_split & trivial
            slow_split = is_split & ~trivial

            feats: List[pd.DataFrame] = []
            children: List[pd.DataFrame] = []
            ns: dict = {}  # (z, x, y) -> num_simplified
            # pass-through children: pure pandas slicing
            for dx, xacc in ((0, xa0), (1, xa1)):
                for dy, yacc in ((0, ya0), (1, ya1)):
                    sel = passthrough & xacc & yacc
                    if sel.any():
                        children.append(pdf.loc[sel, TILED_COLS].assign(
                            z=(z[sel] + 1).astype(z.dtype),
                            x=(x[sel] * 2 + dx).astype(x.dtype),
                            y=(y[sel] * 2 + dy).astype(y.dtype),
                        ))

            # vectorized render of the single-coordinate Point rows: one
            # feature and one simplified point each
            if is_pt.any():
                zp = z[is_pt].astype(np.int64)
                z2p = np.ldexp(1.0, zp)
                ext_f = float(extent)
                lon = np.concatenate(list(pdf["xs"].to_numpy()[is_pt]))
                latv = np.concatenate(list(pdf["ys"].to_numpy()[is_pt]))
                txp = _round_half_away(
                    (lon * z2p - x[is_pt].astype(np.float64)) * ext_f
                ).astype(np.int64)
                typ = _round_half_away(
                    (latv * z2p - y[is_pt].astype(np.float64)) * ext_f
                ).astype(np.int64)
                pts = pd.DataFrame(dict(
                    z=z[is_pt], x=x[is_pt], y=y[is_pt],
                    world_copy=wc[is_pt],
                    feature_seq=seq[is_pt],
                    slice_path=sp[is_pt],
                    sub_idx=0,
                    type=TYPE_POINT,
                    kind=GEOM_POINT,
                    geometry_json=[
                        f"[[{a},{b}]]"
                        for a, b in zip(txp.tolist(), typ.tolist())
                    ],
                    tags_json=[
                        canon_tags(p)
                        for p in pdf["props_json"].to_numpy()[is_pt]
                    ],
                    tile_id_str=pdf["id_str"].to_numpy()[is_pt],
                    tile_id_num=pdf["id_num"].to_numpy()[is_pt],
                    tile_id_float=pdf["id_float"].to_numpy()[is_pt],
                ), columns=FEATURE_ROW_COLS)
                feats.append(pts)
                for k, v in pts.groupby(["z", "x", "y"], sort=False).size(
                ).items():
                    key = (int(k[0]), int(k[1]), int(k[2]))
                    ns[key] = ns.get(key, 0) + int(v)

            # one per-feature pass over the REST: render + clip straddlers;
            # the whole batch's transform ran in ONE numpy pass upstream
            pdf_np = pdf.loc[~is_pt]
            offs, btx, bty, bkeep = batch_pre_transform(
                pdf_np, extent, tol, max_zoom
            )
            z_np, x_np, y_np = z[~is_pt], x[~is_pt], y[~is_pt]
            wc_np, seq_np, sp_np = wc[~is_pt], seq[~is_pt], sp[~is_pt]
            slow_np = slow_split[~is_pt]
            rend: List[dict] = []
            ch: List[dict] = []
            for i, f in enumerate(pdf_to_features(pdf_np)):
                zi, xi, yi = int(z_np[i]), int(x_np[i]), int(y_np[i])
                z2 = float(1 << zi)
                tolerance = (
                    0.0 if zi == max_zoom else tol / (z2 * extent)
                )
                em = TileEmitter(zi, xi, yi, extent, tolerance, lm)
                a, b = offs[i], offs[i + 1]
                em.add_feature(f, pre=(btx[a:b], bty[a:b], bkeep[a:b]))
                if em.num_simplified:
                    key = (zi, xi, yi)
                    ns[key] = ns.get(key, 0) + em.num_simplified
                for si, tf in enumerate(em.features):
                    rend.append(dict(
                        z=zi, x=xi, y=yi, world_copy=int(wc_np[i]),
                        feature_seq=int(seq_np[i]), slice_path=sp_np[i],
                        sub_idx=si,
                    ) | _tile_feature(tf))
                if slow_np[i]:
                    left = clip_feature(
                        f, 0, (xi - p) / z2, (xi + 0.5 + p) / z2, lm
                    )
                    right = clip_feature(
                        f, 0, (xi + 0.5 - p) / z2, (xi + 1.0 + p) / z2, lm
                    )
                    for dx, half in ((0, left), (1, right)):
                        for lf in half:
                            top = clip_feature(
                                lf, 1, (yi - p) / z2, (yi + 0.5 + p) / z2, lm
                            )
                            bot = clip_feature(
                                lf, 1, (yi + 0.5 - p) / z2,
                                (yi + 1.0 + p) / z2, lm,
                            )
                            for dy, quarter in ((0, top), (1, bot)):
                                for qf in quarter:
                                    ch.append(dict(
                                        z=zi + 1, x=xi * 2 + dx,
                                        y=yi * 2 + dy,
                                    ) | feature_to_row(qf))
            if rend:
                feats.append(pd.DataFrame(rend, columns=FEATURE_ROW_COLS))
            if ch:
                children.append(pd.DataFrame(ch, columns=TILED_COLS))
            return feats, children, ns

    return body


def _partials_frame(per_tile: dict, sub_idx=None) -> pd.DataFrame:
    """(z,x,y) -> (num_points, row_count[, nf, n_leaf]) partials as a
    pass's PARTIAL_COLS rows.  n_emitted doubles as the partial child ROW
    count so the driver can finish n_children without a job.
    ``sub_idx=-1`` marks PARENT partials (the input tiles' own point
    sums, emitted by the first wave) apart from the default child
    partials (sub_idx NULL)."""
    keys = list(per_tile)
    vals = [tuple(v) + (0, 0)[: 4 - len(v)] for v in per_tile.values()]
    return pd.DataFrame(dict(
        z=[k[0] for k in keys],
        x=[k[1] for k in keys],
        y=[k[2] for k in keys],
        sub_idx=sub_idx,
        num_points=[int(v[0]) for v in vals],
        n_emitted=[int(v[1]) for v in vals],
        nf=[int(v[2]) for v in vals],
        n_leaf=[int(v[3]) for v in vals],
    ), columns=PARTIAL_COLS)


def render_split_stage(
    spark: SparkSession, frontier: str, actions: dict, options: Options,
    tile_sink: TaskSink,
) -> DataFrame:
    """ONE Python pass per pyramid level: renders every row and, for
    rows whose tile the driver decided to split (action 'split'), also
    clips the child features — the VtFeature is constructed once and
    shared by both, and the level runs one Spark job instead of a render
    job plus a split job.

    The split side has a columnar fast path: rows whose bbox makes every
    child band a trivial accept or reject pass through as pandas slices
    with no per-feature Python; only straddling rows are clipped.

    The rows are the level's ``frontier`` files, read by the tasks
    themselves (_frontier_reader): the driver lists the files and packs
    them into task bins with Spark's own file-scan confs (pack_files),
    and each task tags its rows with their tile's action from
    ``actions`` ((z, x, y) -> 'leaf' / 'split'; rows of other tiles are
    dropped).  No frontier row crosses the JVM.  The tasks write the
    level's outputs to ``tile_sink`` themselves (_TaskWriter): rendered
    features to the staged tiles, the input rows of 'leaf' tiles to the
    staged leaves, the child rows to the next level's frontier.  Only
    the partials come back (PARTIAL_SCHEMA): the child partials and each
    rendered tile's counters, so collecting them is the level's one
    Spark job."""
    # the session's SQLConf: the typed values Spark's own file scan
    # reads, defaults and byte-size strings resolved
    conf = spark._jsparkSession.sessionState().conf()
    bins = pack_files(frontier_files(frontier), conf.filesMaxPartitionBytes(),
                      conf.filesOpenCostInBytes(),
                      spark.sparkContext.defaultParallelism)
    read = _frontier_reader(bins, actions, conf.arrowMaxRecordsPerBatch())
    rs = _render_split_kernel(options, tile_sink)
    return spark.range(0, len(bins), 1, max(len(bins), 1)).mapInPandas(
        lambda batches: rs(read(batches)), schema=PARTIAL_SCHEMA)


def _render_split_kernel(options: Options, tile_sink: TaskSink,
                         emit_parent_cagg: bool = False):
    """The render/split pandas kernel (see render_split_stage) as a
    reusable generator factory — composed behind the frontier reader in
    render_split_stage and behind the convert+wrap kernel for the fused
    first-turn wave.  ``emit_parent_cagg=True`` additionally emits
    per-batch partials of the INPUT tiles' own point sums with sub_idx =
    -1: the first wave decides the root's action AFTER rendering from
    these, so the first level needs no separate decision agg job."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        body = _rs_body(options)
        w = _TaskWriter(tile_sink, "render")
        for pdf in batches:
            if pdf.empty:
                continue
            leaf = (pdf["action"] == "leaf").to_numpy()
            if leaf.any():
                w.leaves(pdf.loc[leaf])
            feats, children, ns = body(pdf)
            w.features(feats, ns)
            w.children(children)
            if children:
                yield _partials_frame(_tile_sums(children))
            if emit_parent_cagg:
                yield _partials_frame(_tile_sums([pdf]), -1)
        counts = w.close()
        if counts:
            yield _partials_frame({k: (0, *v) for k, v in counts.items()}, 0)

    return kernel


def tile_rows(batches: Iterator[pd.DataFrame], key: tuple,
              action: Optional[str] = None) -> Iterator[pd.DataFrame]:
    """Converted feature batches as rows of the tile ``key``: its (z, x,
    y) columns in front, plus the decided ``action`` if given."""
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        pdf = pdf.copy(deep=False)
        for i, (c, v) in enumerate(zip("zxy", key)):
            pdf.insert(i, c, np.full(n, v, dtype=np.int32))
        if action is not None:
            pdf["action"] = action
        yield pdf


def _drill_kernel(options: Options, root: tuple, target: tuple,
                  tile_sink: TaskSink):
    """The ENTIRE root-to-target drill descent as ONE feature-parallel
    mapInPandas kernel (get_tile cold-miss path, lib.rs:184-223), fed
    the root's retained leaf rows by _root_reader (plans/pyramid.py
    drill_pass).

    Key property making this possible: unlike the build, a drill's
    per-tile decisions are purely STRUCTURAL — a tile stops at max_zoom,
    is a leaf at the target zoom or off the target path, and otherwise
    splits (lib.rs:324-338).  No per-tile point count is needed, so no
    per-level driver round-trip: each batch of the ancestor's retained
    leaf rows walks all levels in-kernel (5-7 levels of the former loop
    = 5-7 Spark jobs + Arrow round-trips collapse into one job), while
    the rendering work stays parallel across partitions — the
    single-task fused-subtree alternative serializes ~tnp * depth
    feature emissions (measured 116s vs this pass's one wave at 1M
    points).

    Each task writes its rendered tile features (with the persisted
    order keys) and the retained source rows of its leaf tiles straight
    into ``tile_sink``'s staged tiles / leaves as store-schema parquet
    (_TaskWriter, as the level passes do); only one
    partial per tile comes back (PARTIAL_SCHEMA, sub_idx 1: num_points
    the tile's source-point sum, n_emitted its rendered-emission sum,
    nf, n_leaf), and the driver finishes stats rows from these without
    another job.  This is the one partial contract of a multi-level
    pass: the build's fused subtrees (plans/pyramid.py _subtree_kernel)
    return it too.

    ``root`` is the one memoized tile a drill touches (its nearest
    memoized ancestor, plans/pyramid.py find_parent): the pass re-splits
    it but writes none of its render rows, so every written row belongs
    to a new tile; its partial still carries its point count
    (drill_tiles reads it)."""
    az = root[0]
    cz, cx, cy = target
    max_zoom = options.max_zoom

    def decide(tz: int, tx: int, ty: int) -> str:
        if tz == max_zoom:
            return "stop"
        if tz == cz:
            return "leaf"
        m = 1 << (cz - tz)
        return "split" if (tx == cx // m and ty == cy // m) else "leaf"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        body = _rs_body(options)
        w = _TaskWriter(tile_sink, "drill")
        tnp: dict = {}  # (z, x, y) -> source-point partial
        for pdf in batches:
            cur = pdf
            while len(cur):
                # the frontier holds at most 4 distinct tiles (the
                # previous path tile's children; the root at entry) —
                # dedupe first and assign actions with one vectorized
                # mask per tile (a per-row itertuples pass cost ~20 %
                # of the kernel at 10^5-row frontiers)
                zc = cur["z"].to_numpy()
                xc = cur["x"].to_numpy()
                yc = cur["y"].to_numpy()
                tiles = {
                    (int(tz), int(tx), int(ty))
                    for tz, tx, ty in cur[["z", "x", "y"]]
                    .drop_duplicates()
                    .itertuples(index=False)
                }
                amap = {t: decide(*t) for t in tiles}
                action = np.empty(len(cur), dtype=object)
                for (tz, tx, ty), act in amap.items():
                    action[(zc == tz) & (xc == tx) & (yc == ty)] = act
                cur = cur.reset_index(drop=True)
                cur["action"] = action
                for k, (pts, _) in _tile_sums([cur]).items():
                    tnp[k] = tnp.get(k, 0) + pts
                # retained leaves out (target tile included; 'stop' tiles
                # render but retain nothing, matching the level loop)
                leaf_sel = (cur["action"] == "leaf").to_numpy()
                if leaf_sel.any():
                    w.leaves(cur.loc[leaf_sel])
                feats, children, ns = body(cur)
                # the root keeps its memoized rows: emit none of its own
                if int(zc[0]) != az:
                    w.features(feats, ns)
                # the path tile's children, one frame per pass-through
                # quadrant plus one of clipped straddlers: concat only
                # when there are several
                if not children:
                    cur = pd.DataFrame(columns=TILED_COLS)
                elif len(children) == 1:
                    cur = children[0].reset_index(drop=True)
                else:
                    cur = pd.concat(children, ignore_index=True)
        counts = w.close()
        if tnp:
            yield _partials_frame({
                k: (v, *counts.get(k, (0, 0, 0))) for k, v in tnp.items()
            }, 1)

    return kernel
