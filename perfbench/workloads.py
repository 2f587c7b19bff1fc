"""The benchmark workloads.

Each workload has four steps, called by ``run.py`` in this order:

``setup``    timed as ``setup_s``, repeated ``SETUP_REPS`` times: build
             the seeded inputs;
``prepare``  untimed: reference answers the ops are checked against;
``op``       one unit of the timed window, repeated until the window is
             over; returns one ``Record`` per timed operation;
``check``    after the window: reference answers too costly to build
             per op, and the final verdict on every record.

No step warms the JVM: the first op of a run is as cold as the first
build of a fresh batch job, and every run has the same shape.

Every call into the engine sits inside a ``tracer.span`` named
``<layer>.<phase>`` after the module it enters.  Spans never nest.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from geojson_vt_rs_spark.config import Options
from geojson_vt_rs_spark.operators.schema import (
    FEATURE_SCHEMA,
    create_feature_df,
    local_relation_df,
)
from geojson_vt_rs_spark.plans.checkpoint import CheckpointedPyramid
from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT
from geojson_vt_rs_spark.plans.spatial import (
    SLOTS,
    knn_neighbor_tiles,
    mosaic_tiles,
    pip_join,
    tile_polygons_df,
    with_cells,
    with_footprints,
)
from geojson_vt_rs_spark.sources.images import IMAGE_SCHEMA, make_image_row

from perfbench import corpus

SIZES = {
    "full": dict(build_n=4000, build_imp=1500, drill_n=16000, drill_imp=1000,
                 images=1000, polygons=1000),
    "tiny": dict(build_n=300, build_imp=100, drill_n=1500, drill_imp=150,
                 images=200, polygons=100),
}


@dataclass
class Record:
    kind: str  # "op" feeds op_p50_s; "warm" is a drill workload warm read
    wall: float
    ok: bool
    out: object = None


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    size: dict
    layer: dict = field(default_factory=dict)  # extra per-layer values
    # per-layer rates: name -> (phase whose median wall divides, count);
    # phase None divides by the median op wall
    rates: dict = field(default_factory=dict)


class Workload:
    SETUP_REPS = 3
    MIN_OPS = 1  # the window lasts at least --seconds and MIN_OPS ops

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self, tr) -> None:
        """Untimed, after setup: reference answers the ops are checked
        against."""


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _tile_rows_match(rows: pd.DataFrame, want: list) -> bool:
    """Store tile rows (ranked by feature_idx) equal an index tile's
    feature list: same count, types and geometries."""
    if len(rows) != len(want):
        return False
    rows = rows.sort_values("feature_idx")
    return all(
        int(r.type) == f["type"] and json.loads(r.geometry_json) == f["geometry"]
        for r, f in zip(rows.itertuples(index=False), want)
    )


def _feature_df(spark, pdf: pd.DataFrame):
    df = create_feature_df(spark, pdf, FEATURE_SCHEMA).persist()
    df.count()
    return df


# ------------------------------------------------------------------ tile_build
class TileBuild(Workload):
    """Fresh CheckpointedPyramid.run into an empty store, then the
    distributed SparkGeoJSONVT index, over one seeded polygon+line
    corpus with metro hot tiles.  One op = both builds."""

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        imp = ctx.size["build_imp"]
        self.opts = Options(max_zoom=14, index_max_zoom=2,
                            index_max_points=imp, fuse_max_points=imp)
        self.feats = None
        self.last = None  # (store dir, distributed index) of the last op
        self.n_ops = 0

    def setup(self, tr) -> None:
        with tr.span("sources.features"):
            pdf = corpus.shapes(self.ctx.size["build_n"], self.ctx.seed)
            if self.feats is not None:
                self.feats.unpersist()
            self.feats = _feature_df(self.ctx.spark, pdf)
        self.npts = int(pdf["num_points"].sum())

    def op(self, tr) -> list:
        spark = self.ctx.spark
        d = _fresh(os.path.join(self.ctx.work, f"store{self.n_ops % 2}"))
        self.n_ops += 1
        t0 = time.perf_counter()
        with tr.span("checkpoint.run") as sp:
            summ = CheckpointedPyramid(spark, self.opts).run(
                self.feats, d, raw_npts=self.npts)
        for m in summ["manifests"]:
            t1 = os.path.getmtime(
                os.path.join(d, "_manifests", f"level_{m['level']}.json"))
            tr.child(sp, f"checkpoint.level{m['level']}",
                     t1 - m["wall_sec"], t1)
        with tr.span("pyramid.index_build"):
            idx = SparkGeoJSONVT(spark, self.feats, self.opts,
                                 prefer_local=False)
        wall = time.perf_counter() - t0
        self.last = (d, idx)
        tiles = (summ["total_tiles"], len(idx.tiles))
        return [Record("op", wall, tiles[0] == tiles[1], tiles)]

    def check(self, tr, records: list) -> None:
        spark = self.ctx.spark
        with tr.span("core.reference_index"):
            ref = SparkGeoJSONVT(spark, self.feats, self.opts, prefer_local=True)
        want = len(ref.tiles)
        for r in records:
            r.ok = r.ok and r.out == (want, want)
        # a few store tiles read back equal the distributed index's tiles:
        # the root, the fullest tile at the deepest level, and one more
        d, idx = self.last
        tiles = sorted(idx.tiles.values(), key=lambda t: (t.z, -t.num_points))
        deep = [t for t in tiles if t.z == tiles[-1].z]
        picks = {(t.z, t.x, t.y) for t in (tiles[0], deep[0], deep[-1])}
        cp = CheckpointedPyramid(spark, self.opts)
        with tr.span("bench.check"):
            same = all(
                _tile_rows_match(cp.read_tile(d, *k).toPandas(),
                                 idx.get_tile(*k).features)
                for k in sorted(picks)
            )
        records[-1].ok = records[-1].ok and same
        self.ctx.rates.update({
            "checkpoint.run.points_per_s": ("checkpoint.run", self.npts),
            "pyramid.index_build.points_per_s":
                ("pyramid.index_build", self.npts),
        })


# ------------------------------------------------------------------ tile_drill
class TileDrill(Workload):
    """Cold get_tile drill-downs on a pristine copy of a point store,
    then repeated warm reads of the same tiles (which fit the 256-entry
    tile memo).  One op = one pass over the fixed target list.  Setup
    (points and store build) runs once: a second build would take a
    quarter of the run."""

    SETUP_REPS = 1

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        imp = ctx.size["drill_imp"]
        self.opts = Options(max_zoom=14, index_max_zoom=0,
                            index_max_points=imp, fuse_max_points=imp)
        self.pristine = os.path.join(ctx.work, "pristine")
        self.expected: dict = {}

    def setup(self, tr) -> None:
        with tr.span("sources.features"):
            pdf, center = corpus.points(self.ctx.size["drill_n"], self.ctx.seed)
            self.feats = _feature_df(self.ctx.spark, pdf)
        with tr.span("checkpoint.setup_run"):
            CheckpointedPyramid(self.ctx.spark, self.opts).run(
                self.feats, _fresh(self.pristine))
        # the dense cluster, the sparse tile of the most easterly point,
        # and a tile below the data's southern edge
        far = int(np.argmax([xs[0] for xs in pdf["xs"]]))
        self.targets = [
            corpus.tile_of(*center, 13),
            corpus.tile_of(pdf["xs"][far][0], pdf["ys"][far][0], 10),
            corpus.tile_of(-140.0, -82.0, 11),
        ]

    def prepare(self, tr) -> None:
        """Expected tiles from the in-memory index over the same input."""
        with tr.span("core.reference_index"):
            ref = SparkGeoJSONVT(self.ctx.spark, self.feats, self.opts,
                                 prefer_local=True)
            for t in self.targets:
                try:
                    self.expected[t] = list(ref.get_tile(*t).features)
                except LookupError:  # no parent tile: an empty answer
                    self.expected[t] = []

    def op(self, tr) -> list:
        with tr.span("bench.copy_store"):
            d = os.path.join(self.ctx.work, "drill")
            shutil.copytree(self.pristine, _fresh(d))
        cp = CheckpointedPyramid(self.ctx.spark, self.opts)
        out = []
        for t in self.targets:
            with tr.span("checkpoint.get_tile_cold") as sp:
                rows = cp.get_tile(d, *t).toPandas()
            out.append(Record("op", sp["t1"] - sp["t0"],
                              _tile_rows_match(rows, self.expected[t])))
        for _ in range(2):
            for t in self.targets:
                with tr.span("checkpoint.read_tile_warm") as sp:
                    rows = cp.get_tile(d, *t).toPandas()
                out.append(Record("warm", sp["t1"] - sp["t0"],
                                  len(rows) == len(self.expected[t])))
        return out

    def check(self, tr, records: list) -> None:
        warm = [r.wall for r in records if r.kind == "warm"]
        if warm:
            q = np.percentile(warm, [50, 90])
            self.ctx.layer.update({
                "checkpoint.read_tile_warm.p50_ms": float(q[0]) * 1e3,
                "checkpoint.read_tile_warm.p90_ms": float(q[1]) * 1e3,
            })


# ---------------------------------------------------------------- graft_images
def _image_rows(batches):
    for pdf in batches:
        rows = [make_image_row(int(i)) for i in pdf["id"]]
        yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_SCHEMA.fields])


class GraftImages(Workload):
    """Seeded image+caption rows -> footprints and z5 cells -> PIP
    against the tile polygons of a seeded polygon layer -> kNN(3) ->
    raster mosaic.  The polygon index is built inside the op on the
    driver-local core path; image generation is setup.  One op = the
    whole graft; three ops at least, so the median is a warm one."""

    ZOOM = 5
    MIN_OPS = 3

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.raw = None
        self.outs: list = []

    def _inputs(self, tr, n_img: int, n_poly: int, seed: int) -> None:
        spark = self.ctx.spark
        with tr.span("sources.images"):
            base = corpus.image_id_base(seed)
            if self.raw is not None:
                self.raw.unpersist()
            self.raw = spark.range(base, base + n_img, 1, 8).mapInPandas(
                _image_rows, schema=IMAGE_SCHEMA).persist()
            self.raw.count()
        with tr.span("sources.features"):
            self.poly_pdf = corpus.shapes(n_poly, seed, metro_share=0.1)
        self.n_img = n_img

    def setup(self, tr) -> None:
        s = self.ctx.size
        self._inputs(tr, s["images"], s["polygons"], self.ctx.seed)

    def op(self, tr) -> list:
        spark, z = self.ctx.spark, self.ZOOM
        t0 = time.perf_counter()
        with tr.span("spatial.polygon_index"):
            polys_in = create_feature_df(spark, self.poly_pdf, FEATURE_SCHEMA)
            idx = SparkGeoJSONVT(
                spark, polys_in, Options(index_max_zoom=z, index_max_points=0),
                prefer_local=True)
            polys = tile_polygons_df(spark, idx, z)
            centers = local_relation_df(
                spark,
                [(t.x, t.y) for t in idx.get_internal_tiles().values()
                 if t.z == z and t.features],
                "x long, y long")
        with tr.span("spatial.cells"):
            imgs = with_cells(with_footprints(self.raw), z).persist()
            n = imgs.count()
        with tr.span("spatial.pip_join"):
            n_pip = pip_join(imgs, polys, z).count()
        with tr.span("spatial.knn"):
            n_knn = knn_neighbor_tiles(imgs, centers, z, k=3).count()
        with tr.span("spatial.mosaic"):
            mos = mosaic_tiles(imgs, z).select("x", "y", "n_images").toPandas()
        imgs.unpersist()
        wall = time.perf_counter() - t0
        self.idx = idx
        out = dict(rows=n, pip=n_pip, knn=n_knn,
                   mosaic={(int(r.x), int(r.y)): int(r.n_images)
                           for r in mos.itertuples(index=False)})
        return [Record("op", wall, n == self.n_img, out)]

    def check(self, tr, records: list) -> None:
        """Invariants from the cells of every image, computed driver-side:
        kNN rows = sum over images of min(3, occupied tiles among its 3x3
        neighbour cells); one mosaic tile per occupied cell holding
        min(images in cell, SLOTS) images; PIP rows at most the candidate
        (image, polygon) pairs sharing a cell, and equal on every op."""
        z2 = 1 << self.ZOOM
        with tr.span("bench.check"):
            cells = with_cells(with_footprints(self.raw), self.ZOOM).select(
                "cx", "cy").toPandas()
        per_cell = cells.groupby(["cx", "cy"]).size()
        occupied, polys_per_tile = set(), {}
        for t in self.idx.get_internal_tiles().values():
            if t.z == self.ZOOM and t.features:
                occupied.add((t.x, t.y))
                polys_per_tile[(t.x, t.y)] = sum(
                    1 for f in t.features if f["type"] == 3)
        knn = pip_cand = 0
        for (cx, cy), k in per_cell.items():
            near = sum((((cx + dx) % z2, cy + dy) in occupied)
                       for dx in (-1, 0, 1) for dy in (-1, 0, 1))
            knn += k * min(3, near)
            pip_cand += k * polys_per_tile.get((cx, cy), 0)
        mosaic = {(int(cx), int(cy)): min(int(k), SLOTS)
                  for (cx, cy), k in per_cell.items()}
        first_pip = records[0].out["pip"] if records else None
        for r in records:
            o = r.out
            r.ok = (r.ok and o["knn"] == knn and o["mosaic"] == mosaic
                    and o["pip"] <= pip_cand and o["pip"] == first_pip)
        if records:
            self.ctx.layer.update({
                "spatial.pip_hit_ratio": first_pip / max(pip_cand, 1),
                "spatial.mosaic_fill":
                    sum(records[0].out["mosaic"].values()) / self.n_img,
            })
            self.ctx.rates["spatial.rows_per_s"] = (None, self.n_img)


WORKLOADS = {
    "tile_build": TileBuild,
    "tile_drill": TileDrill,
    "graft_images": GraftImages,
}
