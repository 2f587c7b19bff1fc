"""The graft: spatial join + raster pipeline over the image+caption table.

Pipeline (north_rule): image rows get deterministic geo-footprints
(pure hash of image_id — no external data), are assigned hierarchical
quad cells (the reference's own to_id scheme as the H3/S2-style index),
point-in-polygon tested against clipped tile polygons (broadcast join +
even-odd ray-casting filter — higher-order column exprs, no Python),
kNN-matched to neighbor tiles (3x3 cell-neighborhood candidate explode +
ranking window — pure column exprs, no Python), and mosaicked into z/x/y
raster tiles (the one Python stage).

Scale notes:
  * tile polygons are index-sized -> broadcast; the equi-join on (x, y)
    plus each polygon's tile-extent bbox is the prune, so ray-casting
    refines only pairs whose point lies in the polygon bbox, over the
    segments of the point's horizontal band of the polygon.  A Python
    refine would cost a stage of Python tasks whose fixed start-up cost
    is far above the few thousand candidate pairs' work.
  * kNN never leaves the JVM: explode(9 cells) + broadcast join + window.
  * mosaic caps each tile at SLOTS images via a row_number window BEFORE
    the render — bounds per-tile memory under metro-cell skew (AQE
    skew-join handles the join side; the cap handles the render side).
    The render is one mapInPandas over rows clustered by tile into
    defaultParallelism partitions (one per core in local mode): one
    Python call per Arrow batch, not one per tile, in one wave of tasks.
"""

from __future__ import annotations

import json
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_vt_rs_spark.core.geom import GEOM_MULTIPOLYGON
from geojson_vt_rs_spark.functions.geo_synth import METROS
from geojson_vt_rs_spark.functions.mercator import cell_xy, mercator_x, mercator_y
from geojson_vt_rs_spark.operators.schema import local_relation_df
from geojson_vt_rs_spark.sources.images import decode_image
from geojson_vt_rs_spark.sources.png import encode_png

# --------------------------------------------------------------- footprints


def with_footprints(images: DataFrame) -> DataFrame:
    """Deterministic lon/lat per image_id (FIXTURES.md §3): spread by
    hash, with ~30% collapsing into 3 dense metro cells (skew driver)."""
    h = F.xxhash64(F.col("image_id"))
    h2 = F.xxhash64(F.col("image_id"), F.lit("lat"))
    spread_lon = F.pmod(h, F.lit(360000)).cast("double") / 1000.0 - 180.0
    spread_lat = F.pmod(h2, F.lit(160000)).cast("double") / 1000.0 - 80.0
    m = F.pmod(h, F.lit(10))
    jlon = F.pmod(h2, F.lit(97)).cast("double") / 10000.0
    jlat = F.pmod(h, F.lit(89)).cast("double") / 10000.0
    lon = (
        F.when(m == 0, F.lit(METROS[0][0]) + jlon)
        .when(m == 1, F.lit(METROS[1][0]) + jlon)
        .when(m == 2, F.lit(METROS[2][0]) + jlon)
        .otherwise(spread_lon)
    )
    lat = (
        F.when(m == 0, F.lit(METROS[0][1]) + jlat)
        .when(m == 1, F.lit(METROS[1][1]) + jlat)
        .when(m == 2, F.lit(METROS[2][1]) + jlat)
        .otherwise(spread_lat)
    )
    return images.withColumn("lon", lon).withColumn("lat", lat)


def with_cells(df: DataFrame, zoom: int) -> DataFrame:
    """Unit-mercator projection + integer cell coords at ``zoom``."""
    mx = mercator_x(F.col("lon"))
    my = mercator_y(F.col("lat"))
    cx, cy = cell_xy(mx, my, zoom)
    return (
        df.withColumn("mx", mx)
        .withColumn("my", my)
        .withColumn("cx", cx)
        .withColumn("cy", cy)
    )


# ----------------------------------------------------------------- PIP join


def build_tile_polygons(spark: SparkSession, geojson_path: str, zoom: int):
    """Build a tile index fully split to ``zoom`` (index_max_points=0
    forces every non-empty tile to split, lib.rs:305-313) and return its
    polygon features as a broadcastable DataFrame."""
    from geojson_vt_rs_spark.config import Options
    from geojson_vt_rs_spark.operators.pipeline import read_geojson_features
    from geojson_vt_rs_spark.plans.pyramid import SparkGeoJSONVT

    feats = read_geojson_features(spark, geojson_path)
    index = SparkGeoJSONVT(
        spark, feats, Options(index_max_zoom=zoom, index_max_points=0)
    )
    return tile_polygons_df(spark, index, zoom), index


def tile_polygons_df(spark: SparkSession, index, zoom: int) -> DataFrame:
    """Tile polygon features at ``zoom`` from a SparkGeoJSONVT index as a
    broadcastable DataFrame (x, y, feature_idx, rings_json, id_str,
    id_num, minx, maxx, miny, maxy); the bounds are the polygon's
    tile-extent bbox over all of its rings."""
    rows = []
    for tid, t in index.get_internal_tiles().items():
        if t.z != zoom:
            continue
        for idx, f in enumerate(t.features):
            if f["type"] != 3:
                continue
            geom = f["geometry"]
            # normalize Polygon vs MultiPolygon to a flat ring list
            rings = (
                [r for poly in geom for r in poly]
                if f["kind"] == GEOM_MULTIPOLYGON
                else geom
            )
            xs = [p[0] for r in rings for p in r]
            ys = [p[1] for r in rings for p in r]
            rows.append(
                (t.x, t.y, idx, json.dumps(rings), f["id_str"], f["id_num"],
                 math.floor(min(xs)), math.ceil(max(xs)),
                 math.floor(min(ys)), math.ceil(max(ys)))
            )
    # integer bounds keep the VALUES literals plain (a double literal is a
    # CAST per cell); floor/ceil keep them inclusive for any coordinate
    schema = (
        "x long, y long, feature_idx int, rings_json string, "
        "id_str string, id_num long, "
        "minx long, maxx long, miny long, maxy long"
    )
    # LocalRelation: pip_join broadcasts this table, and an RDD-backed
    # build ran a 32-task Python job per use (0.5 s warm on local[32])
    return local_relation_df(spark, rows, schema)


# Even-odd ray casting in the JVM: a point is inside when the segments
# that straddle its horizontal ray cross it to the right of the point an
# odd number of times (holes and multipolygon parts are handled by the
# parity).  The broadcast side parses each polygon's rings once into
# segments, skipping rings of fewer than 3 points, and splits them into
# horizontal bands of extent / _PIP_BANDS units: `bands` holds, per band
# of the polygon's bbox (from floor(miny / h)), the segments whose y range
# meets the band.  A segment straddles ty only when
# min(y0, y1) <= ty < max(y0, y1), and floor(y / h) is monotone, so the
# band of the point holds every segment that can cross its ray: the
# count is exact, and each pair loops over a band's segments, not the
# whole polygon's (higher-order functions are not compiled to generated
# code: each segment is an interpreted call).  The one-element array()
# binds the parsed segments to a lambda variable, so they are parsed once
# per polygon, not once per band.  Over local_relation_df's VALUES plan
# the bands are built while the plan is optimized, on the driver, with
# no job.
_PIP_BANDS = 32
_PIP_BAND_SEGMENTS = """
transform(array(flatten(transform(
  filter(from_json(rings_json, 'array<array<array<double>>>'),
         r -> size(r) >= 3),
  r -> transform(sequence(0, size(r) - 2), i -> named_struct(
    'x0', r[i][0], 'y0', r[i][1], 'x1', r[i + 1][0], 'y1', r[i + 1][1],
    'lo', floor(least(r[i][1], r[i + 1][1]) / {h}D),
    'hi', floor(greatest(r[i][1], r[i + 1][1]) / {h}D)))))),
  segs -> transform(sequence(floor(miny / {h}D), floor(maxy / {h}D)),
    b -> filter(segs, s -> s.lo <= b AND b <= s.hi)))[0]
"""
# The crossings are counted only for a point inside the polygon's bbox,
# which keeps the band index in range; the CASE is what runs that test
# first (the optimizer may put the ray cast ahead of other join
# predicates).  The crossing x is computed in the order
# x0 + ((ty - y0) / (y1 - y0)) * (x1 - x0), and only on a straddling
# segment: y1 != y0 there, so ANSI division never sees a zero divisor.
_PIP_INSIDE = """
CASE WHEN tx BETWEEN minx AND maxx AND ty BETWEEN miny AND maxy THEN
  aggregate(bands[ty_band - floor(miny / {h}D)], 0, (n, s) -> n + CASE
    WHEN (s.y0 > ty) != (s.y1 > ty) THEN IF(
      tx < s.x0 + ((ty - s.y0) / (s.y1 - s.y0)) * (s.x1 - s.x0), 1, 0)
    ELSE 0 END)
ELSE 0 END % 2 = 1
"""


def pip_join(
    images_pts: DataFrame,
    tile_polys: DataFrame,
    zoom: int,
    extent: int = 4096,
) -> DataFrame:
    """Broadcast equi-join on the cell, then the polygon bbox (prune) and
    the ray-cast refine over the point's band, all in the JVM.

    Points are transformed to tile-local extent coords (tile.rs:351-357
    transform without rounding) so the test against the emitted integer
    polygons happens in the polygons' own space.  The bbox bounds are
    inclusive, so the prune drops only pairs the refine would reject: a
    point outside every ring's bbox crosses each closed ring an even
    number of times.  Output: (image_id, caption, cx, cy, feature_idx,
    id_str), with the inputs' nullability (the engine's image and polygon
    tables make all but id_str non-null).  Each DataFrame call costs an
    analysis pass over the polygons' VALUES plan, so the steps are few.
    """
    z2 = float(1 << zoom)
    h = extent / _PIP_BANDS
    ty = (F.col("my") * z2 - F.col("cy")) * extent
    pts = images_pts.select(
        "image_id",
        "caption",
        "cx",
        "cy",
        ((F.col("mx") * z2 - F.col("cx")) * extent).alias("tx"),
        ty.alias("ty"),
        F.floor(ty / h).alias("ty_band"),
    )
    polys = tile_polys.select(
        "x", "y", "feature_idx", "id_str", "minx", "maxx", "miny", "maxy",
        F.expr(_PIP_BAND_SEGMENTS.format(h=h)).alias("bands"),
    )
    return pts.join(
        F.broadcast(polys),
        (pts.cx == polys.x)
        & (pts.cy == polys.y)
        & F.expr(_PIP_INSIDE.format(h=h)),
        "inner",
    ).select("image_id", "caption", "cx", "cy", "feature_idx", "id_str")


# ------------------------------------------------------------------ kNN join


def knn_neighbor_tiles(
    images_pts: DataFrame, tiles_centers: DataFrame, zoom: int, k: int = 3
) -> DataFrame:
    """kNN of each image point to tiles in its 3x3 cell neighborhood.

    Entirely JVM-side: explode of the 9 candidate cells (x wraps mod 2^z,
    y clamped), broadcast equi-join on the candidate cell, squared
    distance to tile centers, ranking window with deterministic
    tie-break.  ``tiles_centers``: (x, y) occupied tiles at ``zoom``.
    """
    z2 = 1 << zoom
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    cand = F.array(
        *[
            F.struct(
                F.pmod(F.col("cx") + dx, F.lit(z2)).alias("nx"),
                (F.col("cy") + dy).alias("ny"),
            )
            for dx, dy in offs
        ]
    )
    pts = images_pts.select(
        "image_id", "mx", "my", "cx", "cy", F.explode(cand).alias("n")
    ).select(
        "image_id",
        "mx",
        "my",
        F.col("n.nx").alias("nx"),
        F.col("n.ny").alias("ny"),
    ).filter((F.col("ny") >= 0) & (F.col("ny") < z2))

    # NOTE: do NOT coalesce(1) an RDD-backed centers table here — a
    # coalesced task evaluates every parent slice sequentially, paying
    # one Python-runner init per slice (measured 1.0 s -> 5 s)
    centers = tiles_centers.select(
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        ((F.col("x") + 0.5) / float(z2)).alias("tcx"),
        ((F.col("y") + 0.5) / float(z2)).alias("tcy"),
    )
    j = pts.join(F.broadcast(centers), ["nx", "ny"], "inner").withColumn(
        "d2",
        (F.col("mx") - F.col("tcx")) * (F.col("mx") - F.col("tcx"))
        + (F.col("my") - F.col("tcy")) * (F.col("my") - F.col("tcy")),
    )
    w = Window.partitionBy("image_id").orderBy(
        F.col("d2").asc(), F.col("nx").asc(), F.col("ny").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("image_id", "rank", F.col("nx").alias("x"), F.col("ny").alias("y"), "d2")
    )


# -------------------------------------------------------------------- mosaic

TILE_PX = 256
SLOT_PX = 16
SLOTS = (TILE_PX // SLOT_PX) ** 2

MOSAIC_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
        T.StructField("tile_png", T.BinaryType()),
        T.StructField("n_images", T.IntegerType()),
        T.StructField("src_bytes", T.LongType()),
        T.StructField("first_image_id", T.StringType()),
        T.StructField("last_image_id", T.StringType()),
        T.StructField("manifest_json", T.StringType()),
    ]
)


def nn_resample(rgb: np.ndarray, size: int = SLOT_PX) -> np.ndarray:
    """Deterministic nearest-neighbor resample to size x size."""
    h, w = rgb.shape[:2]
    yi = (np.arange(size) * h) // size
    xi = (np.arange(size) * w) // size
    return rgb[yi][:, xi]


# Above this zoom the worst-case survivor set (4^zoom tiles x SLOTS ids,
# ~50 B/row) can exceed a safe broadcast size (z7 ~ 4.2M rows ~ 200 MB;
# z8 ~ 16.7M rows would blow the broadcast ceiling), so the explicit
# broadcast hint is dropped and AQE picks the join strategy from the
# ACTUAL survivor size at runtime (still a broadcast when the occupied
# tile count is small, a shuffled hash join otherwise).
MOSAIC_BROADCAST_MAX_ZOOM = 7


def mosaic_tiles(
    images_pts: DataFrame, zoom: int, decode_early: bool = False,
    broadcast_survivors: bool | None = None,
) -> DataFrame:
    """Render one raster tile per occupied cell: up to SLOTS images per
    tile (deterministic min-by-image_id cap — bounds skewed groups), each
    nearest-neighbor resampled into a 16x16 slot of a 256x256 PNG.

    The manifest carries per-tile lineage (slot -> image_id) + row counts
    so downstream verification (PSNR, caption equality) and checkpoint
    resume can audit every partition.
    """
    # Keep the multi-KB `bytes` column off the RANKING shuffle:
    #   1. exact top-SLOTS per tile on a BYTES-FREE projection (cx, cy,
    #      image_id — ~40 B/row): ONE window whose `row_number <= k`
    #      filter compiles to a PARTIAL WindowGroupLimit below the
    #      exchange (SPARK-37099) — every map partition ships at most
    #      SLOTS rows per tile, so a dense metro tile is bounded the
    #      same way the former explicit salt phase bounded it, with one
    #      Exchange instead of two.  (The `slot < SLOTS` formulation on
    #      the post-decrement rank does NOT match the group-limit
    #      pattern and lowered to a full per-tile sort — r6 plan diff:
    #      2 Exchange -> 1 in this subplan.)
    #   2. broadcast the survivor ids back onto the cached image rows —
    #      the survivor set is bounded by n_tiles * SLOTS regardless of
    #      input size (mosaic zooms are low, so this stays driver-safe);
    #   3. the surviving image rows cross the wire exactly ONCE, in the
    #      repartition that clusters each tile into one partition, sorted
    #      by slot, for the batch render (the round-1 plan window-shuffled
    #      them twice more).
    # decode_early=True additionally decodes + nn-resamples map-side so
    # the one wide exchange moves fixed 768-byte slot thumbnails instead
    # of original bytes — the right call when real images are 100KB-10MB;
    # for this synthetic table (~1.5KB/png) the extra Arrow pass costs
    # more than it saves, so it is opt-in.
    ids = images_pts.select("cx", "cy", "image_id")
    w2 = Window.partitionBy("cx", "cy").orderBy(F.col("image_id").asc())
    capped_ids = (
        ids.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") <= SLOTS)
        .select(
            "cx", "cy", "image_id", (F.col("_r") - 1).alias("slot")
        )
    )
    # the survivor set is bounded by occupied_tiles * SLOTS — tiny at low
    # mosaic zooms (hint it broadcast), but worst-case 4^zoom * SLOTS at
    # high zooms; above the threshold let AQE choose from actual sizes
    if broadcast_survivors is None:
        broadcast_survivors = zoom <= MOSAIC_BROADCAST_MAX_ZOOM
    right = F.broadcast(capped_ids) if broadcast_survivors else capped_ids
    joined = images_pts.select(
        "cx", "cy", "image_id", "bytes", "w", "h", "fmt"
    ).join(right, ["cx", "cy", "image_id"], "inner")

    if decode_early:
        slot_schema = T.StructType(
            [
                T.StructField("cx", T.LongType()),
                T.StructField("cy", T.LongType()),
                T.StructField("slot", T.IntegerType()),
                T.StructField("image_id", T.StringType()),
                T.StructField("rgb", T.BinaryType()),
                T.StructField("src_len", T.LongType()),
            ]
        )

        def decode_slots(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rgbs, lens = [], []
                for r in pdf.itertuples(index=False):
                    rgb = decode_image(r.bytes, int(r.w), int(r.h), r.fmt)
                    rgbs.append(nn_resample(rgb).tobytes())
                    lens.append(len(r.bytes))
                yield pd.DataFrame(
                    dict(
                        cx=pdf["cx"].to_numpy(),
                        cy=pdf["cy"].to_numpy(),
                        slot=pdf["slot"].to_numpy(),
                        image_id=pdf["image_id"].to_numpy(),
                        rgb=rgbs if rgbs else np.array([], dtype=object),
                        src_len=lens if lens else np.array([], dtype=np.int64),
                    ),
                    columns=[f.name for f in slot_schema.fields],
                )

        pre = joined.mapInPandas(decode_slots, schema=slot_schema)
    else:
        pre = joined

    per = TILE_PX // SLOT_PX
    out_cols = [f.name for f in MOSAIC_SCHEMA.fields]

    def render_tile(canvas: np.ndarray, pdf: pd.DataFrame) -> tuple:
        """One tile from its rows, already in slot order."""
        canvas.fill(0)
        slots = pdf["slot"].tolist()
        ids = pdf["image_id"].tolist()
        if decode_early:
            thumbs = [
                np.frombuffer(b, dtype=np.uint8).reshape(SLOT_PX, SLOT_PX, 3)
                for b in pdf["rgb"]
            ]
            src_bytes = int(pdf["src_len"].sum())
        else:
            blobs = pdf["bytes"].tolist()
            thumbs = [
                nn_resample(decode_image(b, int(w), int(h), f))
                for b, w, h, f in zip(blobs, pdf["w"], pdf["h"], pdf["fmt"])
            ]
            src_bytes = sum(len(b) for b in blobs)
        for s, rgb in zip(slots, thumbs):
            ry, rx = (s // per) * SLOT_PX, (s % per) * SLOT_PX
            canvas[ry : ry + SLOT_PX, rx : rx + SLOT_PX] = rgb
        manifest = {str(s): i for s, i in zip(slots, ids)}
        return (
            zoom,
            int(pdf["cx"].iat[0]),
            int(pdf["cy"].iat[0]),
            encode_png(canvas),
            len(ids),
            src_bytes,
            min(ids),
            max(ids),
            json.dumps(manifest, sort_keys=True),
        )

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Rows arrive clustered by tile and in slot order within it; a
        tile may straddle Arrow batches, so the last tile of each batch
        (at most SLOTS rows) carries into the next one."""
        canvas = np.zeros((TILE_PX, TILE_PX, 3), dtype=np.uint8)
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                continue
            cx, cy = pdf["cx"].to_numpy(), pdf["cy"].to_numpy()
            starts = np.flatnonzero(
                np.r_[True, (cx[1:] != cx[:-1]) | (cy[1:] != cy[:-1])]
            ).tolist()
            carry = pdf.iloc[starts[-1]:]
            done = [
                render_tile(canvas, pdf.iloc[a:b])
                for a, b in zip(starts[:-1], starts[1:])
            ]
            if done:
                yield pd.DataFrame(done, columns=out_cols)
        if carry is not None:
            yield pd.DataFrame([render_tile(canvas, carry)], columns=out_cols)

    # one exchange clusters each tile's rows into one partition, in slot
    # order; the kernel then renders a whole Arrow batch per Python call.
    # One partition per core: the render runs in one wave of tasks (the
    # survivor rows are bounded by occupied tiles * SLOTS, so the stage
    # does not grow with the input), and AQE leaves an explicit count as
    # is.  defaultParallelism is read when the plan is built, so this
    # assumes local mode or a static set of executors: under dynamic
    # allocation it can be small before executors register, and the
    # count then stays small
    n_render = images_pts.sparkSession.sparkContext.defaultParallelism
    return (
        pre.repartition(n_render, "cx", "cy")
        .sortWithinPartitions("cx", "cy", "slot")
        .mapInPandas(render, schema=MOSAIC_SCHEMA)
    )
