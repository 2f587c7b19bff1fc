"""One-shot single-tile render (EP2, /root/reference/src/lib.rs:91-143),
as a straight-line Spark plan: convert -> [wrap] -> x/y clip (FULL buffer
p = buffer/extent, lib.rs:113 — note the indexed split path uses the half
buffer) -> grouped emit.  This is the engine's minimum end-to-end slice
of the tiler (the driver contract's `entry()` is `q_cell_assign`, in
`__spark_entry__.py`)."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geojson_vt_rs_spark.config import Options, TileOptions
from geojson_vt_rs_spark.operators.pipeline import (
    clip_xy_stage,
    convert_stage,
    emit_stage,
    wrap_stage,
)


def geojson_to_tile_df(
    spark: SparkSession,
    features_df: DataFrame,
    z: int,
    x: int,
    y: int,
    options: Optional[TileOptions] = None,
    wrap_: bool = False,
    clip_: bool = True,
) -> DataFrame:
    """Returns the rendered tile as a DataFrame of TILE_ROW_SCHEMA rows
    (feature rows ordered by feature_idx; one stats row with idx=-1)."""
    o = options or TileOptions()
    z2 = 1 << z
    tolerance = (o.tolerance / o.extent) / z2
    df = convert_stage(features_df, tolerance, False)
    if wrap_:
        df = wrap_stage(df, o.buffer / o.extent, o.line_metrics)
    if clip_ or o.line_metrics:
        p = o.buffer / o.extent
        df = clip_xy_stage(
            df,
            ((x - p) / z2, (x + 1.0 + p) / z2),
            ((y - p) / z2, (y + 1.0 + p) / z2),
            o.line_metrics,
        )
    tiled = df.select(
        F.lit(z).alias("z"), F.lit(x).alias("x"), F.lit(y).alias("y"), "*"
    )
    # emit at the per-zoom tolerance tol/(2^z*extent) with NO 0-at-max_zoom
    # rule — the one-shot path has no max_zoom (lib.rs:102,133-142); the
    # sentinel max_zoom=-1 never matches a real z, so emit_stage computes
    # exactly that tolerance
    return emit_stage(tiled, _EmitOpts(o))


class _EmitOpts:
    """Adapter giving emit_stage the one-shot tolerance semantics."""

    def __init__(self, tile: TileOptions):
        self.tile = tile
        self.max_zoom = -1
