"""One-shot single-tile render (EP2, /root/reference/src/lib.rs:91-143):
the index's own convert -> [wrap] -> x/y clip -> emit chain without the
split recursion, as ONE Python pass made of the pyramid's kernels:

* ``_convert_wrap_kernel`` at the one-shot tolerance (tol/extent)/2^z,
  wrapping only with ``wrap_``;
* the x then y clip against the FULL buffer band p = buffer/extent
  (lib.rs:113 — the indexed split path uses the half buffer), when
  ``clip_`` or line metrics;
* ``_rs_body``'s render of the surviving rows tagged with the requested
  tile.

The pass's tasks return the tile's feature rows with their order keys
and one stats partial each; a single finishing task (``repartition(1)``:
only the one tile's rows move) ranks feature_idx from the order keys and
sums the partials into the tile's stats row.  This is the engine's
minimum end-to-end slice of the tiler (the driver contract's `entry()`
is `q_cell_assign`, in `__spark_entry__.py`)."""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from geojson_vt_rs_spark.config import Options, TileOptions
from geojson_vt_rs_spark.core.clip import clip_feature
from geojson_vt_rs_spark.operators.pipeline import (
    FEATURE_COLS,
    _convert_wrap_kernel,
    _rs_body,
    tile_rows,
)
from geojson_vt_rs_spark.operators.schema import (
    TILE_ROW_SCHEMA,
    TILE_STORE_SCHEMA,
    feature_to_row,
    pdf_to_features,
)
from geojson_vt_rs_spark.plans.checkpoint import _stats_row

ORDER = ["world_copy", "feature_seq", "slice_path", "sub_idx"]
STORE_COLS = [f.name for f in TILE_STORE_SCHEMA.fields]
ROW_COLS = [f.name for f in TILE_ROW_SCHEMA.fields]


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
    """Returns the rendered tile as a DataFrame of TILE_ROW_SCHEMA rows:
    its feature rows (feature_idx 0..n-1, in the core emitter's order)
    and exactly one stats row (feature_idx -1), also when no feature
    reaches the tile."""
    o = options or TileOptions()
    z2 = 1 << z
    p = o.buffer / o.extent
    cw = _convert_wrap_kernel((o.tolerance / o.extent) / z2, False, p,
                              o.line_metrics, wrap=wrap_)
    band = None
    if clip_ or o.line_metrics:
        band = ((x - p) / z2, (x + 1.0 + p) / z2,
                (y - p) / z2, (y + 1.0 + p) / z2)
    # the one-shot has no max_zoom (lib.rs:102,133-142): the sentinel -1
    # matches no real z, so _rs_body renders at tol/(2^z*extent)
    render_opts = Options(max_zoom=-1, tile=o)

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        body = _rs_body(render_opts)
        rows = cw(batches)
        if band is not None:
            rows = _clip(rows, band, o.line_metrics)
        tnp = ns = 0
        for pdf in tile_rows(rows, (z, x, y), "leaf"):
            feats, _, per_tile = body(pdf)
            tnp += int(pdf["num_points"].sum())
            ns += sum(per_tile.values())
            for f in feats:
                yield f.assign(feature_idx=None, tile_num_points=None,
                               tile_num_simplified=None,
                               action=None)[STORE_COLS]
        # one stats partial per task, also for an empty partition
        yield pd.DataFrame([_stats_row(z, x, y, tnp, ns, None)],
                           columns=STORE_COLS)

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        got = list(batches)
        rows = pd.concat(got, ignore_index=True) if got else pd.DataFrame(
            columns=STORE_COLS)
        st = (rows["feature_idx"] == -1).to_numpy()
        tnp = int(rows.loc[st, "tile_num_points"].sum())
        ns = int(rows.loc[st, "tile_num_simplified"].sum())
        feats = rows.loc[~st].sort_values(ORDER, kind="stable").rename(
            columns=lambda c: c.removeprefix("tile_"))
        if len(feats):
            yield feats.assign(
                feature_idx=np.arange(len(feats), dtype=np.int32),
                num_points=tnp, num_simplified=ns)[ROW_COLS]
        yield pd.DataFrame([dict.fromkeys(ROW_COLS) | dict(
            z=z, x=x, y=y, feature_idx=-1, num_points=tnp,
            num_simplified=ns)], columns=ROW_COLS)

    return (features_df.mapInPandas(render, schema=TILE_STORE_SCHEMA)
            .repartition(1).mapInPandas(finish, schema=TILE_ROW_SCHEMA))


def _clip(batches: Iterator[pd.DataFrame], band: tuple,
          lm: bool) -> Iterator[pd.DataFrame]:
    """Converted rows clipped to ``band`` (x1, x2, y1, y2) on x, then y
    (clip.rs:365-433).  clip_feature's trivial accepts and rejects run as
    bbox masks over each batch, so only straddling rows are clipped per
    feature; the y masks read the unclipped bbox only of rows the x band
    accepts unchanged."""
    x1, x2, y1, y2 = band
    for pdf in batches:
        xm, xM, ym, yM = (pdf[c].to_numpy() for c in (
            "bbox_min_x", "bbox_max_x", "bbox_min_y", "bbox_max_y"))
        x_in = (xm >= x1) & (xM < x2)
        inside = x_in & (ym >= y1) & (yM < y2)
        cut = ~(inside | (xM < x1) | (xm >= x2)
                | (x_in & ((yM < y1) | (ym >= y2))))
        yield pdf.loc[inside]
        yield pd.DataFrame([
            feature_to_row(h) for f in pdf_to_features(pdf.loc[cut])
            for g in clip_feature(f, 0, x1, x2, lm)
            for h in clip_feature(g, 1, y1, y2, lm)
        ], columns=FEATURE_COLS)
