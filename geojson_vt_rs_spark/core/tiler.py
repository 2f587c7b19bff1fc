"""Local (single-process) quadtree tiler — the semantic reference for the
distributed Spark pyramid in plans/pyramid.py and the engine used inside
per-partition kernels.

Mirrors GeoJSONVT (/root/reference/src/lib.rs:145-434):
  * first pass splits from z0 until index_max_zoom or index_max_points
    (lib.rs:305-313), retaining source features on leaves for later
    drill-down
  * get_tile memoizes; misses drill down from the nearest memoized
    ancestor (lib.rs:184-245) and may create empty tiles along the way
    (these count in stats/total, observable in tests.rs:404-431)
  * child clip bands use the HALF buffer 0.5*buffer/extent (lib.rs:340)
    versus the full buffer in the one-shot geojson_to_tile path
    (lib.rs:113)
  * per-zoom tolerance = tolerance/(2^z * extent), exactly 0 at max_zoom
    (lib.rs:268-272)
"""

from __future__ import annotations

from typing import Dict, List, Optional

from geojson_vt_rs_spark.config import Options, TileOptions
from geojson_vt_rs_spark.core.clip import clip_features
from geojson_vt_rs_spark.core.project import convert
from geojson_vt_rs_spark.core.tile import TileEmitter, emit_tile
from geojson_vt_rs_spark.core.wrap import wrap


def to_id(z: int, x: int, y: int) -> int:
    """Tile key ((1<<z)*y + x)*32 + z (lib.rs:64-66)."""
    return (((1 << z) * y + x) * 32) + z


EMPTY_TILE = TileEmitter(0, 0, 0, 4096, 0.0, False)


class InternalTile:
    __slots__ = ("emitter", "source_features")

    def __init__(self, emitter: TileEmitter, source_features: list):
        self.emitter = emitter
        self.source_features = source_features


class GeoJSONVT:
    """In-memory tile index over raw lon/lat features."""

    def __init__(self, features_raw: list, options: Optional[Options] = None):
        self.options = options or Options()
        o = self.options
        self.stats: Dict[int, int] = {}
        self.total = 0
        self.tiles: Dict[int, InternalTile] = {}

        z2 = 1 << o.max_zoom
        converted = convert(
            features_raw,
            (o.tile.tolerance / o.tile.extent) / z2,
            o.generate_id,
        )
        features = wrap(
            converted, o.tile.buffer / o.tile.extent, o.tile.line_metrics
        )
        self._split(features, 0, 0, 0, 0, 0, 0)

    # ------------------------------------------------------------------
    def _tolerance_at(self, z: int) -> float:
        o = self.options
        if z == o.max_zoom:
            return 0.0
        return o.tile.tolerance / (float(1 << z) * o.tile.extent)

    def _split(self, features, z, x, y, cz, cx, cy):
        o = self.options
        tid = to_id(z, x, y)

        if tid not in self.tiles:
            em = emit_tile(
                features, z, x, y, o.tile.extent, self._tolerance_at(z), o.tile.line_metrics
            )
            self.tiles[tid] = InternalTile(em, [])
            self.stats[z] = self.stats.get(z, 0) + 1
            self.total += 1

        tile = self.tiles[tid]

        if not features:
            return

        if cz == 0:
            # first pass: stop at index_max_zoom or small tiles, retain
            if z == o.index_max_zoom or tile.emitter.num_points <= o.index_max_points:
                tile.source_features = features
                return
        else:
            if z == o.max_zoom:
                return
            if z == cz:
                tile.source_features = features
                return
            # not an ancestor of the target -> stop and retain
            m = 1 << (cz - z)
            if x != cx // m or y != cy // m:
                tile.source_features = features
                return

        z2 = float(1 << z)
        p = 0.5 * o.tile.buffer / o.tile.extent
        lm = o.tile.line_metrics

        left = clip_features(features, 0, (x - p) / z2, (x + 0.5 + p) / z2, lm)
        right = clip_features(features, 0, (x + 0.5 - p) / z2, (x + 1.0 + p) / z2, lm)

        self._split(
            clip_features(left, 1, (y - p) / z2, (y + 0.5 + p) / z2, lm),
            z + 1, x * 2, y * 2, cz, cx, cy,
        )
        self._split(
            clip_features(left, 1, (y + 0.5 - p) / z2, (y + 1.0 + p) / z2, lm),
            z + 1, x * 2, y * 2 + 1, cz, cx, cy,
        )
        self._split(
            clip_features(right, 1, (y - p) / z2, (y + 0.5 + p) / z2, lm),
            z + 1, x * 2 + 1, y * 2, cz, cx, cy,
        )
        self._split(
            clip_features(right, 1, (y + 0.5 - p) / z2, (y + 1.0 + p) / z2, lm),
            z + 1, x * 2 + 1, y * 2 + 1, cz, cx, cy,
        )

        # sliced further down -> drop retained source geometry (lib.rs:430-433)
        self.tiles[tid].source_features = []

    # ------------------------------------------------------------------
    @classmethod
    def subtree(
        cls,
        features: list,
        options: Options,
        rz: int,
        rx: int,
        ry: int,
    ) -> "GeoJSONVT":
        """Run the first-pass split recursion over already-converted/
        wrapped/clipped features rooted at (rz,rx,ry) — used by the Spark
        pyramid to fuse a whole small subtree into one task."""
        vt = cls.__new__(cls)
        vt.options = options
        vt.stats = {}
        vt.total = 0
        vt.tiles = {}
        vt._split(features, rz, rx, ry, 0, 0, 0)
        return vt

    # ------------------------------------------------------------------
    def find_parent(self, z: int, x: int, y: int) -> Optional[InternalTile]:
        while z != 0:
            z -= 1
            x //= 2
            y //= 2
            t = self.tiles.get(to_id(z, x, y))
            if t is not None:
                return t, z, x, y  # type: ignore[return-value]
        return None

    def get_tile(self, z: int, x_: int, y: int) -> TileEmitter:
        o = self.options
        if z > o.max_zoom:
            raise ValueError(f"Requested zoom higher than maxZoom: {z}")
        z2 = 1 << z
        x = ((x_ % z2) + z2) % z2
        tid = to_id(z, x, y)
        if tid in self.tiles:
            return self.tiles[tid].emitter

        parent = self.find_parent(z, x, y)
        if parent is None:
            raise LookupError("Parent tile not found")
        pt, pz, px, py = parent
        self._split(list(pt.source_features), pz, px, py, z, x, y)
        if tid in self.tiles:
            return self.tiles[tid].emitter
        if self.find_parent(z, x, y) is None:
            raise LookupError("Parent tile not found")
        return EMPTY_TILE

    def get_internal_tiles(self) -> Dict[int, InternalTile]:
        return self.tiles


def geojson_to_tile(
    features_raw: list,
    z: int,
    x: int,
    y: int,
    options: Optional[TileOptions] = None,
    wrap_: bool = False,
    clip_: bool = True,
) -> TileEmitter:
    """One-shot single-tile render, no index (lib.rs:91-143).

    Uses per-zoom tolerance (tol/extent)/2^z and the FULL buffer
    p = buffer/extent (lib.rs:102,113), unlike the indexed split path.
    """
    o = options or TileOptions()
    z2 = 1 << z
    tolerance = (o.tolerance / o.extent) / z2
    features = convert(features_raw, tolerance, False)
    if wrap_:
        features = wrap(features, o.buffer / o.extent, o.line_metrics)
    if clip_ or o.line_metrics:
        p = o.buffer / o.extent
        features = clip_features(
            features, 0, (x - p) / z2, (x + 1.0 + p) / z2, o.line_metrics
        )
        features = clip_features(
            features, 1, (y - p) / z2, (y + 1.0 + p) / z2, o.line_metrics
        )
    return emit_tile(features, z, x, y, o.extent, tolerance, o.line_metrics)
