"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of ``(n, seed)``: the same seed gives
the same rows, another seed moves the hot spots and redraws every shape
while keeping the size and skew of the corpus, so timings stay
comparable across seeds.  Shapes follow the package's own synthetic
sources (``sources/synth_features.py``, ``sources/images.py``), which
are index-deterministic and take no seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from geojson_vt_rs_spark.core.geom import (
    GEOM_LINESTRING,
    GEOM_POINT,
    GEOM_POLYGON,
    make_feature,
)
from geojson_vt_rs_spark.operators.schema import features_to_pdf

METROS = ((-74.0, 40.7), (139.7, 35.7), (2.35, 48.85))
DC = (-77.03, 38.9)


def shapes(n: int, seed: int, metro_share: float = 0.3) -> pd.DataFrame:
    """Polygons (2/3) and polylines (1/3) in FEATURE_SCHEMA, with
    ``metro_share`` of them packed around three seed-jittered metros so
    a few tiles are hot; the rest spread over the world."""
    rng = np.random.default_rng([seed, 1])
    metros = np.asarray(METROS) + rng.uniform(-1.0, 1.0, (3, 2))
    in_metro = rng.random(n) < metro_share
    which = rng.integers(0, 3, n)
    cx = np.where(in_metro, metros[which, 0] + rng.uniform(-0.5, 0.5, n),
                  rng.uniform(-179.0, 179.0, n))
    cy = np.where(in_metro, metros[which, 1] + rng.uniform(-0.4, 0.4, n),
                  rng.uniform(-75.0, 75.0, n))
    npts = rng.integers(6, 16, n)
    feats = []
    for i in range(n):
        if i % 3 == 0:
            k = int(npts[i])
            xs = cx[i] + np.cumsum(rng.uniform(-0.05, 0.05, k))
            ys = cy[i] + np.cumsum(rng.uniform(-0.05, 0.05, k))
            f = make_feature(GEOM_LINESTRING, [(xs, ys, np.zeros(k))],
                             props_json=f'{{"i":{i}}}', feature_seq=i)
        else:
            w, h = rng.uniform(0.02, 0.3, 2)
            bx = np.array([0.0, w, w, 0.0, 0.0]) + cx[i]
            by = np.array([0.0, 0.0, h, h, 0.0]) + cy[i]
            bx[:4] += rng.uniform(-0.005, 0.005, 4)
            by[:4] += rng.uniform(-0.005, 0.005, 4)
            bx[4], by[4] = bx[0], by[0]
            f = make_feature(GEOM_POLYGON, [(bx, by, np.zeros(5))],
                             ring_group_sizes=[1],
                             props_json=f'{{"i":{i}}}', feature_seq=i)
        f.num_points = len(f.xs)
        feats.append(f)
    return features_to_pdf(feats)


def points(n: int, seed: int) -> tuple[pd.DataFrame, tuple]:
    """Point features: 20% in a tight cluster near Washington DC (centre
    jittered by the seed), 50% over CONUS, 30% over the world.  Returns
    the FEATURE_SCHEMA frame and the cluster centre (lon, lat)."""
    rng = np.random.default_rng([seed, 2])
    clon, clat = DC[0] + rng.uniform(-0.3, 0.3), DC[1] + rng.uniform(-0.3, 0.3)
    mode = rng.permutation(np.arange(n) % 10)
    r1, r2 = rng.random(n), rng.random(n)
    lon = np.where(mode < 2, clon + (r1 - 0.5) * 0.2,
                   np.where(mode < 7, -124.0 + r1 * 57.0, -179.0 + r1 * 358.0))
    lat = np.where(mode < 2, clat + (r2 - 0.5) * 0.15,
                   np.where(mode < 7, 26.0 + r2 * 22.0, -75.0 + r2 * 150.0))
    zero = np.zeros(1)
    feats = []
    for i in range(n):
        f = make_feature(GEOM_POINT, [(lon[i : i + 1], lat[i : i + 1], zero)],
                         props_json=f'{{"i":{i}}}', feature_seq=i)
        f.num_points = 1
        feats.append(f)
    return features_to_pdf(feats), (clon, clat)


def tile_of(lon: float, lat: float, z: int) -> tuple:
    """Web-mercator tile (z, x, y) holding a lon/lat."""
    z2 = 1 << z
    x = (lon + 180.0) / 360.0
    s = np.sin(np.radians(lat))
    y = 0.5 - 0.25 * np.log((1 + s) / (1 - s)) / np.pi
    return z, int(min(z2 - 1, max(0, x * z2))), int(min(z2 - 1, max(0, y * z2)))


def image_id_base(seed: int) -> int:
    """First image index for a seed: each seed draws a disjoint id range,
    so footprints (a hash of image_id) and pixels both change with it."""
    return int(np.random.default_rng([seed, 3]).integers(0, 1 << 26)) * 64
