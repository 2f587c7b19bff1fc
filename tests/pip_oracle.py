"""The point-in-polygon oracle the tests check the engine's JVM ray-cast
(`plans/spatial.py pip_join`) against."""

import numpy as np


def ray_cast_inside(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Vectorized even-odd ray casting: for each point, odd crossing count
    over all rings = inside (holes handled by parity).  Fully vectorized
    (segments x points) — no per-segment Python loop; crossings per point
    are XOR-folded via a parity sum.  Rings of fewer than 3 points are
    skipped."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) < 3:
            continue
        x0 = r[:-1, 0][:, None]
        y0 = r[:-1, 1][:, None]
        x1 = r[1:, 0][:, None]
        y1 = r[1:, 1][:, None]
        # (n_seg, n_pts): segment straddles the point's horizontal ray
        straddle = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (py - y0) / (y1 - y0)
            xcross = x0 + t * (x1 - x0)
        crossings = (straddle & (px < xcross)).sum(axis=0)
        inside ^= (crossings & 1).astype(bool)
    return inside
