"""Property-based invariants (hypothesis) for the core math the whole engine
rests on: grid key round-trips, cell encode/decode, cell-type promotion
algebra, PIP consistency, tile codec."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from openeo_geotrellis_extensions_spark.core.celltype import (
    cell_type_union,
    parse_cell_type,
)
from openeo_geotrellis_extensions_spark.core.geom import (
    from_geojson,
    points_in_geometry,
)
from openeo_geotrellis_extensions_spark.core.grid import (
    Extent,
    GlobalGrid,
    LayoutDefinition,
)
from openeo_geotrellis_extensions_spark.core.tiles import (
    EMPTY,
    decode_band,
    decode_tile_float,
    decode_tiles_batch_float,
    encode_band,
    encode_tiles_batch,
)

CT_NAMES = ["uint8", "uint8raw", "uint8ud255", "int8", "uint16", "int16",
            "int32", "float32", "float64"]


@given(
    st.floats(-179.99, 179.99, allow_nan=False),
    st.floats(-89.99, 89.99, allow_nan=False),
    st.integers(0, 12),
)
@settings(max_examples=200, deadline=None)
def test_cell_contains_its_point(x, y, res):
    # tolerance: a point within 1 ULP of a cell boundary may land either
    # side (inherent float grid math, same as Geotrellis mapToGrid)
    cid = int(GlobalGrid.cell_for_point(res, np.array([x]), np.array([y]))[0])
    e = GlobalGrid.cell_extent(cid)
    eps = GlobalGrid.cell_size(res) * 1e-12
    assert e.xmin - eps <= x <= e.xmax + eps
    assert e.ymin - eps <= y <= e.ymax + eps
    # parent at res-1 contains the same cell area
    if res > 0:
        pid = int(GlobalGrid.parent(cid, res - 1))
        pe = GlobalGrid.cell_extent(pid)
        assert pe.contains(e)
        assert cid in GlobalGrid.children(pid)


@given(
    st.floats(-179.99, 179.99, allow_nan=False),
    st.floats(-89.99, 89.99, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_layout_key_roundtrip(x, y):
    ld = LayoutDefinition(Extent(-180, -90, 180, 90), 36, 18, 16, 16)
    c, r = ld.key_for_point(x, y)
    e = ld.extent_for_key(c, r)
    eps = ld.tile_width * 1e-12  # 1-ULP boundary tolerance (see above)
    assert e.xmin - eps <= x <= e.xmax + eps
    assert e.ymin - eps <= y <= e.ymax + eps


@given(st.sampled_from(CT_NAMES), st.sampled_from(CT_NAMES))
@settings(max_examples=100, deadline=None)
def test_celltype_union_commutative_idempotent(a, b):
    u1 = cell_type_union(a, b)
    u2 = cell_type_union(b, a)
    assert u1 == u2
    assert cell_type_union(a, a).base == parse_cell_type(a).base
    # union absorbs both inputs (re-union is a no-op)
    assert cell_type_union(u1.name, a).base == u1.base
    assert cell_type_union(u1.name, b).base == u1.base


@given(st.sampled_from(CT_NAMES),
       st.integers(0, 250), st.integers(1, 12), st.integers(1, 12))
@settings(max_examples=100, deadline=None)
def test_tile_codec_roundtrip(ct_name, fill, h, w):
    ct = parse_cell_type(ct_name)
    arr = np.full((h, w), fill % 120, dtype=ct.dtype)
    back = decode_band(encode_band(arr, ct), ct, (h, w))
    np.testing.assert_array_equal(arr, back)


#: every cell-type family: raw, default nodata, user nodata (int and float)
CODEC_CT_NAMES = CT_NAMES + ["int16raw", "int32raw", "float32raw", "uint16ud7",
                             "int16ud-9999", "float32ud-1", "float64ud0"]


def _ref_encode(x, ct):
    """Per-band reference rule: float/NaN -> cell values; an all-nodata
    band is the EMPTY marker."""
    a = ct.from_float_nan(x)
    if ct.has_nodata and not ct.valid_mask(a).any():
        return EMPTY
    return a.tobytes()


def _ref_decode(bufs, ct, shape, n_bands):
    """Per-band reference decode; missing and EMPTY bands are all-nodata."""
    out = np.empty((n_bands, *shape))
    for b in range(n_bands):
        buf = bufs[b] if b < len(bufs) else None
        if not buf:
            out[b] = np.nan if ct.has_nodata else 0.0
        else:
            out[b] = ct.to_float_nan(np.frombuffer(buf, dtype=ct.dtype).reshape(shape))
    return out


@given(
    st.sampled_from(CODEC_CT_NAMES),
    st.integers(1, 5), st.integers(1, 3), st.integers(1, 6), st.integers(1, 6),
    st.integers(0, 2**31),
)
@settings(max_examples=150, deadline=None)
def test_tile_codec_batch_matches_per_band(ct_name, n, nb, h, w, seed):
    """The batch encoder is byte-equal to the per-band rule (and to
    ``encode_band(from_float_nan(x))``); the batch decoder equals the
    per-band decode and ``decode_tile_float``, including all-NaN bands
    (-> EMPTY) and band lists shorter than ``n_bands``."""
    ct = parse_cell_type(ct_name)
    rng = np.random.default_rng(seed)
    x = np.round(rng.uniform(0, 120, (n, nb, h, w)), 1)
    x[rng.random(x.shape) < 0.3] = np.nan
    x[rng.random((n, nb)) < 0.3] = np.nan  # whole all-nodata bands
    enc = encode_tiles_batch(x, ct)
    assert [len(r) for r in enc] == [nb] * n
    for i in range(n):
        for b in range(nb):
            assert enc[i][b] == _ref_encode(x[i, b], ct)
            assert enc[i][b] == encode_band(ct.from_float_nan(x[i, b]), ct)
        # NaN encodes to the nodata value, so all-NaN bands are EMPTY
        # (float user-nodata types keep NaN cells as NaN instead)
        if ct.has_nodata and (not ct.is_float or np.isnan(ct.nodata)):
            assert all((e == EMPTY) == np.isnan(x[i, b]).all()
                       for b, e in enumerate(enc[i]))
    # truncate some rows' band lists: missing trailing bands are nodata
    lists = [r[: rng.integers(0, nb + 1)] if i % 2 else r for i, r in enumerate(enc)]
    got = decode_tiles_batch_float(lists, ct, (h, w), nb)
    assert got.shape == (n, nb, h, w)
    for i, bufs in enumerate(lists):
        np.testing.assert_array_equal(got[i], _ref_decode(bufs, ct, (h, w), nb))
        if len(bufs) == nb:
            np.testing.assert_array_equal(got[i], decode_tile_float(bufs, ct, (h, w)))


@given(
    st.lists(
        st.tuples(st.floats(-50, 50, allow_nan=False),
                  st.floats(-50, 50, allow_nan=False)),
        min_size=3, max_size=8,
    ),
    st.floats(-60, 60, allow_nan=False),
    st.floats(-60, 60, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_pip_convex_hull_consistency(pts, qx, qy):
    """A point inside a polygon is inside its bbox (PIP => bbox test)."""
    ring = pts + [pts[0]]
    g = from_geojson({"type": "Polygon", "coordinates": [[list(p) for p in ring]]})
    inside = points_in_geometry(g, np.array([qx]), np.array([qy]))[0]
    if inside:
        bb = g.bbox()
        assert bb.xmin <= qx <= bb.xmax and bb.ymin <= qy <= bb.ymax


@given(st.integers(0, 10), st.integers(0, 2**20))
@settings(max_examples=100, deadline=None)
def test_cell_encode_decode(res, seed):
    nx, ny = GlobalGrid.n_cells(res)
    x, y = seed % nx, (seed * 7) % ny
    cid = int(GlobalGrid.encode(res, x, y))
    rr, xx, yy = (int(v) for v in GlobalGrid.decode(cid))
    assert (rr, xx, yy) == (res, x, y)


@given(
    st.integers(1, 400),
    st.integers(2, 64),
    st.integers(0, 40),
    st.integers(0, 10_000),
)
@settings(max_examples=150, deadline=None)
def test_chunking_window_algebra(n_words, chunk, overlap, seed):
    """Pure window math of chunk_documents, replicated in numpy: windows
    start at multiples of (chunk - overlap); the union of windows covers
    every token; consecutive windows share exactly `overlap` tokens except
    the ragged tail; a short doc yields exactly one window."""
    if overlap >= chunk:
        return
    step = chunk - overlap
    n_chunks = max(1, -(-(max(n_words - overlap, 0)) // step))
    starts = [i * step for i in range(n_chunks)]
    ends = [min(s + chunk, n_words) for s in starts]
    # coverage: every token index is inside some window
    covered = np.zeros(n_words, dtype=bool)
    for s, e in zip(starts, ends):
        covered[s:e] = True
    assert covered.all()
    # window starts stay inside the doc (no fully-empty windows)
    assert all(s < n_words for s in starts)
    # overlap between consecutive full windows
    for (s1, e1), (s2, e2) in zip(zip(starts, ends), zip(starts[1:], ends[1:])):
        assert s2 == e1 - overlap or e1 < s1 + chunk  # ragged tail exempt
    if n_words <= chunk:
        assert n_chunks == 1


@given(
    st.integers(0, (1 << 21) - 1),
    st.integers(0, (1 << 21) - 1),
    st.integers(0, (1 << 21) - 1),
)
@settings(max_examples=300, deadline=None)
def test_zindex3_bit_exact_and_ordering(c, r, t):
    """zindex3 == per-bit interleave for arbitrary 21-bit inputs, and
    incrementing one axis (others fixed) strictly increases the key."""
    from openeo_geotrellis_extensions_spark.core.grid import zindex3

    z = int(zindex3([c], [r], [t])[0])
    want = 0
    for b in range(21):
        want |= ((c >> b) & 1) << (3 * b)
        want |= ((r >> b) & 1) << (3 * b + 1)
        want |= ((t >> b) & 1) << (3 * b + 2)
    assert z == want
    if c + 1 < (1 << 21):
        assert int(zindex3([c + 1], [r], [t])[0]) > z
    if t + 1 < (1 << 21):
        assert int(zindex3([c], [r], [t + 1])[0]) > z
