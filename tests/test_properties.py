"""Property-based invariants (hypothesis) over the pure numpy kernels
— no Spark session, so hundreds of random cases run in milliseconds.
The reference ships only hand-picked fixtures; these cover the input
space between them."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from geospark.functions import numpy_kernels as NK

lat_s = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False)
lng_s = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(lat_s, lng_s, lat_s, lng_s)
def test_distance_symmetric_nonnegative_triangleish(a, b, c, d):
    d1 = float(NK.distance(a, b, c, d))
    d2 = float(NK.distance(c, d, a, b))
    assert d1 >= 0.0
    assert abs(d1 - d2) < 1e-6
    # no pair on the sphere is farther than half the circumference
    assert d1 <= np.pi * 6371000.0 + 1.0


@settings(max_examples=200, deadline=None)
@given(lat_s, lng_s)
def test_chord_identity_equals_haversine(lat, lng):
    # S12 invariant (xyz_test.cc:26-33): 2R*asin(|a-b|/2) over unit
    # 3-vectors == haversine (independent trigonometric identity)
    import math

    def unit(la, ln):
        la, ln = math.radians(la), math.radians(ln)
        return (math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln),
                math.sin(la))

    a, b = unit(50.0, 8.0), unit(lat, lng)
    chord = math.dist(a, b)
    gc = 2.0 * 6371000.0 * math.asin(min(1.0, chord / 2.0))
    hav = float(NK.distance(50.0, 8.0, lat, lng))
    assert abs(hav - gc) < 1e-4 * max(1.0, hav)


@settings(max_examples=200, deadline=None)
@given(lat_s, lng_s, st.integers(min_value=0, max_value=16))
def test_tile_parent_shift_composition(lat, lng, z):
    # P9: x TRUNCATES, so shifting the child composes exactly with
    # recomputation at the parent zoom; y ROUNDS (webmercator.h:207-215)
    # so recompute-vs-shift may differ by one at cell boundaries — the
    # precise reason the engine derives every cell by shifting the z=16
    # pixel instead of reprojecting per zoom.
    px, py = NK.latlng_to_pixel(lat, lng, z, tile_size=1)
    if z > 0:
        qx, qy = NK.latlng_to_pixel(lat, lng, z - 1, tile_size=1)
        assert int(px) >> 1 == int(qx)
        assert abs((int(py) >> 1) - int(qy)) <= 1
    n = 1 << z
    assert 0 <= int(px) <= n  # lng=180 exactly may hit n (no clamp, as ref)
    assert 0 <= int(py) <= n


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lat_s, lng_s), min_size=1, max_size=12),
       st.integers(min_value=0, max_value=7))
def test_polyline_codec_roundtrip_quantizes(points, precision):
    # G1/G3/G4: decode(encode(x)) == llround-quantized x
    lats = [p[0] for p in points]
    lngs = [p[1] for p in points]
    enc = NK.encode_polyline(lats, lngs, precision)
    dlats, dlngs = NK.decode_polyline(enc, precision)
    k = 10 ** precision
    assert len(dlats) == len(lats)
    # llround quantization: at most half a quantum of error per coord
    for v, dv in zip(lats, dlats):
        assert abs(dv - v) <= 0.5 / k + 1e-12
    for v, dv in zip(lngs, dlngs):
        assert abs(dv - v) <= 0.5 / k + 1e-12


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lat_s, lng_s), min_size=2, max_size=10))
def test_simplify_mask_invariants(points):
    lats = np.array([p[0] for p in points])
    lngs = np.array([p[1] for p in points])
    masks = NK.make_simplify_mask(lats, lngs)
    assert masks.shape == (21, len(points))
    # endpoints always kept, masks monotone down the pyramid (a point
    # kept at z stays kept at z+1: thresholds only shrink)
    assert masks[:, 0].all() and masks[:, -1].all()
    for z in range(20):
        assert not (masks[z] & ~masks[z + 1]).any()
    # serialize -> read roundtrip at every level
    blob = NK.serialize_simplify_mask(masks)
    for z in (0, 7, 20):
        got = NK.read_simplify_mask(bytes(blob), z)
        assert (np.asarray(got, bool) == masks[z]).all()


@settings(max_examples=150, deadline=None)
@given(lat_s, lng_s, st.floats(min_value=1.0, max_value=1e6),
       st.floats(min_value=0.0, max_value=360.0))
def test_destination_point_roundtrip(lat, lng, dist, bearing):
    # S7 vs S1: travelling dist along any bearing lands dist away
    # (independent great-circle formula vs the haversine kernel)
    import math

    r = 6371000.0
    la1, th = math.radians(lat), math.radians(bearing)
    dr = dist / r
    la2 = math.asin(
        math.sin(la1) * math.cos(dr) + math.cos(la1) * math.sin(dr) * math.cos(th)
    )
    ln2 = math.radians(lng) + math.atan2(
        math.sin(th) * math.sin(dr) * math.cos(la1),
        math.cos(dr) - math.sin(la1) * math.sin(la2),
    )
    back = float(NK.distance(lat, lng, math.degrees(la2), math.degrees(ln2)))
    assert abs(back - dist) < max(1.0, dist * 1e-6)


@settings(max_examples=150, deadline=None)
@given(lat_s, lng_s, lat_s, lng_s, lat_s, lng_s)
# a 4-degree meridian segment at 72-76 S, the query 37 degrees east:
# on the sphere the Mercator closest point (-73, 0) is 1,183,789 m
# away and the endpoint (-76, 0) 1,127,289 m, so a haversine bound
# with 5% slack fails here
@example(qa=-73.0, qb=37.0, fa=-76.0, fb=0.0, ta=-72.0, tb=0.0)
def test_closest_on_segment_is_on_segment_and_closer(qa, qb, fa, fb, ta, tb):
    from geospark import goldens as GO

    c = GO.closest_on_segment((qa, qb), (fa, fb), (ta, tb))
    # the point lies ON the segment: inside its bbox in latlng, and on
    # its line in Mercator space (the plane the reference works in,
    # src/latlng.cc:111-146)
    eps = 1e-6
    assert min(fa, ta) - eps <= c[0] <= max(fa, ta) + eps
    assert min(fb, tb) - eps <= c[1] <= max(fb, tb) + eps
    (qx, qy), (cx, cy), (fx, fy), (tx, ty) = (
        GO._merc(*p) for p in ((qa, qb), c, (fa, fb), (ta, tb)))
    # (|cross| / |segment| is the distance from the line, in metres)
    cross = (cx - fx) * (ty - fy) - (cy - fy) * (tx - fx)
    assert abs(cross) <= 1e-6 * math.hypot(tx - fx, ty - fy)
    # and in Mercator distance it is no farther than either endpoint
    d_c = math.hypot(qx - cx, qy - cy)
    d_f = math.hypot(qx - fx, qy - fy)
    d_t = math.hypot(qx - tx, qy - ty)
    assert d_c <= min(d_f, d_t) + 1e-6


@settings(max_examples=60, deadline=None)
@given(st.integers(2, 40), st.floats(0.05, 40.0, allow_nan=False),
       st.integers(0, 2**31 - 1))
def test_simplify_dp_twin_parity_property(n, tol, seed):
    """M7 one-shot DP: the vectorized stack kernel and the recursive
    golden twin agree on arbitrary polylines and tolerances
    (first-max tie rule included)."""
    from geospark import goldens as GO

    rng = np.random.default_rng(seed)
    lats = rng.uniform(-80, 80, n)
    lngs = rng.uniform(-179, 179, n)
    got = NK.simplify_dp_latlng(lats, lngs, tol).tolist()
    want = GO.simplify_dp_deg_py(list(zip(lats, lngs)), tol)
    assert got == want
    assert got[0] and got[-1]  # endpoints always kept


@settings(max_examples=40, deadline=None)
@given(st.integers(4, 24), st.integers(1, 4), st.integers(0, 2**31 - 1))
def test_semdedup_py_structural_property(n, k, seed):
    """The semdedup golden twin's output is always a valid keep-one
    labeling: canonical ids are group minima and fixed points, dup
    flags are consistent, groups never span clusters."""
    from geospark import goldens as GO

    rng = np.random.default_rng(seed)
    vecs = [(i, [float(x) for x in rng.uniform(-1, 1, 6)])
            for i in range(n)]
    # plant one duplicate pair so groups exist sometimes
    vecs[n - 1] = (n - 1, [v + 1e-6 for v in vecs[0][1]])
    rows = GO.semdedup_py(vecs, min(k, n), 2,
                          tau_num=9801, tau_den=10000)
    by_id = {r[0]: r for r in rows}
    assert sorted(by_id) == list(range(n))
    for vid, cid, canon, is_dup in rows:
        assert canon <= vid
        assert is_dup == int(canon != vid)
        assert by_id[canon][3] == 0 and by_id[canon][2] == canon
        assert by_id[canon][1] == cid  # same cluster as canonical


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 9), st.integers(1, 7), st.integers(0, 2**31 - 1),
       st.booleans())
def test_bmp_decode_roundtrip_property(w, h, seed, top_down):
    """Built-in BMP decode recovers arbitrary pixel arrays exactly —
    every width exercises a different row-stride padding."""
    from geospark import multimodal as M
    from tests.test_embeddings import _bmp24_bytes

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(
        M.decode_image(_bmp24_bytes(px, top_down=top_down)), px)
    p6 = b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()
    assert np.array_equal(M.decode_image(p6), px)
