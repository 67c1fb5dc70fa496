"""Fixture parity for the numpy twins (no Spark): ports of
/root/reference/test/{latlng,webmercator,simplify_mask,polyline_format}
_test.cc golden values."""

import numpy as np
import pytest

import geospark.functions.numpy_kernels as nk


# --- webmercator_test.cc:5-51 — pixel projection at 256px -------------------
def test_merc_to_pixel_corners():
    mx, my = nk.latlng_to_merc(0.0, 0.0)
    assert nk.merc_to_pixel_x(mx, 0, 256) == 128
    assert nk.merc_to_pixel_y(my, 0, 256) == 128

    mx, my = nk.latlng_to_merc(nk.MERC_MAX_LATITUDE, 180.0)
    assert nk.merc_to_pixel_x(mx, 0, 256) == 256
    assert nk.merc_to_pixel_y(my, 0, 256) == 0

    mx, my = nk.latlng_to_merc(-nk.MERC_MAX_LATITUDE, -180.0)
    assert nk.merc_to_pixel_x(mx, 0, 256) == 0
    assert nk.merc_to_pixel_y(my, 0, 256) == 256


# --- webmercator_test.cc:53-89 — golden merc projection ---------------------
def test_latlng_merc_golden():
    mx, my = nk.latlng_to_merc(50.0, 30.0)
    assert mx == pytest.approx(3339584.7238, rel=1e-6)
    assert my == pytest.approx(6446275.84102, rel=1e-6)
    lat, lng = nk.merc_to_latlng(3339584.7238, 6446275.84102)
    assert lat == pytest.approx(50.0, rel=1e-6)
    assert lng == pytest.approx(30.0, rel=1e-6)
    # world corners
    lim = nk.MERC_ORIGIN_SHIFT
    mx, my = nk.latlng_to_merc(nk.MERC_MAX_LATITUDE, 180.0)
    assert mx == pytest.approx(lim, rel=1e-9)
    assert my == pytest.approx(lim, rel=1e-6)


# --- webmercator_test.cc:138-156 — NW/SE extremes at all zooms ---------------
def test_pixel_extremes_all_zooms():
    for z in range(21):
        px, py = nk.latlng_to_pixel(nk.MERC_MAX_LATITUDE, -180.0, z)
        assert px == 0 and py == 0, z
        px, py = nk.latlng_to_pixel(-nk.MERC_MAX_LATITUDE, 180.0, z)
        assert px == nk.map_size(z) and py == nk.map_size(z), z


# --- latlng_test.cc:8-13 — cardinal bearings (numpy haversine sanity) --------
def test_distance_symmetry_and_xyz_equivalence():
    # xyz_test.cc:24-33: random global points, chord == haversine
    rng = np.random.RandomState(0)
    lats = rng.uniform(0, 180, 100) - 90.0
    lngs = rng.uniform(0, 360, 100) - 180.0
    lat_r, lng_r = np.radians(lats), np.radians(lngs)
    x = 0.5 * np.cos(lat_r) * np.sin(lng_r)
    y = 0.5 * np.cos(lat_r) * np.cos(lng_r)
    z = 0.5 * np.sin(lat_r)
    for i in range(0, 100, 7):
        d_hav = nk.distance(lats[i], lngs[i], lats, lngs)
        chord = np.sqrt((x[i] - x) ** 2 + (y[i] - y) ** 2 + (z[i] - z) ** 2)
        d_xyz = 2 * nk.EARTH_RADIUS_M * np.arcsin(chord)
        np.testing.assert_allclose(d_hav, d_xyz, rtol=1e-6, atol=1e-6)


# --- simplify_mask_test.cc:7-92 ----------------------------------------------
def _px2ll(x, y, z, tile_size=4096):
    mx = x * nk.resolution(z, tile_size) - nk.MERC_ORIGIN_SHIFT
    my = (nk.map_size(z, tile_size) - y) * nk.resolution(z, tile_size) - nk.MERC_ORIGIN_SHIFT
    return nk.merc_to_latlng(mx, my)


def test_simplify_mask_all_required():
    pts = [_px2ll(0, 0, 0), _px2ll(50, 0, 0), _px2ll(100, 0, 0)]
    lats = [p[0] for p in pts]
    lngs = [p[1] for p in pts]
    out = nk.make_simplify_mask(lats, lngs)
    assert out.shape == (21, 3)
    assert list(out[0]) == [True, False, True]


def test_simplify_mask_slight_deviation():
    pts = [_px2ll(0, 0, 0), _px2ll(50, 1, 0), _px2ll(100, 0, 0)]
    lats = [p[0] for p in pts]
    lngs = [p[1] for p in pts]
    out = nk.make_simplify_mask(lats, lngs, 1)
    assert list(out[0]) == [True, True, True]
    out2 = nk.make_simplify_mask(lats, lngs, 2)
    assert list(out2[0]) == [True, False, True]


def test_simplify_mask_recursion():
    pts = [_px2ll(0, 0, 0), _px2ll(50, 1, 0), _px2ll(100, 0, 0), _px2ll(100, 100, 0)]
    lats = [p[0] for p in pts]
    lngs = [p[1] for p in pts]
    out = nk.make_simplify_mask(lats, lngs, 2)
    assert list(out[0]) == [True, False, True, True]
    for z in range(1, 21):
        assert list(out[z]) == [True, True, True, True], z


def test_simplify_mask_mid_level():
    pts = [_px2ll(20, 0, 10), _px2ll(21, 25, 10), _px2ll(20, 50, 10)]
    lats = [p[0] for p in pts]
    lngs = [p[1] for p in pts]
    out = nk.make_simplify_mask(lats, lngs)
    for z in range(0, 11):
        assert list(out[z]) == [True, False, True], z
    for z in range(11, 21):
        assert list(out[z]) == [True, True, True], z


# --- simplify_mask_test.cc:94-132 — apply -----------------------------------
def test_apply_simplify_mask():
    vec = [0, 1, 2, 3]
    assert nk.apply_simplify_mask(np.array([True] * 4), vec) == vec
    assert nk.apply_simplify_mask(np.array([True, False, False, True]), vec) == [0, 3]
    assert nk.apply_simplify_mask(np.array([True, False, True, True]), vec) == [0, 2, 3]
    assert nk.apply_simplify_mask(
        np.array([True, False, False, False, False, True, True]), list(range(7))
    ) == [0, 5, 6]
    assert nk.apply_simplify_mask(
        np.array([True, False, True, True, False, False, True]), list(range(7))
    ) == [0, 2, 3, 6]


# --- simplify_mask_test.cc:134-188 — serialized byte goldens -----------------
def test_serialize_simplify_mask_goldens():
    s = nk.serialize_simplify_mask(np.array([[True, True]]))
    assert len(s) == 9
    assert int.from_bytes(s[0:4], "little") == 0x1
    assert int.from_bytes(s[4:8], "little") == 0x2
    assert s[8] == 0x3

    s = nk.serialize_simplify_mask(np.array([[True, True], [True, True]]))
    assert len(s) == 9
    assert int.from_bytes(s[0:4], "little") == 0x2
    assert int.from_bytes(s[4:8], "little") == 0x2
    assert s[8] == 0x3

    s = nk.serialize_simplify_mask(
        np.array([[True, True, True, True, True, True, True, True, False, True]])
    )
    assert len(s) == 10
    assert int.from_bytes(s[0:4], "little") == 0x1
    assert int.from_bytes(s[4:8], "little") == 10
    assert s[8] == 0xFF
    assert s[9] == 0x2


# --- simplify_mask_test.cc:190-219 — serialize -> apply roundtrip ------------
def test_simplify_mask_serial_apply():
    mask = np.array([[True, False, True]])
    s = nk.serialize_simplify_mask(mask)
    m0 = nk.read_simplify_mask(s, 0)
    assert nk.apply_simplify_mask(m0, [1, 2, 3]) == [1, 3]

    mask = np.array(
        [
            [True, False, False, False, False, False, True, False, False, True],
            [True, False, True, True, False, False, True, False, False, True],
            [True, False, True, True, False, False, True, False, False, True],
        ]
    )
    s = nk.serialize_simplify_mask(mask)
    assert len(s) == 8 + 3
    assert nk.apply_simplify_mask(nk.read_simplify_mask(s, 0), list(range(10))) == [0, 6, 9]
    assert nk.apply_simplify_mask(nk.read_simplify_mask(s, 1), list(range(10))) == [0, 2, 3, 6, 9]


# --- polyline_format_test.cc --------------------------------------------------
def test_polyline_codec_google_example():
    # single coordinate: lat=-179.9832104 encodes to `~oia@
    s = nk.encode_polyline([-179.9832104], [0.0])
    assert s.startswith("`~oia@")
    lats, lngs = nk.decode_polyline("`~oia@" + "?")  # lng delta 0 = '?'
    assert lats[0] == -179.98321
    assert lngs[0] == 0

    lats, lngs = [38.5, 40.7, 43.252], [-120.2, -120.95, -126.453]
    enc = nk.encode_polyline(lats, lngs)
    assert enc == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    dl, dg = nk.decode_polyline(enc)
    np.testing.assert_array_equal(dl, lats)
    np.testing.assert_array_equal(dg, lngs)


def test_polyline_codec_precision_6_and_7():
    lats = [49.4859, 49.4858, 49.4859]
    lngs = [-119.588, -119.588, -119.591]
    enc = nk.encode_polyline(lats, lngs, precision=6)
    assert enc == "wckk}A~habcFfE?gEnzD"
    dl, dg = nk.decode_polyline(enc, precision=6)
    np.testing.assert_array_equal(dl, lats)
    np.testing.assert_array_equal(dg, lngs)
    enc7 = nk.encode_polyline(lats, lngs, precision=7)
    dl, dg = nk.decode_polyline(enc7, precision=7)
    np.testing.assert_array_equal(dl, lats)
    np.testing.assert_array_equal(dg, lngs)


# --- tile_hash_32 sanity: prefix property -------------------------------------
def test_tile_hash_prefix_is_parent():
    lat, lng = 49.8726016, 8.6310396
    h = int(nk.tile_hash_32([lat], [lng])[0])
    px, py = nk.latlng_to_pixel(lat, lng, 16, tile_size=1)
    # reconstruct x/y from morton
    x = y = 0
    for i in range(16):
        x |= ((h >> (2 * i)) & 1) << i
        y |= ((h >> (2 * i + 1)) & 1) << i
    assert x == int(px) & 0xFFFF and y == int(py) & 0xFFFF


# --- cluster_nearby derived fixtures (FIXTURES.md §6) -------------------------
def test_cluster_two_groups_and_isolated():
    lats = [50.0, 50.0001, 50.00005, 60.0, 60.0001, 0.0]
    lngs = [8.0, 8.0001, 8.00005, 9.0, 9.0001, 0.0]
    out = nk.cluster_nearby(lats, lngs, 100.0)
    assert out[0] == out[1] == out[2]
    assert out[3] == out[4]
    assert out[5] not in (out[0], out[3])
    assert out[0] != out[3]


def test_cluster_chain_splits_in_complete_linkage():
    # A-B-C chain: d(A,B), d(B,C) ~ 90m <= 100 < d(A,C) ~ 180m
    # single linkage merges all three; complete linkage must split.
    lats = [50.0, 50.0008, 50.0016]
    lngs = [8.0, 8.0, 8.0]
    d_ab = nk.gc_distance_f(lats[0], lngs[0], lats[1], lngs[1])
    d_ac = nk.gc_distance_f(lats[0], lngs[0], lats[2], lngs[2])
    assert d_ab <= 100.0 < d_ac
    out = nk.cluster_nearby(lats, lngs, 100.0)
    assert not (out[0] == out[1] == out[2])


def test_cluster_small_groups_short_circuit():
    # pair within distance, group size 2 < 3: both get first member's label
    lats = [10.0, 10.00001]
    lngs = [20.0, 20.00001]
    out = nk.cluster_nearby(lats, lngs, 50.0)
    assert out[0] == out[1]


# --- complete-linkage references: the O(n²) kernel is checked against these
def complete_linkage_scalar(lats32: np.ndarray, lngs32: np.ndarray, max_dist: float) -> np.ndarray:
    """(src/cluster_nearby.cc:109-172) literal scalar replication,
    including the quirk that the 'find nearest' scan keeps the LAST
    qualifying pair (it never updates min_dist in the comparison;
    condition is distance >= 0 && distance <= max_dist). Kept as the
    oracle for the vectorized versions."""
    n = lats32.size
    if n == 0:
        raise ValueError("make_complete_linkage_clusters: empty coords")
    clusters = np.arange(n, dtype=np.uint32)
    max_dist = np.float32(max_dist)
    lowest = np.float32(np.finfo(np.float32).min)
    while np.any(clusters != clusters[0]):
        distances = np.full((n, n), lowest, dtype=np.float32)
        for i in range(n):
            for j in range(i):
                ci, cj = clusters[i], clusters[j]
                if ci == cj:
                    continue
                d = nk.gc_distance_f(lats32[i], lngs32[i], lats32[j], lngs32[j])
                if d > distances[ci, cj]:
                    distances[ci, cj] = d
        min_dist = np.float32(np.finfo(np.float32).max)
        best_i = best_j = 0
        found = False
        for i in range(n):
            for j in range(i):
                d = distances[i, j]
                if d >= 0 and d <= max_dist:
                    min_dist = d
                    best_i, best_j = i, j
                    found = True
        if not found:
            break
        ci, cj = clusters[best_i], clusters[best_j]
        clusters[clusters == ci] = cj
    return clusters


def complete_linkage_per_round(lats32: np.ndarray, lngs32: np.ndarray, max_dist: float) -> np.ndarray:
    """Vectorized twin of the scalar version (identical output, tested
    pairwise): pairwise float32 distances precomputed once (they are a
    pure function of the coords; the reference recomputes them every
    round), per-round cluster-pair maxima via np.maximum.at with the
    same (clusters[i], clusters[j]) i>j indexing — including the quirk
    that pairs whose ordered cluster ids land in the upper triangle
    are invisible to the scan — and the 'LAST qualifying lower-triangle
    entry in row-major order' selection via max flat index.

    O(n² per round) = O(n³) total — kept as the mid-level oracle for
    :func:`nk.make_complete_linkage_clusters` (the O(n²) incremental
    version), itself oracled by the literal scalar port above."""
    n = int(lats32.size)
    if n == 0:
        raise ValueError("make_complete_linkage_clusters: empty coords")
    clusters = np.arange(n, dtype=np.uint32)
    max_dist = np.float32(max_dist)
    lowest = np.float32(np.finfo(np.float32).min)
    iu, ju = np.tril_indices(n, k=-1)  # pairs (i, j), j < i — loop order
    d_pairs = nk.gc_distance_f(lats32[iu], lngs32[iu], lats32[ju], lngs32[ju]).astype(np.float32)
    rows = np.repeat(np.arange(n), n).reshape(n, n)
    tri_mask = rows > rows.T  # lower-triangle scan mask: [i, j] iff i > j
    while np.any(clusters != clusters[0]):
        ci = clusters[iu].astype(np.int64)
        cj = clusters[ju].astype(np.int64)
        keep = ci != cj
        distances = np.full((n, n), lowest, dtype=np.float32)
        np.maximum.at(distances, (ci[keep], cj[keep]), d_pairs[keep])
        qual = tri_mask & (distances >= 0) & (distances <= max_dist)
        flat = np.flatnonzero(qual.ravel())
        if flat.size == 0:
            break
        last = int(flat[-1])
        bi, bj = last // n, last % n
        clusters[clusters == np.uint32(bi)] = np.uint32(bj)
    return clusters


def test_complete_linkage_three_way_parity():
    """scalar port (reference-literal) == per-round vectorized ==
    O(n²) incremental, across random components of size 2..40 at
    several latitudes/scales (near-threshold ties included)."""
    rng = np.random.RandomState(97)
    for case in range(120):
        n = int(rng.randint(2, 41))
        lat0 = rng.uniform(-75, 75)
        lng0 = rng.uniform(-179, 179)
        scale = rng.choice([0.3, 1.0, 2.0])
        T = 500.0
        r = rng.uniform(0, 2.2, n) * scale * T
        th = rng.uniform(0, 2 * np.pi, n)
        la = (lat0 + r * np.cos(th) / 111000.0).astype(np.float32)
        ln = (lng0 + r * np.sin(th)
              / (111200.0 * np.cos(np.radians(lat0)))).astype(np.float32)
        a = complete_linkage_scalar(la, ln, T)
        b = complete_linkage_per_round(la, ln, T)
        c = nk.make_complete_linkage_clusters(la, ln, T)
        assert (a == b).all(), (case, n, a, b)
        assert (b == c).all(), (case, n, b, c)


def test_complete_linkage_incremental_matches_per_round_large():
    """Big-component equality (scalar too slow at this size): a dense
    300-point city-core blob plus chains — the size class where the
    incremental version's speedup matters."""
    rng = np.random.RandomState(13)
    n = 300
    la = (48.1 + rng.uniform(-0.004, 0.004, n)).astype(np.float32)
    ln = (11.5 + rng.uniform(-0.006, 0.006, n)).astype(np.float32)
    T = 120.0
    b = complete_linkage_per_round(la, ln, T)
    c = nk.make_complete_linkage_clusters(la, ln, T)
    assert (b == c).all()


def test_simplify_dp_deg_golden_twin_parity():
    """M7 one-shot degree-tolerance DP: the vectorized kernel and the
    independent recursive golden twin (goldens.simplify_dp_deg_py)
    must produce identical keep-masks on pseudorandom polylines."""
    import numpy as np

    from geospark import goldens as GO
    from geospark.functions import numpy_kernels as NK

    rng = np.random.default_rng(20260821)
    for n in (2, 3, 5, 17, 64, 301):
        lats = rng.uniform(-80, 80, n)
        lngs = rng.uniform(-179, 179, n)
        for tol in (0.5, 5.0, 30.0):
            got = NK.simplify_dp_latlng(lats, lngs, tol)
            want = GO.simplify_dp_deg_py(list(zip(lats, lngs)), tol)
            assert got.tolist() == want, (n, tol)
