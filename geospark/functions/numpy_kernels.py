"""Numpy twins of the Column kernels, for use inside Arrow-batched
pandas UDFs (Douglas-Peucker masks, polyline codec, clustering) and as
local oracles in tests.

Semantics mirror motis-project/geo exactly, including dtype quirks
(float32 clustering, llround codec quantization, x-truncate/y-round
pixel asymmetry). File:line cites refer to /root/reference/.
"""

from __future__ import annotations

import math

import numpy as np

PI = 3.14159265358979323846
EARTH_RADIUS_M = 6371000.0
EPSILON = 1e-9
MERC_EARTH_RADIUS = 6378137.0
MERC_ORIGIN_SHIFT = PI * MERC_EARTH_RADIUS
MERC_MAX_LATITUDE = 85.0511287798
MAX_SIMPLIFY_ZOOM = 20


# --- S1 haversine (src/latlng.cc:29-31) ------------------------------------
def distance(lat1, lng1, lat2, lng2):
    lat1, lng1, lat2, lng2 = (np.asarray(v, dtype=np.float64) for v in (lat1, lng1, lat2, lng2))
    dlat = np.radians(lat2 - lat1) / 2.0
    dlng = np.radians(lng2 - lng1) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlng) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(a)))


# --- P1 latlng -> merc (webmercator.h:158-165) ------------------------------
def latlng_to_merc(lat, lng):
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERC_MAX_LATITUDE, MERC_MAX_LATITUDE)
    s = np.sin(np.radians(lat))
    x = MERC_EARTH_RADIUS * np.radians(np.asarray(lng, dtype=np.float64))
    y = MERC_EARTH_RADIUS * np.log((1.0 + s) / (1.0 - s)) / 2.0
    return x, y


def merc_to_latlng(x, y):
    d = 180.0 / PI
    lat = (2.0 * np.arctan(np.exp(np.asarray(y, np.float64) / MERC_EARTH_RADIUS)) - PI / 2) * d
    lng = np.asarray(x, np.float64) * d / MERC_EARTH_RADIUS
    return lat, lng


def resolution(z: int, tile_size: int = 4096) -> float:
    return (2.0 * PI * MERC_EARTH_RADIUS / tile_size) / (1 << z)


def map_size(z: int, tile_size: int = 4096) -> int:
    return tile_size << z


# --- P3 merc -> pixel: x truncates, y rounds (webmercator.h:207-219) --------
def merc_to_pixel_x(x, z: int, tile_size: int = 4096):
    return np.trunc((np.asarray(x, np.float64) + MERC_ORIGIN_SHIFT) / resolution(z, tile_size)).astype(np.int64)


def merc_to_pixel_y(y, z: int, tile_size: int = 4096):
    v = map_size(z, tile_size) - (np.asarray(y, np.float64) + MERC_ORIGIN_SHIFT) / resolution(z, tile_size)
    # std::round = half away from zero
    return np.trunc(np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))).astype(np.int64)


def latlng_to_pixel(lat, lng, z: int, tile_size: int = 4096):
    mx, my = latlng_to_merc(lat, lng)
    return merc_to_pixel_x(mx, z, tile_size), merc_to_pixel_y(my, z, tile_size)


# --- S10 tile_hash_32 (src/latlng.cc:75-96) ---------------------------------
def tile_hash_32(lat, lng):
    px, py = latlng_to_pixel(lat, lng, 16, tile_size=1)
    x = np.asarray(px, np.uint64) & 0xFFFF
    y = np.asarray(py, np.uint64) & 0xFFFF

    def spread(v):
        v = (v | (v << 8)) & 0x00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F
        v = (v | (v << 2)) & 0x33333333
        v = (v | (v << 1)) & 0x55555555
        return v

    return (spread(x) | (spread(y) << np.uint64(1))).astype(np.int64)


# --- M1 sq_perpendicular_dist (simplify_mask.h:25-54) -----------------------
def sq_perpendicular_dist(src_x, src_y, tgt_x, tgt_y, test_x, test_y) -> float:
    # NB the reference swaps x/y when building the vectors; the squared
    # distance is symmetric under that swap so plain order is fine.
    slope_x, slope_y = tgt_x - src_x, tgt_y - src_y
    rel_x, rel_y = test_x - src_x, test_y - src_y
    unnormed = float(slope_x * rel_x + slope_y * rel_y)
    sq_len = float(slope_x * slope_x + slope_y * slope_y)
    if sq_len < np.finfo(np.float64).eps:
        proj_x, proj_y = float(src_x), float(src_y)
    else:
        ratio = max(min(unnormed / sq_len, 1.0), 0.0)
        proj_x = (1.0 - ratio) * float(src_x) + float(tgt_x) * ratio
        proj_y = (1.0 - ratio) * float(src_y) + float(tgt_y) * ratio
    dx, dy = proj_x - float(test_x), proj_y - float(test_y)
    return dx * dx + dy * dy


# --- M2 process_level (simplify_mask.h:59-108) -------------------------------
def process_level(
    xs: np.ndarray, ys: np.ndarray, threshold: float, mask: np.ndarray,
    truncate: bool = False,
) -> bool:
    """One DP refinement pass at `threshold` (squared pixels). Mutates
    mask in place; returns True when no gaps remained (done).

    ``truncate=True`` replicates the reference's uint64_t return type of
    sq_perpendicular_dist (simplify_mask.h:26): squared distances are
    truncated to integers before the threshold comparison."""
    stack: list[tuple[int, int]] = []
    last = 0
    for i in range(1, mask.size):
        if mask[i]:
            if i - last > 1:
                stack.append((last, i))
            last = i
    if not stack:
        return True
    while stack:
        lo, hi = stack.pop()
        max_dist = 0.0
        farthest = hi
        # vectorized inner scan over the open interval
        idx = np.arange(lo + 1, hi)
        if idx.size:
            slope_x = float(xs[hi] - xs[lo])
            slope_y = float(ys[hi] - ys[lo])
            rel_x = xs[idx] - xs[lo]
            rel_y = ys[idx] - ys[lo]
            sq_len = slope_x * slope_x + slope_y * slope_y
            if sq_len < np.finfo(np.float64).eps:
                proj_x = np.full(idx.size, float(xs[lo]))
                proj_y = np.full(idx.size, float(ys[lo]))
            else:
                ratio = np.clip((slope_x * rel_x + slope_y * rel_y) / sq_len, 0.0, 1.0)
                proj_x = (1.0 - ratio) * float(xs[lo]) + float(xs[hi]) * ratio
                proj_y = (1.0 - ratio) * float(ys[lo]) + float(ys[hi]) * ratio
            dx = proj_x - xs[idx]
            dy = proj_y - ys[idx]
            dists = dx * dx + dy * dy
            if truncate:
                dists = np.floor(dists)
            ok = dists >= threshold
            if ok.any():
                # replicate strict `>` scan order: first max wins
                cand = np.where(ok, dists, -1.0)
                best = int(np.argmax(cand))  # first occurrence of max
                max_dist = float(dists[best])
                farthest = int(idx[best])
        if max_dist >= threshold:
            mask[farthest] = True
            if lo < farthest:
                stack.append((lo, farthest))
            if farthest < hi:
                stack.append((farthest, hi))
    return False


# --- M3 make_simplify_mask (simplify_mask.h:112-158) -------------------------
def make_simplify_mask(lats, lngs, pixel_precision: int = 1) -> np.ndarray:
    """21 per-zoom keep-masks (bool array [21, n]) for a polyline,
    computed in z=20 pixel space of webmercator<4096, 20>."""
    lats = np.asarray(lats, np.float64)
    lngs = np.asarray(lngs, np.float64)
    xs, ys = latlng_to_pixel(lats, lngs, MAX_SIMPLIFY_ZOOM, tile_size=4096)
    xs = xs.astype(np.float64)
    ys = ys.astype(np.float64)
    n = lats.size
    mask = np.zeros(n, dtype=bool)
    mask[0] = True
    mask[-1] = True
    result = np.zeros((MAX_SIMPLIFY_ZOOM + 1, n), dtype=bool)
    for z in range(MAX_SIMPLIFY_ZOOM + 1):
        delta = pixel_precision << (MAX_SIMPLIFY_ZOOM - z)
        threshold = float(delta) * float(delta)
        done = process_level(xs, ys, threshold, mask, truncate=True)
        if done:
            result[z:] = mask
            break
        result[z] = mask
    return result


# --- M5 serialize_simplify_mask (simplify_mask.h:179-218) --------------------
def serialize_simplify_mask(masks: np.ndarray) -> bytes:
    """Bitpack the 21 masks, deduping adjacent identical levels via the
    `lvls` bitfield header. Exact byte layout of the reference:
    u32 lvls (LE), u32 size (LE), then LSB-first bits per kept level."""
    n_levels, size = masks.shape
    lvls = 0
    bits: list[bool] = []
    for i in range(n_levels):
        if i + 1 < n_levels and bool(np.array_equal(masks[i], masks[i + 1])):
            continue
        lvls |= 1 << i
        bits.extend(bool(b) for b in masks[i])
    out = bytearray()
    out += int(lvls).to_bytes(4, "little")
    out += int(size).to_bytes(4, "little")
    buf = 0
    pos = 0
    for bit in bits:
        buf |= int(bit) << pos
        pos += 1
        if pos == 8:
            out.append(buf)
            buf = 0
            pos = 0
    if pos:
        out.append(buf)
    return bytes(out)


# --- M6 simplify_mask_reader + apply (simplify_mask.h:220-270) ---------------
def read_simplify_mask(data: bytes, req_lvl: int) -> np.ndarray:
    lvls = int.from_bytes(data[0:4], "little")
    size = int.from_bytes(data[4:8], "little")
    skipped = 0
    for i in range(32):
        if i >= req_lvl:
            break
        if lvls & (1 << i):
            skipped += 1
    offset = skipped * size
    body = data[8:]
    out = np.zeros(size, dtype=bool)
    for pos in range(size):
        byte = body[(offset + pos) // 8]
        out[pos] = ((byte >> ((offset + pos) % 8)) & 1) != 0
    return out


def apply_simplify_mask(mask: np.ndarray, values: list):
    """M4 (simplify_mask.h:160-177): keep values[0] plus masked tail."""
    return [v for i, v in enumerate(values) if i == 0 or mask[i]]


def simplify_dp_latlng(lats, lngs, max_distance_deg: float) -> np.ndarray:
    """L2 (src/polyline.cc:16-20): Douglas-Peucker with a degree
    tolerance, boost::geometry::simplify semantics (keep-mask form,
    threshold on perpendicular distance in degree space)."""
    lats = np.asarray(lats, np.float64)
    lngs = np.asarray(lngs, np.float64)
    mask = np.zeros(lats.size, dtype=bool)
    mask[0] = True
    mask[-1] = True
    # boost DP uses plain cartesian perpendicular distance on the
    # coordinate pairs; threshold is squared here
    process_level(lngs, lats, max_distance_deg * max_distance_deg, mask)
    return mask


# --- G1-G4 Google polyline codec (polyline_format.h:20-146) ------------------
def _push_polyline_diff(buf: list, diff: int) -> None:
    """push_difference (polyline_format.h:60-81): zigzag + 5-bit
    chunks + 63, on the 64-bit two's-complement pattern."""
    tmp = (diff << 1) & 0xFFFFFFFFFFFFFFFF
    if diff < 0:
        tmp = ~tmp & 0xFFFFFFFFFFFFFFFF
    while True:
        curr = tmp & 0b11111
        rest = tmp & ~0b11111 & 0xFFFFFFFFFFFFFFFF
        if rest != 0:
            curr |= 0x20
        buf.append(chr(curr + 63))
        tmp >>= 5
        if rest == 0:
            break


def encode_polyline(lats, lngs, precision: int = 5) -> str:
    k = 10 ** precision
    # llround: half away from zero
    def llround(v: float) -> int:
        return int(math.floor(v * k + 0.5)) if v >= 0 else -int(math.floor(-v * k + 0.5))

    buf: list[str] = []
    last_lat = last_lng = 0
    for lat, lng in zip(lats, lngs):
        ilat, ilng = llround(float(lat)), llround(float(lng))
        _push_polyline_diff(buf, ilat - last_lat)
        _push_polyline_diff(buf, ilng - last_lng)
        last_lat, last_lng = ilat, ilng
    return "".join(buf)


def encode_polyline_nonzero(lats, lngs, precision: int = 5,
                            simplification: int = 0) -> tuple[str, int]:
    """G2 push_nonzero_diff (polyline_format.h:41-58): quantize with
    llrint (round-half-to-EVEN — note: push() uses llround, half away
    from zero) and emit a point only when |dlat| OR |dlng| exceeds
    ``simplification`` quantized units (strict >). Returns
    (encoded, points_kept)."""
    k = 10 ** precision
    buf: list[str] = []
    last_lat = last_lng = 0
    kept = 0
    for lat, lng in zip(lats, lngs):
        # python round(float) is IEEE ties-to-even like llrint
        ilat, ilng = round(float(lat) * k), round(float(lng) * k)
        dlat, dlng = ilat - last_lat, ilng - last_lng
        if abs(dlat) > simplification or abs(dlng) > simplification:
            _push_polyline_diff(buf, dlat)
            _push_polyline_diff(buf, dlng)
            last_lat, last_lng = ilat, ilng
            kept += 1
    return "".join(buf), kept


def decode_polyline(s: str, precision: int = 5):
    k = 10 ** precision
    lat = lng = 0
    i, n = 0, len(s)
    lats: list[float] = []
    lngs: list[float] = []

    def read(i: int) -> tuple[int, int]:
        buf = 0
        shift = 0
        while i < n:
            curr = ord(s[i]) - 63
            buf |= (curr & 0b11111) << shift
            i += 1
            shift += 5
            if (curr & 0x20) == 0:
                break
        return (~(buf >> 1) if (buf & 1) else (buf >> 1)), i

    while i < n:
        d, i = read(i)
        lat += d
        d, i = read(i)
        lng += d
        lats.append(lat / k)
        lngs.append(lng / k)
    return np.array(lats), np.array(lngs)


# --- C1/C2/C3 cluster_nearby reference implementation (float32) --------------
# (src/cluster_nearby.cc) — used per-group inside applyInPandas and as
# the fixture oracle.
NO_CLUSTER = np.uint32(0xFFFFFFFF)


def gc_distance_f(a_lat, a_lng, b_lat, b_lng):
    """float32 haversine (src/cluster_nearby.cc:32-40).
    Array-safe: inputs may be scalars or ndarrays."""
    k_pi = np.float32(math.pi)
    to_rad = lambda d: np.asarray(d, np.float32) * k_pi / np.float32(180.0)  # noqa: E731
    u = np.sin((to_rad(b_lat) - to_rad(a_lat)) / np.float32(2))
    v = np.sin((to_rad(b_lng) - to_rad(a_lng)) / np.float32(2))
    return np.float32(2.0) * np.float32(6371000.0) * np.arcsin(
        np.sqrt(u * u + np.cos(to_rad(a_lat)) * np.cos(to_rad(b_lat)) * v * v)
    )


def compute_bounding_box_f(lat, lng, dist):
    """float32 box around center (src/cluster_nearby.cc:42-56).
    Array-safe: lat/lng/dist may be scalars or ndarrays."""
    f = lambda v: np.asarray(v, dtype=np.float32)  # noqa: E731
    k_pi = np.float32(math.pi)
    r = np.float32(6371000.0)
    offset_lat = (f(dist) / r) * np.float32(180.0) / k_pi
    offset_lng = (f(dist) / (r * np.cos(f(lat) * k_pi / np.float32(180.0)))) * np.float32(180.0) / k_pi
    return f(lat) + offset_lat, f(lat) - offset_lat, f(lng) + offset_lng, f(lng) - offset_lng


def make_single_linkage_clusters(lats32: np.ndarray, lngs32: np.ndarray, max_dist: float) -> np.ndarray:
    """(src/cluster_nearby.cc:59-107) exact replication incl. the
    bbox prefilter and 'replace old cluster id' merge."""
    n = lats32.size
    clusters = np.full(n, NO_CLUSTER, dtype=np.uint32)
    max_dist = np.float32(max_dist)
    for i in range(n):
        lat_max, lat_min, lng_max, lng_min = compute_bounding_box_f(lats32[i], lngs32[i], max_dist)
        cand = []
        for j in range(i):
            if (lats32[j] < lat_min) or (lats32[j] > lat_max) or \
               (lngs32[j] < lng_min) or (lngs32[j] > lng_max):
                continue
            if gc_distance_f(lats32[i], lngs32[i], lats32[j], lngs32[j]) > max_dist:
                continue
            cand.append(j)
        if cand:
            clusters[i] = i
            for j in cand:
                old = clusters[j]
                clusters[j] = i
                if old != NO_CLUSTER:
                    clusters[clusters == old] = i
    for i in range(n):
        if clusters[i] == NO_CLUSTER:
            clusters[i] = i
    return clusters


def make_complete_linkage_clusters(lats32: np.ndarray, lngs32: np.ndarray, max_dist: float) -> np.ndarray:
    """Complete linkage (src/cluster_nearby.cc:109-172) in O(n²):
    identical output to the reference's per-round rebuild, tested
    three-way against a literal scalar port and a per-round vectorized
    version kept as references in tests/test_numpy_kernels.py.

    The per-round cluster-pair max matrix after k merges is a pure
    function of the current assignment, so it can be MAINTAINED under
    a merge instead of rebuilt: merging cluster bi into bj moves every
    pair contribution from row/col bi to row/col bj (max-linkage
    Lance-Williams update, max(M[bj,*], M[bi,*])), clears row/col bi,
    and deletes the now-within-cluster diagonal entry. The reference
    quirks survive exactly: entries landing in the upper triangle stay
    invisible to the scan, and the merge selection is still the LAST
    qualifying lower-triangle entry in row-major order — maintained as
    a per-row last-qualifying-column index (recomputed only for rows
    whose tracked entry was touched), with the row chosen as the max
    row holding any qualifying entry. The measured win: a 1000-point
    component cost ~25-50 ms PER ROUND in np.maximum.at alone (~30 s
    per component over ~1000 rounds); the refine stage at 60M points
    dropped from ~350 s to seconds."""
    n = int(lats32.size)
    if n == 0:
        raise ValueError("make_complete_linkage_clusters: empty coords")
    clusters = np.arange(n, dtype=np.uint32)
    if n == 1:
        return clusters
    T = np.float32(max_dist)
    lowest = np.float32(np.finfo(np.float32).min)
    iu, ju = np.tril_indices(n, k=-1)
    d_pairs = gc_distance_f(lats32[iu], lngs32[iu], lats32[ju], lngs32[ju]).astype(np.float32)
    M = np.full((n, n), lowest, dtype=np.float32)
    # initial assignment is the identity, so (ci, cj) == (i, j): all
    # pairs land in the lower triangle with no collisions
    M[iu, ju] = d_pairs

    def row_last(x: int) -> int:
        row = M[x, :x]
        q = (row >= 0) & (row <= T)
        nz = np.flatnonzero(q)
        return int(nz[-1]) if nz.size else -1

    j_last = np.full(n, -1, dtype=np.int64)
    for x in range(1, n):
        j_last[x] = row_last(x)

    while True:
        rows_q = np.flatnonzero(j_last >= 0)
        if rows_q.size == 0:
            break
        bi = int(rows_q[-1])
        bj = int(j_last[bi])
        clusters[clusters == np.uint32(bi)] = np.uint32(bj)
        # --- incremental matrix update (exact) --------------------------
        np.maximum(M[bj, :], M[bi, :], out=M[bj, :])
        np.maximum(M[:, bj], M[:, bi], out=M[:, bj])
        M[bi, :] = lowest
        M[:, bi] = lowest
        M[bj, bj] = lowest
        # --- j_last maintenance -----------------------------------------
        # rows whose tracked entry sat in the cleared column bi
        stale_bi = np.flatnonzero(j_last == bi)
        # column bj changed (max-increase) for rows y > bj: the entry
        # may newly qualify (track it if beyond the current last) or —
        # having increased past T — disqualify a tracked one
        if bj + 1 < n:
            colv = M[bj + 1:, bj]
            qual_col = (colv >= 0) & (colv <= T)
            tail = j_last[bj + 1:]
            upd = np.flatnonzero(qual_col & (tail < bj)) + bj + 1
            j_last[upd] = bj
            stale_bj = np.flatnonzero((~qual_col) & (tail == bj)) + bj + 1
        else:
            stale_bj = np.empty(0, dtype=np.int64)
        for y in stale_bi:
            if y != bi:
                j_last[int(y)] = row_last(int(y))
        for y in stale_bj:
            j_last[int(y)] = row_last(int(y))
        j_last[bi] = -1
        j_last[bj] = row_last(bj)
    return clusters


def make_complete_linkage_clusters_batch(la: np.ndarray, ln: np.ndarray,
                                         sizes: np.ndarray,
                                         max_dist: float) -> np.ndarray:
    """BATCHED complete linkage: m padded components at once, exact
    twin of :func:`make_complete_linkage_clusters` per component.

    ``la``/``ln`` are (m, K) float32 with component c's points in
    positions 0..sizes[c]-1 (padding is ignored via the validity mask
    — padded coords never enter the distance matrix). Returns (m, K)
    uint32 within-component cluster indices.

    Why: the per-component kernel costs ~100-200 µs of python/numpy
    call overhead per invocation; a 60M-point run holds ~1.2M
    components of size 3-16, i.e. ~200 s of pure overhead. Here every
    round is a handful of (m, K, K) numpy ops across the whole batch;
    rounds loop until no component has a qualifying pair."""
    m, K = la.shape
    if m == 0:
        return np.zeros((0, K), dtype=np.uint32)
    T = np.float32(max_dist)
    lowest = np.float32(np.finfo(np.float32).min)
    D = gc_distance_f(
        la[:, :, None], ln[:, :, None], la[:, None, :], ln[:, None, :]
    ).astype(np.float32)
    ii = np.arange(K)
    tri = ii[:, None] > ii[None, :]
    valid = (
        (ii[None, :, None] < sizes[:, None, None])
        & (ii[None, None, :] < sizes[:, None, None])
    )
    M = np.where(tri[None, :, :] & valid, D, lowest)
    clusters = np.broadcast_to(ii[None, :], (m, K)).astype(np.uint32).copy()
    while True:
        qual = (M >= 0) & (M <= T) & tri[None, :, :]
        flat = qual.reshape(m, K * K)
        has = flat.any(axis=1)
        if not has.any():
            break
        a = np.flatnonzero(has)
        # LAST qualifying flat index per component (row-major order)
        last = (K * K - 1) - flat[a, ::-1].argmax(axis=1)
        bi = (last // K).astype(np.int64)
        bj = (last % K).astype(np.int64)
        cl = clusters[a]
        clusters[a] = np.where(
            cl == bi[:, None].astype(np.uint32),
            bj[:, None].astype(np.uint32), cl,
        )
        # incremental matrix update, rows `a` only (exact — see the
        # per-component incremental version for the derivation)
        M[a, bj, :] = np.maximum(M[a, bj, :], M[a, bi, :])
        M[a, :, bj] = np.maximum(M[a, :, bj], M[a, :, bi])
        M[a, bi, :] = lowest
        M[a, :, bi] = lowest
        M[a, bj, bj] = lowest
    return clusters


def cluster_nearby(lats, lngs, max_dist: float) -> np.ndarray:
    """C1 (src/cluster_nearby.cc:174-234): single-linkage pass, then
    per-SL-group complete-linkage refinement; groups < 3 short-circuit."""
    lats32 = np.asarray(lats, dtype=np.float32)
    lngs32 = np.asarray(lngs, dtype=np.float32)
    n = lats32.size
    if n == 0:
        return np.array([], dtype=np.uint32)
    sl = make_single_linkage_clusters(lats32, lngs32, max_dist)
    order = np.lexsort((np.arange(n), sl))  # sort by (cluster, index)
    clusters = np.arange(n, dtype=np.uint32)
    start = 0
    while start < n:
        end = start
        while end < n and sl[order[end]] == sl[order[start]]:
            end += 1
        members = order[start:end]
        if members.size < 3:
            for m in members:
                clusters[m] = clusters[members[0]]
        else:
            cl = make_complete_linkage_clusters(lats32[members], lngs32[members], max_dist)
            for i, m in enumerate(members):
                clusters[m] = clusters[members[cl[i]]]
        start = end
    return clusters
