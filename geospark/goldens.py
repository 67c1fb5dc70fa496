"""Independent single-node golden implementations.

These exist ONLY to generate embedded-VALUES oracles (see
``__spark_entry__.oracle_sql``) for driver queries whose semantics a
SQL engine cannot express — iterative Douglas-Peucker masks, the
Google polyline codec, reference-order clustering, and the streaming
tile pipeline. They are written independently of the engine's
vectorized kernels (plain-Python loops + ``math``; numpy appears only
where float32 *dtype parity* with the reference demands it), so a
Spark-vs-golden comparison crosses two separate implementations of the
reference semantics:

- simplify masks: simplify_mask.h:25-218 (incl. the uint64 truncation
  of squared distances and the adjacent-level dedup byte layout)
- polyline codec: polyline_format.h:30-146 (llround + zigzag + 5-bit
  chunks + 63)
- clustering: src/cluster_nearby.cc:59-234 (float32 haversine, SL
  bbox-gated pass, CL refinement incl. the last-valid-pair merge-order
  quirk, <3 member short-circuit)
"""

from __future__ import annotations

import math
import re
import sys

import numpy as np

MERC_R = 6378137.0
MERC_MAX_LAT = 85.0511287798
ORIGIN_SHIFT = math.pi * MERC_R


# ---------------------------------------------------------------------------
# webmercator pixel projection (webmercator.h:156-219): x truncates,
# y rounds half-away-from-zero then truncates
# ---------------------------------------------------------------------------
def pixel(lat: float, lng: float, z: int, tile_size: int) -> tuple[int, int]:
    lat = max(-MERC_MAX_LAT, min(MERC_MAX_LAT, lat))
    s = math.sin(math.radians(lat))
    mx = MERC_R * math.radians(lng)
    my = MERC_R * math.log((1.0 + s) / (1.0 - s)) / 2.0
    res = (2.0 * math.pi * MERC_R / tile_size) / (1 << z)
    px = math.trunc((mx + ORIGIN_SHIFT) / res)
    v = (tile_size << z) - (my + ORIGIN_SHIFT) / res
    py = math.trunc(math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5))
    return px, py


def tile_of(lat: float, lng: float, z: int, tile_size: int = 4096) -> tuple[int, int]:
    px, py = pixel(lat, lng, z, tile_size)
    return px // tile_size, py // tile_size


# ---------------------------------------------------------------------------
# simplify masks (simplify_mask.h)
# ---------------------------------------------------------------------------
def _sq_perp_dist_u64(src, tgt, test) -> int:
    sx, sy = tgt[0] - src[0], tgt[1] - src[1]
    rx, ry = test[0] - src[0], test[1] - src[1]
    unnormed = float(sx * rx + sy * ry)
    sq_len = float(sx * sx + sy * sy)
    if sq_len < 2.220446049250313e-16:
        proj_x, proj_y = float(src[0]), float(src[1])
    else:
        ratio = max(min(unnormed / sq_len, 1.0), 0.0)
        proj_x = (1.0 - ratio) * float(src[0]) + float(tgt[0]) * ratio
        proj_y = (1.0 - ratio) * float(src[1]) + float(tgt[1]) * ratio
    dx, dy = proj_x - float(test[0]), proj_y - float(test[1])
    # uint64_t return type truncates the double (simplify_mask.h:26)
    return int(dx * dx + dy * dy)


def _process_level(pts, threshold: int, mask: list[bool]) -> bool:
    stack: list[tuple[int, int]] = []
    last = 0
    for i in range(1, len(mask)):
        if mask[i]:
            if i - last > 1:
                stack.append((last, i))
            last = i
    if not stack:
        return True
    while stack:
        lo, hi = stack.pop()
        max_dist = 0
        farthest = hi
        for idx in range(lo + 1, hi):
            d = _sq_perp_dist_u64(pts[lo], pts[hi], pts[idx])
            if d > max_dist and d >= threshold:
                farthest = idx
                max_dist = d
        if max_dist >= threshold:
            mask[farthest] = True
            if lo < farthest:
                stack.append((lo, farthest))
            if farthest < hi:
                stack.append((farthest, hi))
    return False


def _serialize_mask(levels: list[list[bool]]) -> bytes:
    lvls = 0
    bits: list[bool] = []
    for i in range(len(levels)):
        if i + 1 < len(levels) and levels[i] == levels[i + 1]:
            continue
        lvls |= 1 << i
        bits.extend(levels[i])
    out = bytearray()
    out += int(lvls).to_bytes(4, "little")
    out += len(levels[0]).to_bytes(4, "little")
    buf, pos = 0, 0
    for b in bits:
        buf |= int(b) << pos
        pos += 1
        if pos == 8:
            out.append(buf)
            buf, pos = 0, 0
    if pos:
        out.append(buf)
    return bytes(out)


def simplify_levels(latlngs: list[tuple[float, float]]) -> list[list[bool]]:
    """The 21 per-zoom keep-masks (simplify_mask.h semantics)."""
    pts = [pixel(la, ln, 20, 4096) for la, ln in latlngs]
    n = len(pts)
    mask = [False] * n
    mask[0] = True
    mask[-1] = True
    levels: list[list[bool]] = []
    for z in range(21):
        delta = 1 << (20 - z)
        done = _process_level(pts, delta * delta, mask)
        if done:
            while len(levels) < 21:
                levels.append(mask[:])
            break
        levels.append(mask[:])
    return levels


def simplify_mask_stats(latlngs: list[tuple[float, float]],
                        z_a: int = 0, z_b: int = 10) -> tuple[int, int, int]:
    """(points kept at z_a, points kept at z_b, serialized byte size)."""
    levels = simplify_levels(latlngs)
    ser = _serialize_mask(levels)
    return sum(levels[z_a]), sum(levels[z_b]), len(ser)


# ---------------------------------------------------------------------------
# Google polyline codec (polyline_format.h)
# ---------------------------------------------------------------------------
def _llround(v: float) -> int:
    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


def encode_polyline(latlngs: list[tuple[float, float]], precision: int = 5) -> str:
    k = 10 ** precision
    out: list[str] = []

    def push(delta: int) -> None:
        v = ~(delta << 1) if delta < 0 else (delta << 1)
        while v >= 0x20:
            out.append(chr((0x20 | (v & 0x1F)) + 63))
            v >>= 5
        out.append(chr(v + 63))

    prev_lat = prev_lng = 0
    for la, ln in latlngs:
        ilat, ilng = _llround(la * k), _llround(ln * k)
        push(ilat - prev_lat)
        push(ilng - prev_lng)
        prev_lat, prev_lng = ilat, ilng
    return "".join(out)


def encode_polyline_nonzero(latlngs: list[tuple[float, float]],
                            precision: int = 5,
                            simplification: int = 0) -> tuple[str, int]:
    """push_nonzero_diff twin (polyline_format.h:41-58): llrint
    quantization (ties to even), strict-> threshold skip."""
    k = 10 ** precision
    out: list[str] = []

    def push(delta: int) -> None:
        v = ~(delta << 1) if delta < 0 else (delta << 1)
        while v >= 0x20:
            out.append(chr((0x20 | (v & 0x1F)) + 63))
            v >>= 5
        out.append(chr(v + 63))

    prev_lat = prev_lng = 0
    kept = 0
    for la, ln in latlngs:
        # builtin round() on purpose: G2 quantizes with llrint
        # (ties-to-even, polyline_format.h:41-58), UNLIKE the G1
        # encoder above which uses llround (half away from zero)
        ilat, ilng = round(la * k), round(ln * k)
        dlat, dlng = ilat - prev_lat, ilng - prev_lng
        if abs(dlat) > simplification or abs(dlng) > simplification:
            push(dlat)
            push(dlng)
            prev_lat, prev_lng = ilat, ilng
            kept += 1
    return "".join(out), kept


def decode_polyline(s: str, precision: int = 5) -> list[tuple[float, float]]:
    k = 10 ** precision
    coords: list[int] = []
    acc, shift = 0, 0
    for ch in s:
        b = ord(ch) - 63
        acc |= (b & 0x1F) << shift
        shift += 5
        if not b & 0x20:
            coords.append(~(acc >> 1) if acc & 1 else (acc >> 1))
            acc, shift = 0, 0
    pts = []
    lat = lng = 0
    for i in range(0, len(coords) - 1, 2):
        lat += coords[i]
        lng += coords[i + 1]
        pts.append((lat / k, lng / k))
    return pts


# ---------------------------------------------------------------------------
# S8 closest_on_segment + L6 distance_to_polyline (src/latlng.cc:98-146,
# polyline.h:79-96) — independent plain-math twin
# ---------------------------------------------------------------------------
_EPS = 1e-9
_HAV_R = 6371000.0


def _haversine(alat, alng, blat, blng) -> float:
    dlat = math.radians(blat - alat) / 2.0
    dlng = math.radians(blng - alng) / 2.0
    a = (
        math.sin(dlat) ** 2
        + math.cos(math.radians(alat)) * math.cos(math.radians(blat))
        * math.sin(dlng) ** 2
    )
    return 2.0 * _HAV_R * math.asin(min(1.0, math.sqrt(a)))


def _merc(lat: float, lng: float) -> tuple[float, float]:
    lat = max(-MERC_MAX_LAT, min(MERC_MAX_LAT, lat))
    s = math.sin(math.radians(lat))
    return MERC_R * math.radians(lng), MERC_R * math.log((1.0 + s) / (1.0 - s)) / 2.0


def _merc_inv(x: float, y: float) -> tuple[float, float]:
    d = 180.0 / math.pi
    lat = (2.0 * math.atan(math.exp(y / MERC_R)) - math.pi / 2.0) * d
    return lat, x * d / MERC_R


def ctile(lat: float, lng: float, zoom: int) -> tuple[float, float]:
    """Continuous tile coords — twin of cells.ctile_x/ctile_y (same
    double op order)."""
    mx, my = _merc(lat, lng)
    n = float(1 << zoom)
    return ((mx + ORIGIN_SHIFT) / (2.0 * ORIGIN_SHIFT) * n,
            (ORIGIN_SHIFT - my) / (2.0 * ORIGIN_SHIFT) * n)


def supercover_tiles(f: tuple[float, float], t: tuple[float, float],
                     zoom: int) -> list[tuple[int, int]]:
    """Twin of cells.segment_tile_cover for ONE segment: scanline
    supercover over continuous tile coords, formula-identical
    (same clamp / inverse-lerp / floor order, closed intervals)."""
    px0, py0 = ctile(f[0], f[1], zoom)
    px1, py1 = ctile(t[0], t[1], zoom)
    if py0 <= py1:
        px0s, py0s, px1s, py1s = px0, py0, px1, py1
    else:
        px0s, py0s, px1s, py1s = px1, py1, px0, py0
    out: list[tuple[int, int]] = []
    for ty in range(math.floor(py0s), math.floor(py1s) + 1):
        ylo = max(py0s, float(ty))
        yhi = min(py1s, float(ty + 1))
        if py1s == py0s:
            t0, t1 = 0.0, 1.0
        else:
            dy = py1s - py0s
            t0 = (ylo - py0s) / dy
            t1 = (yhi - py0s) / dy
        dx = px1s - px0s
        x0 = px0s + dx * t0
        x1 = px0s + dx * t1
        for tx in range(math.floor(min(x0, x1)),
                        math.floor(max(x0, x1)) + 1):
            out.append((tx, ty))
    return out


def tile_payload(trajectories: list[tuple[int, list[tuple[float, float]]]],
                 zoom: int, rect: tuple[int, int, int, int],
                 ) -> list[tuple[int, int, int, int, str]]:
    """Twin of the tile_payload query: per tile in ``rect``
    (tx1, ty1, tx2, ty2 inclusive), the users whose zoom-simplified
    trajectory crosses it, their per-tile segment chains
    polyline-encoded, digested as md5 over the '|'-joined sorted
    'uid:enc' strings. Returns (tile_x, tile_y, n_users, n_segs,
    payload_md5) rows."""
    import hashlib

    tx1, ty1, tx2, ty2 = rect
    groups: dict[tuple[int, int, int], list] = {}
    for uid, line in trajectories:
        if len(line) < 2:
            continue
        keep = simplify_levels(line)[zoom]
        sl = [p for p, k in zip(line, keep) if k]
        for i in range(len(sl) - 1):
            f, t = sl[i], sl[i + 1]
            for tx, ty in supercover_tiles(f, t, zoom):
                if tx1 <= tx <= tx2 and ty1 <= ty <= ty2:
                    groups.setdefault((tx, ty, uid), []).append((i, f, t))
    per_tile: dict[tuple[int, int], list] = {}
    for (tx, ty, uid), segs in groups.items():
        segs.sort()
        pts: list[tuple[float, float]] = []
        for _i, f, t in segs:
            pts.extend([f, t])
        enc = encode_polyline(pts, 5)
        per_tile.setdefault((tx, ty), []).append((uid, len(segs), enc))
    rows = []
    for (tx, ty), items in sorted(per_tile.items()):
        payload = "|".join(sorted(f"{uid}:{enc}" for uid, _n, enc in items))
        rows.append((
            tx, ty, len(items), sum(n for _u, n, _e in items),
            hashlib.md5(payload.encode()).hexdigest(),
        ))
    return rows


def closest_on_segment(x, f, t):
    """(lat,lng) tuples -> closest point on segment [f,t] to x."""
    mx, my = _merc(*x)
    fx, fy = _merc(*f)
    tx, ty = _merc(*t)
    if (mx, my) == (fx, fy) or (mx, my) == (tx, ty):
        return x
    seg_x, seg_y = tx - fx, ty - fy
    seg_len = math.sqrt(seg_x * seg_x + seg_y * seg_y)
    if seg_len < _EPS:
        return f

    def angle(vx, vy):
        rel = (seg_x * vx + seg_y * vy) / (seg_len * math.sqrt(vx * vx + vy * vy))
        if rel >= 1.0 - _EPS:
            return 0.0
        if rel <= -1.0 + _EPS:
            return 180.0
        return math.acos(rel)

    sv_x, sv_y = mx - fx, my - fy
    # denormal guard: |v|^2 can underflow to 0.0 for sub-femtometer
    # offsets (the C++ reference divides by 0 there — UB); treat x as
    # coincident with the endpoint
    if sv_x * sv_x + sv_y * sv_y == 0.0 or (
        (tx - mx) ** 2 + (ty - my) ** 2 == 0.0
    ):
        return x
    if angle(sv_x, sv_y) >= math.pi / 2.0:
        return f
    if angle(tx - mx, ty - my) >= math.pi / 2.0:
        return t
    beta = math.pi / 2.0 - angle(sv_x, sv_y)
    off = math.sqrt(sv_x * sv_x + sv_y * sv_y) * math.sin(beta)
    return _merc_inv(fx + off * seg_x / seg_len, fy + off * seg_y / seg_len)


def distance_to_polyline(pt, line) -> tuple[float, int, tuple[float, float]]:
    """(dist_m, seg_idx, closest) with first-wins strict < tie-break."""
    best = (math.inf, -1, pt)
    for i in range(len(line) - 1):
        c = closest_on_segment(pt, line[i], line[i + 1])
        d = _haversine(pt[0], pt[1], c[0], c[1])
        if d < best[0]:
            best = (d, i, c)
    return best


# ---------------------------------------------------------------------------
# clustering (src/cluster_nearby.cc) — float32 throughout
# ---------------------------------------------------------------------------
_F32 = np.float32
_PI_F = _F32(math.pi)
_R_F = _F32(6371000.0)


def _gc_f32(alat, alng, blat, blng):
    """Vectorized float32 haversine, argument order (a, b) as the
    reference's gc_distance_f (cluster_nearby.cc:32-40)."""
    to_rad = lambda d: d * _PI_F / _F32(180.0)  # noqa: E731
    u = np.sin((to_rad(blat) - to_rad(alat)) / _F32(2.0))
    v = np.sin((to_rad(blng) - to_rad(alng)) / _F32(2.0))
    return (
        _F32(2.0) * _R_F
        * np.arcsin(np.sqrt(u * u + np.cos(to_rad(alat)) * np.cos(to_rad(blat)) * v * v))
    )


def cluster_hist(lats, lngs, pids, max_dist: float) -> list[tuple[int, int]]:
    """Reference-semantics clustering -> [(n_members, n_clusters), ...]
    sorted by n_members. Labels canonicalized to min pid (the engine's
    convention; histogram is label-invariant anyway)."""
    la = np.asarray(lats, _F32)
    ln = np.asarray(lngs, _F32)
    pid = np.asarray(pids, np.int64)
    n = la.size
    md = _F32(max_dist)

    # single-linkage pass: for i, candidates j < i inside bbox(i) with
    # gc_f(i, j) <= max_dist (cluster_nearby.cc:59-107) -> union-find
    off_lat = (md / _R_F) * _F32(180.0) / _PI_F
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(1, n):
        off_lng = (
            md / (_R_F * np.cos(la[i] * _PI_F / _F32(180.0)))
        ) * _F32(180.0) / _PI_F
        js = np.arange(i)
        in_box = (
            (la[:i] >= la[i] - off_lat) & (la[:i] <= la[i] + off_lat)
            & (ln[:i] >= ln[i] - off_lng) & (ln[:i] <= ln[i] + off_lng)
        )
        if not in_box.any():
            continue
        cand = js[in_box]
        d = _gc_f32(np.full(cand.size, la[i]), np.full(cand.size, ln[i]),
                    la[cand], ln[cand])
        for j in cand[np.asarray(d) <= md]:
            ri, rj = find(i), find(int(j))
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)

    comps: dict[int, list[int]] = {}
    for i in range(n):
        comps.setdefault(find(i), []).append(i)

    labels = np.empty(n, np.int64)
    for members in comps.values():
        members.sort()  # ascending index == ascending pid (input order)
        if len(members) < 3:
            for m in members:
                labels[m] = pid[members[0]]
            continue
        cl = _complete_linkage(la[members], ln[members], md)
        for c in set(cl):
            grp = [members[i] for i in range(len(members)) if cl[i] == c]
            lbl = pid[grp].min()
            for m in grp:
                labels[m] = lbl

    sizes: dict[int, int] = {}
    for x in labels:
        sizes[int(x)] = sizes.get(int(x), 0) + 1
    hist: dict[int, int] = {}
    for s in sizes.values():
        hist[s] = hist.get(s, 0) + 1
    return sorted(hist.items())


def _complete_linkage(la, ln, md) -> list[int]:
    """make_complete_linkage_clusters (cluster_nearby.cc:109-172) incl.
    the merge-order quirk: the LAST matrix entry with a valid distance
    in the row-major scan picks the merge pair."""
    n = la.size
    clusters = list(range(n))
    lowest = -3.4028235e38
    while any(c != clusters[0] for c in clusters):
        dist = np.full((n, n), lowest, dtype=_F32)
        for i in range(n):
            for j in range(i):
                ci, cj = clusters[i], clusters[j]
                if ci == cj:
                    continue
                d = _gc_f32(la[i], ln[i], la[j], ln[j])
                if d > dist[ci, cj]:
                    dist[ci, cj] = d
        min_dist = np.float32(np.finfo(np.float32).max)
        best_i = best_j = 0
        for i in range(n):
            for j in range(i):
                d = dist[i, j]
                if d >= 0 and d <= md:
                    min_dist, best_i, best_j = d, i, j
        if min_dist > md:
            break
        ci, cj = clusters[best_i], clusters[best_j]
        clusters = [cj if c == ci else c for c in clusters]
    return clusters


# ---------------------------------------------------------------------------
# streaming tile pipeline golden: synthetic pages -> parsed coord
# mentions -> tile counts (same data generator, independent projection
# + parse; verifies the watermarked streaming aggregation end-to-end)
# ---------------------------------------------------------------------------
_COORD = re.compile(r"coord: (-?[0-9]+\.[0-9]{6}), (-?[0-9]+\.[0-9]{6})")


def stream_tile_counts(n_pages: int, zoom: int) -> list[tuple[int, int, int]]:
    from geospark.pages import synth_pages_batch

    batch = synth_pages_batch(np.arange(n_pages, dtype=np.int64))
    texts = batch.column("text").to_pylist()
    counts: dict[tuple[int, int], int] = {}
    for t in texts:
        for m in _COORD.finditer(t):
            tx, ty = tile_of(float(m.group(1)), float(m.group(2)), zoom)
            counts[(tx, ty)] = counts.get((tx, ty), 0) + 1
    return sorted((tx, ty, c) for (tx, ty), c in counts.items())


_HOST = re.compile(r"^https?://([^/]+)")


def page_host_stats(n_pages: int) -> list[tuple[str, int, int]]:
    """Independent twin of the pages_host_stats driver query: per
    canonical (lowercased) host, page count + distinct langs. Input
    rows come from the shared deterministic generator (same pattern as
    stream_tile_counts); the url parse + aggregation are re-derived
    here in plain Python."""
    from geospark.pages import synth_pages_batch

    batch = synth_pages_batch(np.arange(n_pages, dtype=np.int64))
    urls = batch.column("url").to_pylist()
    langs = batch.column("lang").to_pylist()
    counts: dict[str, int] = {}
    lang_sets: dict[str, set] = {}
    for u, lg in zip(urls, langs):
        m = _HOST.match(u)
        host = m.group(1).lower()
        counts[host] = counts.get(host, 0) + 1
        lang_sets.setdefault(host, set()).add(lg)
    return sorted((h, c, len(lang_sets[h])) for h, c in counts.items())


def dedup_lang_stats(id_ranges: list[tuple[int, int]]) -> list[tuple[str, int, int]]:
    """Independent twin of the streaming_dedup driver query: the union
    of overlapping crawl-drop id ranges, deduplicated on url (url
    embeds the page id, so distinct url == distinct id), then per-lang
    page count + distinct host count. Exercises the same deterministic
    generator; the dedup + aggregation are re-derived in plain Python."""
    from geospark.pages import synth_pages_batch

    ids = sorted({i for a, b in id_ranges for i in range(a, b)})
    batch = synth_pages_batch(np.array(ids, dtype=np.int64))
    urls = batch.column("url").to_pylist()
    langs = batch.column("lang").to_pylist()
    counts: dict[str, int] = {}
    host_sets: dict[str, set] = {}
    for u, lg in zip(urls, langs):
        host = _HOST.match(u).group(1).lower()
        counts[lg] = counts.get(lg, 0) + 1
        host_sets.setdefault(lg, set()).add(host)
    return sorted((lg, c, len(host_sets[lg])) for lg, c in counts.items())


# ---------------------------------------------------------------------------
# S2 cell-id scalar twin (published spec: s2geometry.io cell hierarchy;
# cube face + quadratic u->s + Hilbert curve). Independently written
# plain-Python counterpart of functions/s2cell.py's numpy kernels —
# scalar control flow, per-quadrant descent, math module only.
# ---------------------------------------------------------------------------
_S2_POS_OF = {  # orientation -> (i_bit, j_bit) -> curve position
    0: {(0, 0): 0, (0, 1): 1, (1, 1): 2, (1, 0): 3},
    1: {(0, 0): 0, (1, 0): 1, (1, 1): 2, (0, 1): 3},
    2: {(1, 1): 0, (1, 0): 1, (0, 0): 2, (0, 1): 3},
    3: {(1, 1): 0, (0, 1): 1, (0, 0): 2, (1, 0): 3},
}
_S2_ORIENT_DELTA = (1, 0, 0, 3)  # swap=1, invert=2


def _s2_st(u: float) -> float:
    if u >= 0.0:
        return 0.5 * math.sqrt(1.0 + 3.0 * u)
    return 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)


def s2_cell_id_scalar(lat: float, lng: float, level: int = 30) -> int:
    """S2 cell id at ``level`` as a Python int (unsigned 64-bit)."""
    phi, lam = math.radians(lat), math.radians(lng)
    p = (math.cos(phi) * math.cos(lam), math.cos(phi) * math.sin(lam),
         math.sin(phi))
    axis = 0
    if abs(p[1]) > abs(p[axis]):
        axis = 1
    if abs(p[2]) > abs(p[axis]):
        axis = 2
    face = axis if p[axis] >= 0 else axis + 3
    if face == 0:
        u, v = p[1] / p[0], p[2] / p[0]
    elif face == 1:
        u, v = -p[0] / p[1], p[2] / p[1]
    elif face == 2:
        u, v = -p[0] / p[2], -p[1] / p[2]
    elif face == 3:
        u, v = p[2] / p[0], p[1] / p[0]
    elif face == 4:
        u, v = p[2] / p[1], -p[0] / p[1]
    else:
        u, v = -p[1] / p[2], -p[0] / p[2]
    lim = 1 << 30
    i = min(lim - 1, max(0, int(math.floor(_s2_st(u) * lim))))
    j = min(lim - 1, max(0, int(math.floor(_s2_st(v) * lim))))
    pos = 0
    orient = face & 1
    for k in range(29, -1, -1):
        q = _S2_POS_OF[orient][((i >> k) & 1, (j >> k) & 1)]
        pos = pos * 4 + q
        orient ^= _S2_ORIENT_DELTA[q]
    leaf = (face << 61) | (pos << 1) | 1
    if level >= 30:
        return leaf
    lsb = 1 << (2 * (30 - level))
    return (leaf & ~(lsb - 1)) | lsb


def s2_range_scalar(cell_id: int) -> tuple[int, int]:
    lsb = cell_id & (-cell_id)
    return cell_id - (lsb - 1), cell_id + (lsb - 1)


def _to_i64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def s2_cell_agg(lats, lngs, event_ids, level: int, parent_level: int,
                check_mod: int) -> list[tuple[int, int, int, int, int, int]]:
    """Twin of the s2_cell_agg driver query: per level-``level`` cell,
    (cell int64, parent int64, n, min/max event_id, leaf checksum)."""
    rows: dict[int, list] = {}
    for la, ln, eid in zip(lats, lngs, event_ids):
        leaf = s2_cell_id_scalar(la, ln, 30)
        cell = s2_cell_id_scalar(la, ln, level)
        r = rows.setdefault(cell, [0, None, None, 0])
        r[0] += 1
        r[1] = eid if r[1] is None else min(r[1], eid)
        r[2] = eid if r[2] is None else max(r[2], eid)
        r[3] = (r[3] + _to_i64(leaf) % check_mod) % check_mod
    out = []
    for cell, (n, lo, hi, chk) in rows.items():
        lsb = 1 << (2 * (30 - parent_level))
        parent = (cell & ~(lsb - 1)) | lsb
        out.append((_to_i64(cell), _to_i64(parent), n, lo, hi, chk))
    return sorted(out)


def s2_range_join(lats, lngs, event_ids, centers,
                  level: int) -> list[tuple[int, int, int, int]]:
    """Twin of the s2_range_join driver query: per center, events whose
    leaf id falls in the center's level-``level`` cell range ->
    (center_id, n, min_event_id, leaf_xor_low32)."""
    out = []
    for cid, cla, cln in centers:
        lo, hi = s2_range_scalar(s2_cell_id_scalar(cla, cln, level))
        n, mn, xr = 0, None, 0
        for la, ln, eid in zip(lats, lngs, event_ids):
            leaf = s2_cell_id_scalar(la, ln, 30)
            if lo <= leaf <= hi:
                n += 1
                mn = eid if mn is None else min(mn, eid)
                xr ^= leaf & 0xFFFFFFFF
        if n:
            out.append((cid, n, mn, xr))
    return sorted(out)


def crawl_dedup(n_pages: int) -> list[tuple[str, int, int, int]]:
    """Independent twin of the pages_crawl_dedup driver query: pages
    whose numeric id is divisible by 3 are re-crawled 7 days later
    with ' (recrawl)' appended; keep-latest per url then reports the
    re-crawled urls as (url, n_crawls, kept_ts_epoch, kept_len)."""
    from geospark.pages import synth_pages_batch

    batch = synth_pages_batch(np.arange(n_pages, dtype=np.int64))
    urls = batch.column("url").to_pylist()
    ts = batch.column("warc_ts").to_pylist()
    texts = batch.column("text").to_pylist()
    import datetime as _dt

    _epoch0 = _dt.datetime(1970, 1, 1)
    rows = []
    for i, (u, t, x) in enumerate(zip(urls, ts, texts)):
        if i % 3 == 0:
            # naive datetimes are UTC by construction — don't let the
            # host timezone leak in via .timestamp()
            epoch = int((t - _epoch0).total_seconds()) + 7 * 86400
            rows.append((u, 2, epoch, len(x) + len(" (recrawl)")))
    return sorted(rows)


def map_match(points: list[tuple[int, float, float]],
              trajectories: list[tuple[int, list[tuple[float, float]]]],
              max_m: float) -> list[tuple[int, int, int, float, float, float]]:
    """Trajectory-input wrapper over map_match_segments (segments are
    consecutive vertex pairs, seg_idx = position in the line)."""
    segs: list[tuple[int, int, tuple, tuple]] = []
    for uid, line in trajectories:
        for i in range(len(line) - 1):
            segs.append((uid, i, line[i], line[i + 1]))
    return map_match_segments(points, segs, max_m)


def map_match_segments(
    points: list[tuple[int, float, float]],
    segs: list[tuple[int, int, tuple, tuple]],
    max_m: float,
) -> list[tuple[int, int, int, float, float, float]]:
    """Independent brute-force twin of joins.match_points_to_segments:
    for each probe, the nearest segment (strict <, first-wins in
    (line_id, seg_idx) order — the L6 tie-break) within max_m.
    ``segs`` rows are (line_id, seg_idx, (f_lat, f_lng),
    (t_lat, t_lng)). Exact math is the closest_on_segment/_haversine
    pair above; a conservative numpy endpoint-distance prefilter keeps
    the loop tractable (a point within max_m of a segment is within
    max_m + ~seg_len of an endpoint; 1.05x + 10 m slack absorbs the
    mercator-chord vs geodesic gap)."""
    segs = sorted(segs, key=lambda s: (s[0], s[1]))
    if not segs:
        return []
    f_la = np.array([s[2][0] for s in segs])
    f_ln = np.array([s[2][1] for s in segs])
    t_la = np.array([s[3][0] for s in segs])
    t_ln = np.array([s[3][1] for s in segs])

    def _hav_np(la1, ln1, la2, ln2):
        dla = np.radians(la2 - la1) / 2.0
        dln = np.radians(ln2 - ln1) / 2.0
        a = (np.sin(dla) ** 2
             + np.cos(np.radians(la1)) * np.cos(np.radians(la2))
             * np.sin(dln) ** 2)
        return 2.0 * _HAV_R * np.arcsin(np.minimum(1.0, np.sqrt(a)))

    seg_len = _hav_np(f_la, f_ln, t_la, t_ln)
    out = []
    for pid, pla, pln in points:
        bound = max_m + 1.05 * seg_len + 10.0
        near = (np.minimum(_hav_np(pla, pln, f_la, f_ln),
                           _hav_np(pla, pln, t_la, t_ln)) <= bound)
        best = (math.inf, -1, -1, (0.0, 0.0))
        for j in np.flatnonzero(near):
            uid, i, f, t = segs[j]
            c = closest_on_segment((pla, pln), f, t)
            d = _haversine(pla, pln, c[0], c[1])
            if d < best[0]:
                best = (d, uid, i, c)
        if best[0] < max_m:
            out.append((pid, best[1], best[2], best[0],
                        best[3][0], best[3][1]))
    return out


def convex_hull_jarvis(
    latlngs: list[tuple[float, float]],
) -> list[tuple[int, int, int]]:
    """Independent convex-hull twin for the driver oracle: a JARVIS
    MARCH (gift wrapping) over the same x1e7 fixed-point quantization
    as geospark.hull — a different algorithm that must land on the
    identical canonical CCW vertex sequence (start = lexicographic
    min (lng7, lat7); collinear interior points excluded by the
    farthest-candidate rule).  Returns (hull_idx, lat7, lng7)."""
    import math

    q = sorted({
        (int(math.floor(ln * 1e7 + 0.5)), int(math.floor(la * 1e7 + 0.5)))
        for la, ln in latlngs
    })
    if len(q) == 1:
        return [(0, q[0][1], q[0][0])]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) \
            - (a[1] - o[1]) * (b[0] - o[0])

    def d2(a, b):
        return (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2

    start = q[0]
    hull = [start]
    cur = start
    while True:
        cand = None
        for p in q:
            if p == cur:
                continue
            if cand is None:
                cand = p
                continue
            c = cross(cur, cand, p)
            if c < 0 or (c == 0 and d2(cur, p) > d2(cur, cand)):
                cand = p
        if cand == start:
            break
        hull.append(cand)
        cur = cand
        if len(hull) > len(q):  # safety: cannot happen on exact ints
            raise RuntimeError("jarvis march failed to close")
    return [(i, p[1], p[0]) for i, p in enumerate(hull)]


def simplify_dp_deg_py(latlngs: list[tuple[float, float]],
                       tol_deg: float) -> list[bool]:
    """Independent one-shot Douglas-Peucker twin (M7,
    simplify_mask.h:272-290 / src/polyline.cc:16-20 degree-tolerance
    form): scalar recursion (vs the engine's vectorized stack loop)
    over clamped segment-point squared distance in (lng, lat) degree
    space; keep when sq-dist >= tol^2, first max wins."""
    n = len(latlngs)
    keep = [False] * n
    keep[0] = keep[-1] = True
    t2 = tol_deg * tol_deg

    def sqd(lo: int, hi: int, i: int) -> float:
        sx = latlngs[hi][1] - latlngs[lo][1]
        sy = latlngs[hi][0] - latlngs[lo][0]
        rx = latlngs[i][1] - latlngs[lo][1]
        ry = latlngs[i][0] - latlngs[lo][0]
        sq_len = sx * sx + sy * sy
        if sq_len < sys.float_info.epsilon:
            px, py = latlngs[lo][1], latlngs[lo][0]
        else:
            ratio = max(min((sx * rx + sy * ry) / sq_len, 1.0), 0.0)
            px = (1.0 - ratio) * latlngs[lo][1] + latlngs[hi][1] * ratio
            py = (1.0 - ratio) * latlngs[lo][0] + latlngs[hi][0] * ratio
        dx, dy = px - latlngs[i][1], py - latlngs[i][0]
        return dx * dx + dy * dy

    def rec(lo: int, hi: int) -> None:
        if hi - lo <= 1:
            return
        best, best_d = hi, 0.0
        for i in range(lo + 1, hi):
            d = sqd(lo, hi, i)
            if d >= t2 and d > best_d:
                best, best_d = i, d
        if best_d >= t2 and best != hi:
            keep[best] = True
            rec(lo, best)
            rec(best, hi)

    rec(0, n - 1)
    return keep


def frechet_to_ref_py(traj: list[tuple[float, float]],
                      ref: list[tuple[float, float]]) -> tuple[int, int]:
    """Independent discrete-Fréchet twin: recursive memoized coupling
    (vs the engine's iterative DP), math.* haversine, the same
    floored-integer-meter distance quantization.  Returns
    (n_pts, frechet_m)."""
    import sys

    D = [[int(math.floor(_haversine(a[0], a[1], b[0], b[1])))
          for b in ref] for a in traj]
    memo: dict[tuple[int, int], int] = {}

    def c(i: int, j: int) -> int:
        if (i, j) in memo:
            return memo[(i, j)]
        if i == 0 and j == 0:
            v = D[0][0]
        elif i == 0:
            v = max(c(0, j - 1), D[0][j])
        elif j == 0:
            v = max(c(i - 1, 0), D[i][0])
        else:
            v = max(D[i][j],
                    min(c(i - 1, j), c(i, j - 1), c(i - 1, j - 1)))
        memo[(i, j)] = v
        return v

    old = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old, len(traj) + len(ref) + 100))
    try:
        return len(traj), c(len(traj) - 1, len(ref) - 1)
    finally:
        sys.setrecursionlimit(old)


def bpe_merges(word_freqs: list[tuple[str, int]],
               n_merges: int) -> list[tuple[int, str, str, int]]:
    """Classic dict-based BPE merge learning (Sennrich et al. 2016) —
    the independent twin of textops.bpe_train's relational fold.
    Symbols = chars + trailing '</w>' marker; per round: count
    adjacent pairs weighted by word freq (overlapping positions all
    count), take (count DESC, lhs ASC, rhs ASC), merge left-to-right
    non-overlapping. Returns [(rank, lhs, rhs, pair_count)]."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs:
        k = tuple(list(w) + ["</w>"])
        vocab[k] = vocab.get(k, 0) + int(f)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + f
        if not pc:
            break
        (lhs, rhs), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, lhs, rhs, cnt))
        nxt: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == lhs and s == rhs:
                    out[-1] = lhs + rhs
                else:
                    out.append(s)
            k = tuple(out)
            nxt[k] = nxt.get(k, 0) + f
        vocab = nxt
    return merges


def bpe_encode_py(word_freqs: list[tuple[str, int]],
                  merges: list[tuple[str, str]]
                  ) -> list[tuple[str, int, int]]:
    """Independent dict-based twin of textops.bpe_encode: replay the
    merge rules in training order (left-to-right non-overlapping per
    word), then roll up token frequencies. Returns rows
    [(token, n_words, count)]: count = total occurrences weighted by
    word freq, n_words = distinct words containing the token."""
    freqs: dict[str, int] = {}
    for w, f in word_freqs:
        freqs[w] = freqs.get(w, 0) + int(f)
    tok_count: dict[str, int] = {}
    tok_words: dict[str, set] = {}
    for w, f in freqs.items():
        syms = list(w) + ["</w>"]
        for lhs, rhs in merges:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == lhs and s == rhs:
                    out[-1] = lhs + rhs
                else:
                    out.append(s)
            syms = out
        for t in syms:
            tok_count[t] = tok_count.get(t, 0) + f
            tok_words.setdefault(t, set()).add(w)
    return [
        (t, len(tok_words[t]), tok_count[t]) for t in sorted(tok_count)
    ]


def pq_rerank_py(vecs: list[tuple[int, list[float]]],
                 query_ids: list[int], k: int, rerank: int, m: int,
                 n_codes: int) -> list[tuple[int, int, int, int]]:
    """Independent twin of embeddings.pq_topk_rerank: the ADC top-
    ``rerank`` shortlist (pq_topk_py) re-scored by exact integer L2
    on the quantized vectors, final top-k by (exact d2, vec_id)."""
    short = pq_topk_py(vecs, query_ids, rerank, m, n_codes)
    qv = {vid: [math.floor(float(x) * 1000000.0) for x in v]
          for vid, v in vecs}
    out: list[tuple[int, int, int, int]] = []
    for qid in query_ids:
        cands = [vid for q, _, vid, _ in short if q == qid]
        scored = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv[qid], qv[vid])), vid)
            for vid in cands
        )
        for rn, (dd, vid) in enumerate(scored[:k], start=1):
            out.append((int(qid), rn, int(vid), int(dd)))
    return out


def pq_topk_py(vecs: list[tuple[int, list[float]]],
               query_ids: list[int], k: int, m: int,
               n_codes: int) -> list[tuple[int, int, int, int]]:
    """Independent plain-Python twin of embeddings.pq_topk: integer-
    quantized product quantization + ADC. Components floor(x*1e6) as
    ints (float32 widened exactly to double first), codebooks = the
    first n_codes vectors' subvectors, code ties break on c_id, ADC
    rank ties on vec_id. Returns [(query_id, rn, vec_id, d2_q)]."""
    d = len(vecs[0][1])
    dsub = d // m

    def q(x: float) -> int:
        return math.floor(float(x) * 1000000.0)

    qv = {vid: [q(x) for x in v] for vid, v in vecs}
    cents = {vid: qv[vid] for vid, _ in vecs if vid < n_codes}

    def sub(a: list[int], s: int) -> list[int]:
        return a[s * dsub:(s + 1) * dsub]

    def d2(a: list[int], b: list[int]) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    codes = {}
    for vid, _ in vecs:
        codes[vid] = [
            min(
                ((d2(sub(qv[vid], s), sub(cents[c], s)), c)
                 for c in sorted(cents)),
            )[1]
            for s in range(m)
        ]
    out: list[tuple[int, int, int, int]] = []
    for qid in query_ids:
        lut = {
            (s, c): d2(sub(qv[qid], s), sub(cents[c], s))
            for s in range(m) for c in sorted(cents)
        }
        scored = sorted(
            (sum(lut[(s, codes[vid][s])] for s in range(m)), vid)
            for vid, _ in vecs
        )
        for rn, (dd, vid) in enumerate(scored[:k], start=1):
            out.append((qid, rn, vid, dd))
    return out


def _quantize_vecs(vecs: list[tuple[int, list[float]]]) -> dict[int, list[int]]:
    """floor(x*1e6) integer quantization keyed by vec_id — the shared
    exact-arithmetic domain of the kmeans/PQ/IVF twins."""
    return {vid: [math.floor(float(x) * 1000000.0) for x in v]
            for vid, v in vecs}


def _d2_int(a: list[int], b: list[int]) -> int:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _lloyd_py(qv: dict[int, list[int]], k: int,
              iters: int) -> list[list[int]]:
    """Integer-exact Lloyd core: init = first k vectors by id, ties to
    the lowest centroid_id, update = componentwise floor division,
    empty clusters keep their centroid. Returns the final centroids."""
    cents = [list(qv[vid]) for vid in sorted(qv)[:k]]
    dim = len(cents[0])
    for _ in range(iters):
        sums = [[0] * dim for _ in range(k)]
        cnt = [0] * k
        for vid in qv:
            _, c = min((_d2_int(qv[vid], cc), i) for i, cc in enumerate(cents))
            cnt[c] += 1
            for p, x in enumerate(qv[vid]):
                sums[c][p] += x
        cents = [
            [sums[c][p] // cnt[c] for p in range(dim)] if cnt[c]
            else cents[c]
            for c in range(k)
        ]
    return cents


def kmeans_py(vecs: list[tuple[int, list[float]]], k: int,
              iters: int) -> list[tuple[int, int, int, int, int, int]]:
    """Independent plain-Python twin of embeddings.kmeans_fit:
    integer-exact Lloyd (see _lloyd_py). Returns per-centroid
    certification rows [(centroid_id, n, inertia, c_sum, c_min,
    c_max)]."""
    qv = _quantize_vecs(vecs)
    cents = _lloyd_py(qv, k, iters)
    agg: dict[int, list[int]] = {}
    for vid in qv:
        d2, c = min((_d2_int(qv[vid], cc), i) for i, cc in enumerate(cents))
        a = agg.setdefault(c, [0, 0])
        a[0] += 1
        a[1] += d2
    return [
        (c, agg[c][0], agg[c][1],
         sum(cents[c]), min(cents[c]), max(cents[c]))
        for c in sorted(agg)
    ]


def ivf_trained_py(vecs: list[tuple[int, list[float]]],
                   query_ids: list[int], k: int, km_k: int, iters: int,
                   n_probe: int) -> list[tuple[int, int, int, int]]:
    """Independent plain-Python twin of embeddings.ivf_topk_trained:
    Lloyd-trained coarse quantizer (_lloyd_py), each vector assigned
    to its nearest trained centroid (exact integer L2, ties to the
    lower centroid_id), queries probe their n_probe nearest centroids
    and exact-L2 re-rank the candidates in the probed lists (ties on
    vec_id; the query itself is a candidate). Returns
    [(query_id, rn, vec_id, d2_q)]."""
    qv = _quantize_vecs(vecs)
    cents = _lloyd_py(qv, km_k, iters)
    assign = {
        vid: min((_d2_int(qv[vid], cc), i) for i, cc in enumerate(cents))[1]
        for vid in qv
    }
    out: list[tuple[int, int, int, int]] = []
    for qid in query_ids:
        probed = {
            c for _, c in sorted(
                (_d2_int(qv[qid], cc), i) for i, cc in enumerate(cents)
            )[:n_probe]
        }
        scored = sorted(
            (_d2_int(qv[qid], qv[vid]), vid)
            for vid in qv if assign[vid] in probed
        )
        for rn, (dd, vid) in enumerate(scored[:k], start=1):
            out.append((int(qid), rn, int(vid), int(dd)))
    return out


def corridor_pairs(
    points: list[tuple[int, float, float]],
    segs: list[tuple[int, int, tuple, tuple]],
    max_m: float,
) -> list[tuple[int, int, int, float, float, float]]:
    """Independent brute-force twin of joins.corridor_join: for each
    probe, EVERY line with a segment within max_m (strict <), keeping
    that line's nearest segment (ties first-wins on seg_idx — the L6
    order within a line). Rows (point_id, line_id, seg_idx, dist,
    c_lat, c_lng). Same numpy endpoint prefilter discipline as
    map_match_segments."""
    segs = sorted(segs, key=lambda s: (s[0], s[1]))
    if not segs:
        return []
    f_la = np.array([s[2][0] for s in segs])
    f_ln = np.array([s[2][1] for s in segs])
    t_la = np.array([s[3][0] for s in segs])
    t_ln = np.array([s[3][1] for s in segs])

    def _hav_np(la1, ln1, la2, ln2):
        dla = np.radians(la2 - la1) / 2.0
        dln = np.radians(ln2 - ln1) / 2.0
        a = (np.sin(dla) ** 2
             + np.cos(np.radians(la1)) * np.cos(np.radians(la2))
             * np.sin(dln) ** 2)
        return 2.0 * _HAV_R * np.arcsin(np.minimum(1.0, np.sqrt(a)))

    seg_len = _hav_np(f_la, f_ln, t_la, t_ln)
    out = []
    for pid, pla, pln in points:
        bound = max_m + 1.05 * seg_len + 10.0
        near = (np.minimum(_hav_np(pla, pln, f_la, f_ln),
                           _hav_np(pla, pln, t_la, t_ln)) <= bound)
        best: dict[int, tuple[float, int, tuple]] = {}
        for j in np.flatnonzero(near):
            uid, i, f, t = segs[j]
            c = closest_on_segment((pla, pln), f, t)
            d = _haversine(pla, pln, c[0], c[1])
            cur = best.get(uid)
            if cur is None or d < cur[0]:
                best[uid] = (d, i, c)
        for uid in sorted(best):
            d, i, c = best[uid]
            if d < max_m:
                out.append((pid, uid, i, d, c[0], c[1]))
    return out


def viterbi_match_py(
    points: list[tuple[int, int, int, float, float]],
    segs: list[tuple[int, int, tuple, tuple]],
    max_m: float, k: int, trans_weight: int,
) -> list[tuple[int, int, int, int, int]]:
    """Independent plain-Python twin of hmm.viterbi_map_match.
    ``points`` rows are (user_id, seq, point_id, lat, lng). Candidates
    = corridor_pairs top-k lines per point by (dist, line_id);
    emission = floor(dist) m; transition = |floor(gc(snap,snap')) -
    floor(gc(obs,obs'))| * trans_weight // 100; ties at
    every argmin to the earlier (lower line_id) candidate. Returns
    [(user_id, seq, point_id, line_id, seg_idx)] for observations
    with >= 1 candidate."""
    out: list[tuple[int, int, int, int, int]] = []
    by_user: dict[int, list[tuple[int, int, float, float]]] = {}
    for uid, seq, pid, la, ln in points:
        by_user.setdefault(uid, []).append((seq, pid, la, ln))
    for uid in sorted(by_user):
        traj = sorted(by_user[uid])
        cand_rows = corridor_pairs(
            [(pid, la, ln) for _, pid, la, ln in traj], segs, max_m)
        by_pid: dict[int, list] = {}
        for pid, line, si, d, cla, cln in cand_rows:
            by_pid.setdefault(pid, []).append((d, line, si, cla, cln))
        trellis = []  # per observation: list of candidates
        obs_meta = []
        for seq, pid, la, ln in traj:
            cands = sorted(by_pid.get(pid, []))[:k]
            cands = sorted(cands, key=lambda c: (c[0], c[1]))
            if cands:
                # re-sort by (seq, line) convention: line asc
                cands = sorted(cands, key=lambda c: c[1])
                trellis.append(cands)
                obs_meta.append((seq, pid, la, ln))
        if not trellis:
            continue
        cost = [math.floor(c[0]) for c in trellis[0]]
        back: list[list[int]] = []
        for t in range(1, len(trellis)):
            prev, cur = trellis[t - 1], trellis[t]
            _, _, pla0, pln0 = obs_meta[t - 1]
            _, _, pla1, pln1 = obs_meta[t]
            d_pp = math.floor(_haversine(pla0, pln0, pla1, pln1))
            nc, nb = [], []
            for j, (dj, lj, sj, cla_j, cln_j) in enumerate(cur):
                best = None
                for i, (di, li, si, cla_i, cln_i) in enumerate(prev):
                    d_cc = math.floor(
                        _haversine(cla_i, cln_i, cla_j, cln_j))
                    tr = abs(d_cc - d_pp) * trans_weight // 100
                    v = cost[i] + tr
                    if best is None or v < best[0]:
                        best = (v, i)
                nc.append(best[0] + math.floor(dj))
                nb.append(best[1])
            cost, back_t = nc, nb
            back.append(back_t)
        j = min(range(len(cost)), key=lambda i: (cost[i], i))
        path = [j]
        for t in range(len(trellis) - 2, -1, -1):
            j = back[t][j]
            path.append(j)
        path.reverse()
        for t, j in enumerate(path):
            seq, pid, _, _ = obs_meta[t]
            _, line, si, _, _ = trellis[t][j]
            out.append((uid, seq, pid, line, si))
    return out


def ivfpq_py(vecs: list[tuple[int, list[float]]], query_ids: list[int],
             k: int, km_k: int, iters: int, n_probe: int,
             m: int, n_codes: int) -> list[tuple[int, int, int, int]]:
    """Independent plain-Python twin of embeddings.ivfpq_topk:
    Lloyd-trained coarse quantizer (_lloyd_py), residual = quantized
    vector minus assigned centroid, per-subspace residual codebook
    from the first n_codes vectors by id, PQ code = argmin exact
    integer L2 (ties to the lowest code id), query ADC = per-probe
    residual LUT summed over the m codes. Candidates are the probed
    lists; ties on vec_id. Returns [(query_id, rn, vec_id, d2_adc)]."""
    qv = _quantize_vecs(vecs)
    cents = _lloyd_py(qv, km_k, iters)
    dim = len(cents[0])
    dsub = dim // m
    assign = {
        vid: min((_d2_int(qv[vid], cc), i) for i, cc in enumerate(cents))[1]
        for vid in qv
    }
    resid = {
        vid: [x - y for x, y in zip(qv[vid], cents[assign[vid]])]
        for vid in qv
    }
    sample_ids = sorted(qv)[:n_codes]
    cb = [
        [resid[vid][s * dsub:(s + 1) * dsub] for vid in sample_ids]
        for s in range(m)
    ]
    codes = {
        vid: [
            min((_d2_int(resid[vid][s * dsub:(s + 1) * dsub], c), j)
                for j, c in enumerate(cb[s]))[1]
            for s in range(m)
        ]
        for vid in qv
    }
    out: list[tuple[int, int, int, int]] = []
    for qid in query_ids:
        probed = sorted(
            (_d2_int(qv[qid], cc), i) for i, cc in enumerate(cents)
        )[:n_probe]
        scored = []
        for _, ci in probed:
            qr = [x - y for x, y in zip(qv[qid], cents[ci])]
            lut = [
                [_d2_int(qr[s * dsub:(s + 1) * dsub], c) for c in cb[s]]
                for s in range(m)
            ]
            for vid in qv:
                if assign[vid] == ci:
                    scored.append((
                        sum(lut[s][codes[vid][s]] for s in range(m)), vid))
        for rn, (dd, vid) in enumerate(sorted(scored)[:k], start=1):
            out.append((int(qid), rn, int(vid), int(dd)))
    return out


def resize_blocks_py(data: bytes, k: int) -> list[int]:
    """Independent twin of multimodal.resize_media's block-mean pool:
    pure-python loop arithmetic (no numpy), block b = bytes
    [b*n//k, (b+1)*n//k), value = sum // count."""
    n = len(data)
    if n == 0:
        return [0] * k
    out = []
    for b in range(k):
        lo, hi = (b * n) // k, ((b + 1) * n) // k
        if hi <= lo:
            out.append(0)
            continue
        s = 0
        for i in range(lo, hi):
            s += data[i]
        out.append(s // (hi - lo))
    return out


def url_normalize_py(url: str) -> str:
    """Independent twin of urls.url_normalize, built on urllib.parse
    (a different parser family than the Spark regex grammar — so
    parity certifies the semantics, not the plan). Same six rules:
    lowercase scheme/host, strip default ports, drop fragment, drop
    tracking params, sort remaining params, tidy the path."""
    from urllib.parse import urlsplit

    sp = urlsplit(url)
    if not sp.scheme:
        return url.lower()
    scheme = sp.scheme.lower()
    auth = sp.netloc.lower()
    if scheme == "http" and auth.endswith(":80"):
        auth = auth[: -len(":80")]
    elif scheme == "https" and auth.endswith(":443"):
        auth = auth[: -len(":443")]
    path = re.sub("/{2,}", "/", sp.path)
    path = re.sub(r"/index\.html$", "/", path)
    path = path.rstrip("/") or "/"
    track = re.compile(r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid)=")
    kept = sorted(p for p in sp.query.split("&")
                  if p and not track.match(p))
    qtail = "?" + "&".join(kept) if kept else ""
    return f"{scheme}://{auth}{path}{qtail}"


def _messy_variant_py(url: str, branch: int) -> str:
    """Plain-Python twin of urls.messy_variant (same branch table)."""
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)([^?#]*)", url)
    host, path = m.group(1), m.group(2)
    b = branch % 6
    if b == 0:
        return f"HTTPS://{host.upper()}:443{path}#frag"
    if b == 1:
        return f"https://{host}{path}?utm_source=feed&utm_medium=rss&gclid=xyz"
    if b == 2:
        return f"https://{host}{path.replace('/', '//')}"
    if b == 3:
        return f"https://{host}{path}/index.html"
    if b == 4:
        return f"https://{host}{path}/"
    return f"http://{host}:80{path}?b=2&a=1"


def url_normalize_stats(n_pages: int) -> list[tuple[str, int, int]]:
    """Independent twin of the pages_url_normalize driver query:
    pages with id % 3 == 0 get a deterministic messy variant
    (branch = id // 3); clean + messy rows are normalized with
    url_normalize_py and grouped by canonical url as
    (url_norm, n_raw_rows, n_distinct_raw)."""
    from geospark.pages import synth_pages_batch

    batch = synth_pages_batch(np.arange(n_pages, dtype=np.int64))
    urls = batch.column("url").to_pylist()
    rows: list[tuple[str, str]] = []
    for i, u in enumerate(urls):
        if i % 3 == 0:
            rows.append((u, u))
            rows.append((_messy_variant_py(u, i // 3), u))
    groups: dict[str, list[str]] = {}
    for raw, _ in rows:
        groups.setdefault(url_normalize_py(raw), []).append(raw)
    return sorted(
        (k, len(v), len(set(v))) for k, v in groups.items()
    )


def semdedup_py(vecs: list[tuple[int, list[float]]], k: int, iters: int,
                tau_num: int = 49, tau_den: int = 400,
                ) -> list[tuple[int, int, int, int]]:
    """Independent twin of embeddings.semdedup: _lloyd_py training +
    lowest-id assignment, floor-div-1000 coarsened components, the
    integer cosine predicate, and a plain union-find over brute pairs
    (vs the engine's per-cluster Gram tiles and label propagation).
    Returns sorted (vec_id, centroid_id, canonical_id, is_dup) rows."""
    qv = _quantize_vecs(vecs)
    cents = _lloyd_py(qv, k, iters)
    assign = {
        vid: min((_d2_int(qv[vid], c), i) for i, c in enumerate(cents))[1]
        for vid in qv
    }
    v3 = {vid: [x // 1000 for x in qv[vid]] for vid in qv}
    norms = {vid: sum(x * x for x in v3[vid]) for vid in qv}
    parent = {vid: vid for vid in qv}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(qv)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if assign[a] != assign[b]:
                continue
            d = sum(x * y for x, y in zip(v3[a], v3[b]))
            if d > 0 and tau_den * d * d > tau_num * norms[a] * norms[b]:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
    return [
        (vid, assign[vid], find(vid), int(find(vid) != vid))
        for vid in ids
    ]
