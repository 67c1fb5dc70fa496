"""S2-style hierarchical cell index — vectorized numpy kernels.

The north-star pipeline encodes page geo-entities "to H3/S2 cells and
webmercator tile keys in batched pandas UDFs". The engine's primary
index is the webmercator quadkey cell (cells.py); this module adds the
S2 side: the public S2 cell-id scheme (cube-face decomposition +
quadratic face projection + Hilbert space-filling curve, 64-bit ids,
levels 0-30) implemented from scratch as numpy kernels wrapped in
Arrow-batched pandas UDFs.

Everything here follows the *published* S2 spec (the s2geometry.io
cell-hierarchy devguide and the open-source s2geometry `s2coords.h` /
`s2cell_id.cc` documentation): face layout, the u->s quadratic
transform, the four Hilbert orientation tables, and the id bit layout

    id = face(3 bits) . hilbert_position(2*level bits) . 1 . 0...0

are spec constants, not copied code. A second, independently written
scalar implementation lives in goldens.s2_cell_id_scalar and generates
the driver-oracle VALUES; tests cross-check the two on random points.

Why S2 (and not an H3 port as well): both are hierarchical cell
indexes; S2's defining property — every cell's descendants form ONE
contiguous id range [range_min, range_max] — is the one that matters
for Spark plans, because containment becomes a broadcastable range
join (no cover explosion, no hash shuffle) and sort-by-id gives
spatially clustered parquet files at any level simultaneously. H3's
hex cells do not nest exactly (aperture-7 children overlap parent
boundaries), so "H3-style" containment would still need the
cover-and-refine machinery the quadkey index already provides.

Signed-ness note: Spark has no uint64, so ids are reinterpreted as
int64 (two's complement bit pattern preserved). Faces 4-5 (ids with
bit 63 set) become negative; *within one face* signed order equals
unsigned order, and every [range_min, range_max] containment interval
lies within one face, so BETWEEN range joins are exact. Only global
cross-face ORDER BY differs from unsigned order (documented; sort by
``(id >> 61) & 7`` then id if face-major order is needed).
"""
from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_LIMIT = 1 << MAX_LEVEL

# Hilbert orientation tables (spec constants; orientation bits:
# swap=1, invert=2). IJ_TO_POS[orient][i*2+j] = child position on the
# curve; POS_TO_ORIENTATION[pos] = orientation delta for that child.
_IJ_TO_POS = np.array(
    [[0, 1, 3, 2],   # canonical
     [0, 3, 1, 2],   # swap
     [2, 3, 1, 0],   # invert
     [2, 1, 3, 0]],  # swap|invert
    dtype=np.uint64,
)
_POS_TO_ORIENT = np.array([1, 0, 0, 3], dtype=np.uint64)


def _xyz(lat: np.ndarray, lng: np.ndarray):
    phi = np.radians(lat)
    lam = np.radians(lng)
    cp = np.cos(phi)
    return cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)


def _face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Cube face (0..5) + (u, v) face coordinates per the spec layout:
    faces 0/1/2 = +x/+y/+z, 3/4/5 = -x/-y/-z."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax >= ay, np.where(ax >= az, 0, 2),
                    np.where(ay >= az, 1, 2))
    major = np.where(axis == 0, x, np.where(axis == 1, y, z))
    face = np.where(major < 0, axis + 3, axis).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return face, u, v


def _uv_to_st(uv: np.ndarray) -> np.ndarray:
    """Quadratic projection (the spec's default): equalizes cell areas
    to within ~2.1x across a face."""
    # np.where evaluates both branches; clamp keeps the unselected
    # branch's sqrt argument valid (uv is in [-1, 1])
    return np.where(uv >= 0.0,
                    0.5 * np.sqrt(np.maximum(1.0 + 3.0 * uv, 0.0)),
                    1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * uv, 0.0)))


def _st_to_ij(st: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(st * _LIMIT), 0, _LIMIT - 1).astype(np.uint64)


def s2_leaf_np(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Level-30 (leaf) cell ids for degree arrays -> uint64 array.

    The Hilbert walk is 30 vectorized table-lookup steps over the
    whole batch — no per-row Python.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    x, y, z = _xyz(lat, lng)
    face, u, v = _face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))

    faceu = face.astype(np.uint64)
    pos = np.zeros(lat.shape, dtype=np.uint64)
    orient = faceu & np.uint64(1)  # face's starting orientation: face & swap
    one = np.uint64(1)
    for k in range(MAX_LEVEL - 1, -1, -1):
        ku = np.uint64(k)
        ij = (((i >> ku) & one) << one) | ((j >> ku) & one)
        p = _IJ_TO_POS[orient, ij]
        pos = (pos << np.uint64(2)) | p
        orient = orient ^ _POS_TO_ORIENT[p]
    return (faceu << np.uint64(61)) | (pos << one) | one


def s2_cell_np(lat: np.ndarray, lng: np.ndarray, level: int) -> np.ndarray:
    """Cell ids at ``level`` (0..30) -> uint64 array."""
    return s2_parent_np(s2_leaf_np(lat, lng), level)


def _lsb_for_level(level: int) -> np.uint64:
    return np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))


def s2_parent_np(ids: np.ndarray, level: int) -> np.ndarray:
    """Ancestor at ``level`` (must be <= the ids' level)."""
    ids = np.asarray(ids, dtype=np.uint64)
    lsb = _lsb_for_level(level)
    return (ids & ~(lsb - np.uint64(1))) | lsb


def s2_range_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """[range_min, range_max] of each cell's descendant leaf interval
    (inclusive, per the spec: min/max LEAF id under the cell)."""
    ids = np.asarray(ids, dtype=np.uint64)
    lsb = ids & (~ids + np.uint64(1))
    return ids - (lsb - np.uint64(1)), ids + (lsb - np.uint64(1))


def s2_level_np(ids: np.ndarray) -> np.ndarray:
    """Level of each cell id (30 - trailing_zeros/2)."""
    ids = np.asarray(ids, dtype=np.uint64)
    lsb = ids & (~ids + np.uint64(1))
    # lsb is a power of two <= 2^60; uint64 -> float64 is exact for
    # powers of two, so log2 is exact.
    tz = np.rint(np.log2(lsb.astype(np.float64)))
    return (MAX_LEVEL - tz / 2).astype(np.int64)


def s2_token(cell_id: int) -> str:
    """Hex token (trailing zeros stripped) — the spec's compact text
    form; small-scale/display only."""
    h = format(int(cell_id) & 0xFFFFFFFFFFFFFFFF, "016x").rstrip("0")
    return h or "X"


# --- Spark integration ------------------------------------------------------
def as_int64(ids: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 ids as int64 (bit pattern preserved)."""
    return np.ascontiguousarray(ids, dtype=np.uint64).view(np.int64)


def s2_cell_udf(level: int = MAX_LEVEL):
    """pandas_udf (lat: double, lng: double) -> long S2 cell id at
    ``level``. Arrow-batched (ArrowEvalPython, not row-at-a-time)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # explicit non-string annotations: this module uses
    # `from __future__ import annotations`, which would turn hint-based
    # pandas_udf inference into unresolvable local strings
    def _enc(lat, lng):
        ids = s2_cell_np(lat.to_numpy(np.float64), lng.to_numpy(np.float64),
                         level)
        return pd.Series(as_int64(ids))

    _enc.__annotations__ = {"lat": pd.Series, "lng": pd.Series,
                            "return": pd.Series}
    return pandas_udf(_enc, "long")


def s2_parent_col(cell, level: int):
    """Pure-Column parent-at-level over an int64 S2 id column — the
    JVM fast path (no Python) for re-leveling an already-encoded id.

    Bit identity: &~(lsb-1) then |lsb is sign-safe on int64 because
    lsb <= 2^60 (level >= 0), so the mask arithmetic never touches
    bit 63.
    """
    from pyspark.sql import functions as F

    lsb = 1 << (2 * (MAX_LEVEL - level))
    c = cell if not isinstance(cell, str) else F.col(cell)
    return c.bitwiseAND(F.lit(~(lsb - 1))).bitwiseOR(F.lit(lsb))


# --- cap covering (mixed-level cell cover of a radius query) ----------------
_EARTH_R = 6371000.0  # kernels.EARTH_RADIUS_M (haversine radius)


def _st_to_uv(st: float) -> float:
    # inverse of the quadratic projection
    if st >= 0.5:
        return (4.0 * st * st - 1.0) / 3.0
    return (1.0 - 4.0 * (1.0 - st) * (1.0 - st)) / 3.0


def _face_uv_to_xyz(face: int, u: float, v: float):
    if face == 0:
        p = (1.0, u, v)
    elif face == 1:
        p = (-u, 1.0, v)
    elif face == 2:
        p = (-u, -v, 1.0)
    elif face == 3:
        p = (-1.0, -v, -u)
    elif face == 4:
        p = (v, -1.0, -u)
    else:
        p = (v, u, -1.0)
    import math as m

    n = m.sqrt(p[0] * p[0] + p[1] * p[1] + p[2] * p[2])
    return (p[0] / n, p[1] / n, p[2] / n)


def _angle(a, b) -> float:
    import math as m

    d = max(-1.0, min(1.0, a[0] * b[0] + a[1] * b[1] + a[2] * b[2]))
    return m.acos(d)


def cover_cap(lat: float, lng: float, radius_m: float,
              max_cells: int = 48, max_level: int = 16) -> list[int]:
    """Mixed-level cell cover of the spherical cap (conservative:
    never misses an intersecting cell). Driver-side scalar BFS over
    the quadtree — output is <= max_cells ids, small by construction.

    Disjointness test: a cell is contained in the cap around its own
    center with its circumradius cr, so center-distance > r + cr
    proves cap∩cell = ∅; everything else is kept or subdivided.
    """
    import math as m

    c = _face_uv_to_xyz  # noqa: F841 (alias kept for clarity below)
    phi, lam = m.radians(lat), m.radians(lng)
    center = (m.cos(phi) * m.cos(lam), m.cos(phi) * m.sin(lam), m.sin(phi))
    r = radius_m / _EARTH_R

    def cell_geom(face: int, level: int, i0: int, j0: int):
        size = 1 << (MAX_LEVEL - level)
        corners = []
        for di in (0, size):
            for dj in (0, size):
                u = _st_to_uv((i0 + di) / _LIMIT)
                v = _st_to_uv((j0 + dj) / _LIMIT)
                corners.append(_face_uv_to_xyz(face, u, v))
        um = _st_to_uv((i0 + size / 2) / _LIMIT)
        vm = _st_to_uv((j0 + size / 2) / _LIMIT)
        ctr = _face_uv_to_xyz(face, um, vm)
        cr = max(_angle(ctr, q) for q in corners)
        return ctr, cr

    def cell_id(face: int, level: int, i0: int, j0: int) -> int:
        # Hilbert position of the cell's min corner, truncated to level
        pos = 0
        orient = face & 1
        for k in range(MAX_LEVEL - 1, MAX_LEVEL - 1 - level, -1):
            q = int(_IJ_TO_POS[orient, ((i0 >> k) & 1) * 2 + ((j0 >> k) & 1)])
            pos = pos * 4 + q
            orient ^= int(_POS_TO_ORIENT[q])
        pos = pos << (2 * (MAX_LEVEL - level))
        leafish = (face << 61) | (pos << 1) | 1
        lsb = 1 << (2 * (MAX_LEVEL - level))
        return (leafish & ~(lsb - 1)) | lsb

    queue: list[tuple[int, int, int, int]] = [(f, 0, 0, 0) for f in range(6)]
    out: list[int] = []
    while queue:
        face, level, i0, j0 = queue.pop(0)
        ctr, cr = cell_geom(face, level, i0, j0)
        d = _angle(center, ctr)
        if d > r + cr:
            continue
        full_inside = d + cr <= r
        budget_left = max_cells - len(out) - len(queue)
        if full_inside or level >= max_level or budget_left < 4:
            out.append(cell_id(face, level, i0, j0))
        else:
            half = 1 << (MAX_LEVEL - level - 1)
            for di in (0, half):
                for dj in (0, half):
                    queue.append((face, level + 1, i0 + di, j0 + dj))
    return out


def merge_ranges(cell_ids: list[int]) -> list[tuple[int, int]]:
    """Inclusive [lo, hi] leaf intervals of the cells, with adjacent /
    overlapping intervals coalesced (fewer BETWEEN branches)."""
    ivs = sorted(
        (int(lo), int(hi))
        for lo, hi in zip(*s2_range_np(np.array(cell_ids, dtype=np.uint64)))
    )
    merged: list[list[int]] = []
    for lo, hi in ivs:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def s2_radius_join(points, centers: list[tuple[int, float, float]],
                   max_m: float, max_cells: int = 48,
                   leaf_col: str = "leaf"):
    """Exact radius join via the S2 index: per center, cover_cap ->
    (level, cell) rows broadcast -> ancestor-at-level EQUI-join ->
    exact haversine refine. Same semantics as joins.radius_join_df,
    with the S2 cover replacing the quadkey cover explosion.

    The join is a broadcast HASH join, not the BETWEEN interval form:
    a point lies in cover cell C iff its ancestor at C's level equals
    C, so each point emits one (level, ancestor) key per DISTINCT
    cover level (3-5 for a cap cover — bounded by the level spread,
    independent of the number of centers) and probes a hash table.
    The earlier leaf BETWEEN [lo, hi] broadcast join degenerated to a
    BroadcastNestedLoopJoin — O(points x intervals) predicate evals,
    which at 10^5 centers x 100 TB is the scan's square. Cover cells
    of one cap are DISJOINT (quadtree BFS keeps or subdivides, never
    both), so at most one cover cell of a given query contains a
    point — the equi-join cannot duplicate pairs; no distinct needed.

    ``points`` must already carry the leaf id column (one Arrow encode
    pass, amortized across every S2 consumer of the table).
    """
    import numpy as np
    from pyspark.sql import functions as F

    from geospark.functions import kernels as K

    spark = points.sparkSession
    rows = []
    levels: set[int] = set()
    for cid, cla, cln in centers:
        cells = np.array(cover_cap(cla, cln, max_m, max_cells),
                         dtype=np.uint64)
        lvls = s2_level_np(cells)
        for cell64, lvl in zip(as_int64(cells), lvls):
            rows.append((cid, cla, cln, int(lvl), int(cell64)))
            levels.add(int(lvl))
    covers = spark.createDataFrame(
        rows,
        "query_id long, q_lat double, q_lng double, _lvl int, _cell long",
    )
    leaf = F.col(leaf_col)
    anc = points.withColumn(
        "_a",
        F.explode(F.array(*[
            F.struct(F.lit(lvl).alias("_lvl"),
                     s2_parent_col(leaf, lvl).alias("_cell"))
            for lvl in sorted(levels)
        ])),
    ).select("*", "_a._lvl", "_a._cell").drop("_a")
    cand = anc.join(F.broadcast(covers), ["_lvl", "_cell"])
    dist = K.distance(F.col("q_lat"), F.col("q_lng"), F.col("lat"),
                      F.col("lng"))
    return (cand.withColumn("dist_m", dist)
            .filter(F.col("dist_m") < max_m)
            .drop("_lvl", "_cell", "q_lat", "q_lng"))
