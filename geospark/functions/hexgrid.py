"""H3-style hexagonal multi-resolution index on the webmercator plane.

The north-star operator surface calls for an "H3/S2" cell family; the
quadkey tile index (kernels.py) and the S2 Hilbert index (s2cell.py)
cover the square-cell designs, this module adds the hexagonal one.
It is H3-STYLE, not H3-byte-compatible: the aperture-7 structure is
the same — each finer resolution shrinks the lattice by sqrt(7) and
rotates it by atan(sqrt(3)/5) ~ 19.1066 deg (the angle of lattice
vector 2*e1+e2, which generates the order-7 sublattice) — but the
base plane is the webmercator projection (shared with the tile index)
rather than icosahedral gnomonic faces. Consequences, documented up
front: cells are exactly hexagonal in mercator meters (not on the
sphere), there are no pentagons, and area varies with latitude by the
mercator factor (1/cos(lat)^2). For the pipeline's uses — skew-aware
binning, k-ring neighbor joins, multi-res rollups — those trade-offs
buy a fully closed-form encode: every operation below is pure JVM
Column arithmetic (codegen, no UDF) with a literal-identical DuckDB
SQL twin, so the driver oracle checks VALUES, not a replicated plan.

Index layout (int64): ``res << 58 | (q + 2^28) << 29 | (r + 2^28)``
with pointy-top axial coords (q, r). At res 15 the circumradius is
S0/sqrt(7)^15 ~ 0.05 m; |q|,|r| stay < 2^24, comfortably inside the
29-bit fields, and ids are positive for res 0..15.

Cell assignment rounds fractional cube coords with floor(x+0.5) (NOT
banker's round) and resolves the off-lattice component by largest
rounding error with strict-> tie-breaks — the same arithmetic in both
engines, so Spark and DuckDB agree bit-for-bit away from (measure-
zero) cell boundaries.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from geospark.functions import kernels as K

S0 = 4_000_000.0            # res-0 hex circumradius, mercator meters
SQRT3 = math.sqrt(3.0)
SQRT7 = math.sqrt(7.0)
ALPHA = math.atan2(SQRT3, 5.0)   # aperture-7 inter-res rotation
MAX_RES = 15
OFF = 1 << 28
MASK29 = (1 << 29) - 1

_COS = [math.cos(r * ALPHA) for r in range(MAX_RES + 1)]
_SIN = [math.sin(r * ALPHA) for r in range(MAX_RES + 1)]
_SIZE = [S0 / SQRT7 ** r for r in range(MAX_RES + 1)]


def _c(v):
    return v if isinstance(v, Column) else F.col(v)


# ---------------------------------------------------------------------------
# encode: (x, y) mercator -> hex cell id
# ---------------------------------------------------------------------------
def hex_cell_from_xy(x, y, res: int) -> Column:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}")
    c, s, size = _COS[res], _SIN[res], _SIZE[res]
    x, y = _c(x), _c(y)
    xr = x * F.lit(c) + y * F.lit(s)          # rotate by -res*ALPHA
    yr = y * F.lit(c) - x * F.lit(s)
    qf = (F.lit(SQRT3 / 3.0) * xr - yr / F.lit(3.0)) / F.lit(size)
    rf = (F.lit(2.0 / 3.0) * yr) / F.lit(size)
    sf = -qf - rf
    rq = F.floor(qf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    rs = F.floor(sf + F.lit(0.5))
    dq = F.abs(rq.cast("double") - qf)
    dr = F.abs(rr.cast("double") - rf)
    ds = F.abs(rs.cast("double") - sf)
    fix_q = (dq > dr) & (dq > ds)
    q = F.when(fix_q, -rr - rs).otherwise(rq)
    r = F.when(~fix_q & (dr > ds), -rq - rs).otherwise(rr)
    return (
        F.lit(res).cast("long") * F.lit(1 << 58)
        + (q + F.lit(OFF)) * F.lit(1 << 29)
        + (r + F.lit(OFF))
    ).cast("long")


def hex_cell(lat, lng, res: int) -> Column:
    """lat/lng -> hex cell id at ``res`` (pure Column arithmetic).

    NOTE: composing this as ONE Column duplicates the mercator
    subtree at every reference of qf/rf/sf (~50 copies), which blows
    the whole-stage-codegen source past what Janino compiles quickly
    (4-8 s per query, uncached). For hot paths prefer
    :func:`with_hex_cell`, which computes identical values through
    staged projections with a linear-size tree."""
    return hex_cell_from_xy(
        K.latlng_to_merc_x(_c(lng)), K.latlng_to_merc_y(_c(lat)), res
    )


def with_hex_cell(df, lat, lng, res: int, out: str = "hex"):
    """Staged hex encode: adds ``out`` = hex cell id of (lat, lng) at
    ``res`` with the SAME arithmetic as :func:`hex_cell`, but each
    shared subexpression (merc x/y, rotated coords, fractional and
    rounded cube coords) is materialized as a real column in its own
    projection. CollapseProject leaves expensive multiply-referenced
    aliases un-inlined, so the expression tree stays LINEAR in size
    instead of duplicating the mercator subtree ~50x — codegen source
    drops from ~1 MB to a few KB and Janino compile from seconds to
    milliseconds. Values are bit-identical (same ops, same order);
    the whole chain still fuses into one codegen stage."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be 0..{MAX_RES}")
    c, s, size = _COS[res], _SIN[res], _SIZE[res]
    t = f"_hx{res}_"
    df = df.withColumns({
        t + "x": K.latlng_to_merc_x(_c(lng)),
        t + "y": K.latlng_to_merc_y(_c(lat)),
    })
    x, y = F.col(t + "x"), F.col(t + "y")
    df = df.withColumns({
        t + "xr": x * F.lit(c) + y * F.lit(s),
        t + "yr": y * F.lit(c) - x * F.lit(s),
    })
    xr, yr = F.col(t + "xr"), F.col(t + "yr")
    df = df.withColumns({
        t + "qf": (F.lit(SQRT3 / 3.0) * xr - yr / F.lit(3.0)) / F.lit(size),
        t + "rf": (F.lit(2.0 / 3.0) * yr) / F.lit(size),
    })
    qf, rf = F.col(t + "qf"), F.col(t + "rf")
    df = df.withColumns({t + "sf": -qf - rf})
    sf = F.col(t + "sf")
    df = df.withColumns({
        t + "rq": F.floor(qf + F.lit(0.5)),
        t + "rr": F.floor(rf + F.lit(0.5)),
        t + "rs": F.floor(sf + F.lit(0.5)),
    })
    rq, rr, rs = F.col(t + "rq"), F.col(t + "rr"), F.col(t + "rs")
    df = df.withColumns({
        t + "dq": F.abs(rq.cast("double") - qf),
        t + "dr": F.abs(rr.cast("double") - rf),
        t + "ds": F.abs(rs.cast("double") - sf),
    })
    dq, dr, ds = F.col(t + "dq"), F.col(t + "dr"), F.col(t + "ds")
    df = df.withColumns({t + "fixq": (dq > dr) & (dq > ds)})
    fix_q = F.col(t + "fixq")
    q = F.when(fix_q, -rr - rs).otherwise(rq)
    r = F.when(~fix_q & (dr > ds), -rq - rs).otherwise(rr)
    pack = (
        F.lit(res).cast("long") * F.lit(1 << 58)
        + (q + F.lit(OFF)) * F.lit(1 << 29)
        + (r + F.lit(OFF))
    ).cast("long")
    # coalesce to a sentinel so `out` is NON-NULLABLE: otherwise a
    # downstream equi-join infers IsNotNull(out) and predicate
    # pushdown substitutes the alias chain all the way down, re-
    # inlining the whole encode into one Filter condition (the exact
    # blow-up the staging avoids). Null coordinates (only possible
    # from null inputs) map to cell -1, which no real cell id equals.
    df = df.withColumn(out, F.coalesce(pack, F.lit(-1)))
    return df.drop(*[col for col in df.columns if col.startswith(t)])


# ---------------------------------------------------------------------------
# decode + hierarchy
# ---------------------------------------------------------------------------
def hex_res(cell) -> Column:
    return F.shiftright(_c(cell), 58).cast("int")


def hex_q(cell) -> Column:
    return (F.shiftright(_c(cell), 29).bitwiseAND(F.lit(MASK29))
            - F.lit(OFF)).cast("long")


def hex_r(cell) -> Column:
    return (_c(cell).bitwiseAND(F.lit(MASK29)) - F.lit(OFF)).cast("long")


def hex_parent(cell) -> Column:
    """Aperture-7 parent: the res-1 cell containing this cell's
    center. Like H3's hierarchy this is approximate containment — a
    child's AREA may straddle two parents, its center never does.

    Computed ALGEBRAICALLY, not by re-encoding the center: the
    child->parent axial transform is the inverse sublattice basis
    B = [[3,1],[-1,2]] (parent e1 = 3*e1c - e2c, dets to 7), so
    ``parent_frac = ((2q - r)/7, (q + 3r)/7)`` cube-rounded — a tiny
    trig-free expression, verified equal to the geometric
    encode(center, res-1) on 200k random points at every res.
    (Composing encode(center(cell)) as one Column expression
    duplicates the cube-round conditionals combinatorially and can
    OOM Catalyst — don't.) Ties are impossible: k/7 + 1/2 is never an
    integer, so floor(x+0.5) is unambiguous."""
    q, r = hex_q(cell).cast("double"), hex_r(cell).cast("double")
    qf = (F.lit(2.0) * q - r) / F.lit(7.0)
    rf = (q + F.lit(3.0) * r) / F.lit(7.0)
    sf = -qf - rf
    rq = F.floor(qf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    rs = F.floor(sf + F.lit(0.5))
    dq = F.abs(rq.cast("double") - qf)
    dr = F.abs(rr.cast("double") - rf)
    ds = F.abs(rs.cast("double") - sf)
    fix_q = (dq > dr) & (dq > ds)
    pq = F.when(fix_q, -rr - rs).otherwise(rq)
    pr = F.when(~fix_q & (dr > ds), -rq - rs).otherwise(rr)
    return (
        (hex_res(cell).cast("long") - F.lit(1)) * F.lit(1 << 58)
        + (pq + F.lit(OFF)) * F.lit(1 << 29)
        + (pr + F.lit(OFF))
    ).cast("long")


# ---------------------------------------------------------------------------
# k-ring neighborhoods (exact axial arithmetic)
# ---------------------------------------------------------------------------
def kring_offsets(k: int) -> list[tuple[int, int]]:
    """All (dq, dr) with hex distance <= k: 3k^2+3k+1 offsets."""
    return [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]


def hex_shift(cell, dq: int, dr: int) -> Column:
    """Neighbor id at axial offset (dq, dr) — integer field math on
    the packed id (same res)."""
    return (_c(cell) + F.lit(dq * (1 << 29) + dr)).cast("long")


# ---------------------------------------------------------------------------
# DuckDB SQL twins — literal-identical constants, same rounding
# ---------------------------------------------------------------------------
def _merc_x_sql(lng: str) -> str:
    return f"({K.MERC_EARTH_RADIUS!r} * radians({lng}))"


def _merc_y_sql(lat: str) -> str:
    cl = (f"greatest(-{K.MERC_MAX_LATITUDE!r}, "
          f"least({K.MERC_MAX_LATITUDE!r}, {lat}))")
    s = f"sin(radians({cl}))"
    return f"({K.MERC_EARTH_RADIUS!r} * ln((1.0 + {s}) / (1.0 - {s})) / 2.0)"


def hex_cell_sql(lat: str, lng: str, res: int) -> str:
    """The full closed-form encode as one DuckDB expression."""
    c, s, size = _COS[res], _SIN[res], _SIZE[res]
    x, y = _merc_x_sql(lng), _merc_y_sql(lat)
    xr = f"({x} * {c!r} + {y} * {s!r})"
    yr = f"({y} * {c!r} - {x} * {s!r})"
    qf = f"(({SQRT3 / 3.0!r} * {xr} - {yr} / 3.0) / {size!r})"
    rf = f"((2.0 / 3.0) * {yr} / {size!r})"
    sf = f"(- {qf} - {rf})"
    rq = f"CAST(floor({qf} + 0.5) AS BIGINT)"
    rr = f"CAST(floor({rf} + 0.5) AS BIGINT)"
    rs = f"CAST(floor({sf} + 0.5) AS BIGINT)"
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    ds = f"abs({rs} - {sf})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    q = f"(CASE WHEN {fix_q} THEN - {rr} - {rs} ELSE {rq} END)"
    r = (f"(CASE WHEN NOT {fix_q} AND {dr} > {ds} "
         f"THEN - {rq} - {rs} ELSE {rr} END)")
    return (f"(CAST({res} AS BIGINT) * {1 << 58} "
            f"+ ({q} + {OFF}) * {1 << 29} + ({r} + {OFF}))")


def hex_parent_sql(cell: str) -> str:
    """Algebraic aperture-7 parent twin (see :func:`hex_parent`)."""
    q = f"CAST((({cell} // {1 << 29}) % {1 << 29} - {OFF}) AS DOUBLE)"
    r = f"CAST(({cell} % {1 << 29} - {OFF}) AS DOUBLE)"
    qf = f"((2.0 * {q} - {r}) / 7.0)"
    rf = f"(({q} + 3.0 * {r}) / 7.0)"
    sf = f"(- {qf} - {rf})"
    rq = f"CAST(floor({qf} + 0.5) AS BIGINT)"
    rr = f"CAST(floor({rf} + 0.5) AS BIGINT)"
    rs = f"CAST(floor({sf} + 0.5) AS BIGINT)"
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    ds = f"abs({rs} - {sf})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    pq = f"(CASE WHEN {fix_q} THEN - {rr} - {rs} ELSE {rq} END)"
    pr = (f"(CASE WHEN NOT {fix_q} AND {dr} > {ds} "
          f"THEN - {rq} - {rs} ELSE {rr} END)")
    return (f"((({cell} // {1 << 58}) - 1) * {1 << 58} "
            f"+ ({pq} + {OFF}) * {1 << 29} + ({pr} + {OFF}))")


# ---------------------------------------------------------------------------
# numpy twins (goldens for tests; Arrow-batch building block)
# ---------------------------------------------------------------------------
def _cube_round_np(qf, rf):
    import numpy as np

    sf = -qf - rf
    rq, rr, rs = np.floor(qf + 0.5), np.floor(rf + 0.5), np.floor(sf + 0.5)
    dq, dr, ds = np.abs(rq - qf), np.abs(rr - rf), np.abs(rs - sf)
    fix = (dq > dr) & (dq > ds)
    q = np.where(fix, -rr - rs, rq)
    r = np.where(~fix & (dr > ds), -rq - rs, rr)
    return q.astype("int64"), r.astype("int64")


def hex_cell_np(lat, lng, res: int):
    import numpy as np

    lat = np.clip(np.asarray(lat, "float64"),
                  -K.MERC_MAX_LATITUDE, K.MERC_MAX_LATITUDE)
    x = K.MERC_EARTH_RADIUS * np.radians(np.asarray(lng, "float64"))
    s_ = np.sin(np.radians(lat))
    y = K.MERC_EARTH_RADIUS * np.log((1.0 + s_) / (1.0 - s_)) / 2.0
    c, s, size = _COS[res], _SIN[res], _SIZE[res]
    xr = x * c + y * s
    yr = y * c - x * s
    q, r = _cube_round_np((SQRT3 / 3.0 * xr - yr / 3.0) / size,
                          (2.0 / 3.0) * yr / size)
    return (res << 58) + (q + OFF) * (1 << 29) + (r + OFF)


def hex_center_xy_np(cell, res: int):
    import numpy as np

    cell = np.asarray(cell, "int64")
    q = ((cell >> 29) & MASK29) - OFF
    r = (cell & MASK29) - OFF
    c, s, size = _COS[res], _SIN[res], _SIZE[res]
    xl = size * (SQRT3 * q + SQRT3 / 2.0 * r)
    yl = size * 1.5 * r
    return xl * c - yl * s, xl * s + yl * c


def hex_parent_np(cell):
    import numpy as np

    cell = np.asarray(cell, "int64")
    q = (((cell >> 29) & MASK29) - OFF).astype("float64")
    r = ((cell & MASK29) - OFF).astype("float64")
    pq, pr = _cube_round_np((2.0 * q - r) / 7.0, (q + 3.0 * r) / 7.0)
    return ((cell >> 58) - 1 << 58) + (pq + OFF) * (1 << 29) + (pr + OFF)
