"""Scalar geometry + projection kernels as pure Column expressions.

Every kernel here compiles to JVM-side Catalyst expressions inside
whole-stage codegen — no Python in the hot path. Semantics (formulas,
constants, rounding/truncation quirks) follow the reference library
motis-project/geo; each function cites the reference implementation it
re-expresses. Column inputs are WGS84 degrees as DoubleType unless
stated otherwise.

Reference files cited below live under /root/reference/.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- constants (include/geo/constants.h:5-9, webmercator.h:154-156) ---
PI = 3.14159265358979323846
EARTH_RADIUS_M = 6371000.0
EPSILON = 1e-9
# meters per degree of latitude (constants.h:8-9)
APPROX_DISTANCE_LAT_DEGREES = EARTH_RADIUS_M * PI / 180.0

MERC_EARTH_RADIUS = 6378137.0  # webmercator.h:154
MERC_ORIGIN_SHIFT = PI * MERC_EARTH_RADIUS  # webmercator.h:155
MERC_MAX_LATITUDE = 85.0511287798  # webmercator.h:156

MAX_SIMPLIFY_ZOOM = 20  # simplify_mask.h:19


def _c(x) -> Column:
    """Coerce python literals to Columns."""
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------------------
# S1 distance — great-circle haversine × R  (src/latlng.cc:29-31;
# boost spherical_equatorial haversine strategy)
# ---------------------------------------------------------------------------
def distance(lat1, lng1, lat2, lng2) -> Column:
    lat1, lng1, lat2, lng2 = map(_c, (lat1, lng1, lat2, lng2))
    dlat = F.radians(lat2 - lat1) / 2.0
    dlng = F.radians(lng2 - lng1) / 2.0
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlng) * F.sin(dlng)
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


# ---------------------------------------------------------------------------
# S2 approx_squared_distance — equirectangular squared meters with ±180°
# wraparound (src/latlng.cc:33-40)
# ---------------------------------------------------------------------------
def approx_squared_distance(lat1, lng1, lat2, lng2, approx_m_per_deg_lng) -> Column:
    lat1, lng1, lat2, lng2 = map(_c, (lat1, lng1, lat2, lng2))
    scale = _c(approx_m_per_deg_lng)
    y = F.abs(lat1 - lat2) * F.lit(APPROX_DISTANCE_LAT_DEGREES)
    xdiff = F.abs(lng1 - lng2)
    x = F.when(xdiff > 180.0, 360.0 - xdiff).otherwise(xdiff) * scale
    return x * x + y * y


# S3 lower_bound_distance_lng_degrees (src/latlng.cc:14-17)
def lower_bound_distance_lng_degrees(lat) -> Column:
    lat = _c(lat)
    clamped = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), F.lit(1.0) - F.abs(lat) / 90.0)
    )
    return clamped * F.lit(APPROX_DISTANCE_LAT_DEGREES)


# S4 approx_distance_lng_degrees — exact meters per deg-lng at a latitude
# (src/latlng.cc:19-23): distance to the point 1 degree of lng away
# (towards 0).
def approx_distance_lng_degrees(lat, lng) -> Column:
    lat, lng = _c(lat), _c(lng)
    lng2 = F.when(lng < 0.0, lng + 1.0).otherwise(lng - 1.0)
    return distance(lat, lng, lat, lng2)


# S5 bearing — initial bearing CW from north, degrees [0, 360)
# (src/latlng.cc:44-54). NOTE the reference computes atan2 then
# fmod(b + 2π, 2π): replicate fmod (not pmod) semantics — arg is
# always positive here so they agree.
def bearing(lat1, lng1, lat2, lng2) -> Column:
    lat1, lng1, lat2, lng2 = map(_c, (lat1, lng1, lat2, lng2))
    dlng = F.radians(lng2) - F.radians(lng1)
    cos_lat2 = F.cos(F.radians(lat2))
    b = F.atan2(
        F.sin(dlng) * cos_lat2,
        F.cos(F.radians(lat1)) * F.sin(F.radians(lat2))
        - F.sin(F.radians(lat1)) * cos_lat2 * F.cos(dlng),
    )
    two_pi = F.lit(2.0 * PI)
    return F.degrees((b + two_pi) % two_pi)


# S6 midpoint — great-circle midpoint (src/latlng.cc:57-73).
# QUIRK preserved: the reference returns lat/lng in RADIANS (it never
# converts back with to_deg; untested upstream). We expose both.
def midpoint_radians(lat1, lng1, lat2, lng2) -> tuple[Column, Column]:
    lat1, lng1, lat2, lng2 = map(_c, (lat1, lng1, lat2, lng2))
    d_lng = F.radians(lng2 - lng1)
    a_lat, b_lat = F.radians(lat1), F.radians(lat2)
    a_lng = F.radians(lng1)
    b_x = F.cos(b_lat) * F.cos(d_lng)
    b_y = F.cos(b_lat) * F.sin(d_lng)
    lat = F.atan2(
        F.sin(a_lat) + F.sin(b_lat),
        F.sqrt((F.cos(a_lat) + b_x) * (F.cos(a_lat) + b_x) + b_y * b_y),
    )
    lng = a_lng + F.atan2(b_y, F.cos(a_lat) + b_x)
    return lat, lng


def midpoint(lat1, lng1, lat2, lng2) -> tuple[Column, Column]:
    """Midpoint in degrees (the formula's intended output)."""
    lat, lng = midpoint_radians(lat1, lng1, lat2, lng2)
    return F.degrees(lat), F.degrees(lng)


# S7 destination_point — point at (distance m, bearing deg) from source
# (src/latlng.cc:197-221)
def destination_point(lat, lng, dist_m, bearing_deg) -> tuple[Column, Column]:
    lat, lng, dist_m, bearing_deg = map(_c, (lat, lng, dist_m, bearing_deg))
    lat_r = F.radians(lat)
    b_r = F.radians(bearing_deg)
    sin_lat, cos_lat = F.sin(lat_r), F.cos(lat_r)
    ang = dist_m / EARTH_RADIUS_M
    sin_ang, cos_ang = F.sin(ang), F.cos(ang)
    lat_dest = F.asin(sin_lat * cos_ang + cos_lat * sin_ang * F.cos(b_r))
    lng_dest = F.radians(lng) + F.atan2(
        F.sin(b_r) * sin_ang * cos_lat, cos_ang - sin_lat * F.sin(lat_dest)
    )
    return F.degrees(lat_dest), F.degrees(lng_dest)


# ---------------------------------------------------------------------------
# S12 xyz — unit-half-sphere chord coords (include/geo/xyz.h:17-36):
# chord distance 2R·asin(‖a−b‖) ≡ haversine.
# ---------------------------------------------------------------------------
def xyz(lat, lng) -> tuple[Column, Column, Column]:
    lat, lng = _c(lat), _c(lng)
    lat_r, lng_r = F.radians(lat), F.radians(lng)
    return (
        0.5 * F.cos(lat_r) * F.sin(lng_r),
        0.5 * F.cos(lat_r) * F.cos(lng_r),
        0.5 * F.sin(lat_r),
    )


def haversine_distance_xyz(x1, y1, z1, x2, y2, z2) -> Column:
    x1, y1, z1, x2, y2, z2 = map(_c, (x1, y1, z1, x2, y2, z2))
    dx, dy, dz = x1 - x2, y1 - y2, z1 - z2
    r = F.sqrt(dx * dx + dy * dy + dz * dz)
    return 2.0 * EARTH_RADIUS_M * F.asin(r)


# S14 fixed-point codec ×1e7 (include/geo/fixed_latlng.h:13-18)
def double_to_fix(coord) -> Column:
    return F.round(_c(coord) * F.lit(1e7)).cast("int")


def fix_to_double(fixed) -> Column:
    return _c(fixed).cast("double") / F.lit(1e7)


# ---------------------------------------------------------------------------
# P1/P2 WGS84 <-> web mercator (webmercator.h:158-172)
# ---------------------------------------------------------------------------
def latlng_to_merc_x(lng) -> Column:
    return F.lit(MERC_EARTH_RADIUS) * F.radians(_c(lng))


def latlng_to_merc_y(lat) -> Column:
    lat = F.greatest(
        F.lit(-MERC_MAX_LATITUDE), F.least(F.lit(MERC_MAX_LATITUDE), _c(lat))
    )
    s = F.sin(F.radians(lat))
    return F.lit(MERC_EARTH_RADIUS) * F.log((1.0 + s) / (1.0 - s)) / 2.0


def merc_to_lat(y) -> Column:
    d = 180.0 / PI
    return (2.0 * F.atan(F.exp(_c(y) / MERC_EARTH_RADIUS)) - F.lit(PI / 2)) * d


def merc_to_lng(x) -> Column:
    return _c(x) * (180.0 / PI) / MERC_EARTH_RADIUS


# ---------------------------------------------------------------------------
# P5/P6 resolution + map size (webmercator.h:236-258).
# resolution(z) = (2πR'/TileSize) / 2^z — python float math matches the
# constexpr LUT bit-for-bit (division by exact powers of two).
# ---------------------------------------------------------------------------
def resolution(z: int, tile_size: int = 4096) -> float:
    return (2.0 * PI * MERC_EARTH_RADIUS / tile_size) / (1 << z)


def map_size(z: int, tile_size: int = 4096) -> int:
    return tile_size << z


# ---------------------------------------------------------------------------
# P3 merc -> pixel (webmercator.h:207-219).
# QUIRK preserved: x TRUNCATES (static_cast) while y ROUNDS
# (std::round) then truncates. x+shift >= 0 so floor == trunc; y uses
# floor(v + 0.5) == round-half-away-from-zero for v > -0.5.
# ---------------------------------------------------------------------------
def merc_to_pixel_x(x, z: int, tile_size: int = 4096) -> Column:
    # TRUNC toward zero (double->long cast), not floor: the reference
    # casts the quotient (webmercator.h merc_to_pixel_x — P3's
    # "x truncates / y rounds" asymmetry), and the numpy twin uses
    # np.trunc. Identical for every in-range lng (quotient >= 0);
    # differs exactly for lng < -180 (negative pixel x), where
    # floor(-eps) = -1 broke the probe/cover key parity of the
    # map-match join at the antimeridian.
    return ((_c(x) + F.lit(MERC_ORIGIN_SHIFT))
            / F.lit(resolution(z, tile_size))).cast("long")


def merc_to_pixel_y(y, z: int, tile_size: int = 4096) -> Column:
    v = F.lit(float(map_size(z, tile_size))) - (
        (_c(y) + F.lit(MERC_ORIGIN_SHIFT)) / F.lit(resolution(z, tile_size))
    )
    return F.floor(v + F.lit(0.5))


# P4 pixel -> merc (webmercator.h:221-234)
def pixel_to_merc_x(px, z: int, tile_size: int = 4096) -> Column:
    return _c(px).cast("double") * F.lit(resolution(z, tile_size)) - F.lit(
        MERC_ORIGIN_SHIFT
    )


def pixel_to_merc_y(py, z: int, tile_size: int = 4096) -> Column:
    return (F.lit(float(map_size(z, tile_size))) - _c(py).cast("double")) * F.lit(
        resolution(z, tile_size)
    ) - F.lit(MERC_ORIGIN_SHIFT)


# latlng -> tile x/y at zoom z (tile.h:162-172: pixel / TileSize)
def latlng_to_tile_x(lng, z: int, tile_size: int = 4096) -> Column:
    return F.floor(
        merc_to_pixel_x(latlng_to_merc_x(lng), z, tile_size) / F.lit(tile_size)
    ).cast("long")


def latlng_to_tile_y(lat, z: int, tile_size: int = 4096) -> Column:
    return F.floor(
        merc_to_pixel_y(latlng_to_merc_y(lat), z, tile_size) / F.lit(tile_size)
    ).cast("long")


# ---------------------------------------------------------------------------
# P7 tile_bounds_merc (webmercator.h:184-198): merc AABB of tile
# (x, y, z); google y is flipped so y_reverse = 2^z - 1 - y.
# ---------------------------------------------------------------------------
def tile_bounds_merc(
    tx, ty, z: int, tile_size: int = 4096
) -> tuple[Column, Column, Column, Column]:
    tx, ty = _c(tx).cast("long"), _c(ty).cast("long")
    res = F.lit(resolution(z, tile_size))
    shift = F.lit(MERC_ORIGIN_SHIFT)
    y_rev = F.lit(float((1 << z) - 1)) - ty.cast("double")

    def p2m(p):
        return res * p - shift

    ts = float(tile_size)
    return (
        p2m(tx.cast("double") * ts),
        p2m(y_rev * ts),
        p2m((tx.cast("double") + 1.0) * ts),
        p2m((y_rev + 1.0) * ts),
    )


# P8 tile_bounds_pixel (webmercator.h:200-205)
def tile_bounds_pixel(tx, ty, tile_size: int = 4096):
    tx, ty = _c(tx).cast("long"), _c(ty).cast("long")
    ts = F.lit(tile_size).cast("long")
    return tx * ts, ty * ts, (tx + 1) * ts, (ty + 1) * ts


# P9 tile parent (tile.h:24) — for rollups use shiftright by delta_z
def tile_parent_x(tx, delta_z: int = 1) -> Column:
    return F.shiftright(_c(tx).cast("long"), delta_z)


def tile_parent_y(ty, delta_z: int = 1) -> Column:
    return F.shiftright(_c(ty).cast("long"), delta_z)


# P10 quad_pos (tile.h:27)
def quad_pos(tx, ty) -> Column:
    return (
        F.shiftleft(_c(ty).cast("long") % 2, 1).bitwiseOR(_c(tx).cast("long") % 2)
    ).cast("int")


# ---------------------------------------------------------------------------
# S10 tile_hash_32 — the spatial cell key (src/latlng.cc:75-96):
# project to a z=16 tile with webmercator<1> (TileSize=1, so pixel ==
# tile coords) and interleave the 16 quad positions into a uint32 with
# the FINEST zoom in the LOW bits: hash bit 2i = x bit i, bit 2i+1 =
# y bit i. Implemented as a branch-free Morton spread — pure bit ops,
# identical in Spark and ANSI SQL.
# ---------------------------------------------------------------------------
def _morton_spread_16(v: Column) -> Column:
    """Spread the low 16 bits of v so bit i lands at bit 2i."""
    v = v.bitwiseAND(F.lit(0xFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x33333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x55555555))
    return v


def tile_hash_32(lat, lng) -> Column:
    """Quadkey cell id (z=16 Morton code) as a non-negative long."""
    px = merc_to_pixel_x(latlng_to_merc_x(lng), 16, tile_size=1)
    py = merc_to_pixel_y(latlng_to_merc_y(lat), 16, tile_size=1)
    return _morton_spread_16(px).bitwiseOR(F.shiftleft(_morton_spread_16(py), 1))


def cell_at_zoom(lat, lng, z: int) -> Column:
    """Morton cell at an arbitrary zoom z <= 16 (parent prefix of S10:
    tile.parent() chains == dropping the two low bits per level)."""
    return F.shiftright(tile_hash_32(lat, lng), 2 * (16 - z))


# ---------------------------------------------------------------------------
# Q7/Q8 box predicates (include/geo/box.h:72-88).
# contains(point) uses STRICT inequalities; contains(box)/overlaps are
# non-strict — replicated exactly.
# ---------------------------------------------------------------------------
def box_contains_point(min_lat, min_lng, max_lat, max_lng, lat, lng) -> Column:
    min_lat, min_lng, max_lat, max_lng, lat, lng = map(
        _c, (min_lat, min_lng, max_lat, max_lng, lat, lng)
    )
    return (lat > min_lat) & (lat < max_lat) & (lng > min_lng) & (lng < max_lng)


def box_contains_box(
    a_min_lat, a_min_lng, a_max_lat, a_max_lng, b_min_lat, b_min_lng, b_max_lat, b_max_lng
) -> Column:
    cols = map(
        _c,
        (a_min_lat, a_min_lng, a_max_lat, a_max_lng, b_min_lat, b_min_lng, b_max_lat, b_max_lng),
    )
    a_min_lat, a_min_lng, a_max_lat, a_max_lng, b_min_lat, b_min_lng, b_max_lat, b_max_lng = cols
    return (
        (b_min_lat >= a_min_lat)
        & (b_max_lat <= a_max_lat)
        & (b_min_lng >= a_min_lng)
        & (b_max_lng <= a_max_lng)
    )


def box_overlaps_box(
    a_min_lat, a_min_lng, a_max_lat, a_max_lng, b_min_lat, b_min_lng, b_max_lat, b_max_lng
) -> Column:
    cols = map(
        _c,
        (a_min_lat, a_min_lng, a_max_lat, a_max_lng, b_min_lat, b_min_lng, b_max_lat, b_max_lng),
    )
    a_min_lat, a_min_lng, a_max_lat, a_max_lng, b_min_lat, b_min_lng, b_max_lat, b_max_lng = cols
    return (
        (a_min_lat <= b_max_lat)
        & (a_max_lat >= b_min_lat)
        & (a_min_lng <= b_max_lng)
        & (a_max_lng >= b_min_lng)
    )


# Q9 box::extend(dist_in_m) — buffer a box by meters (box.h:50-70);
# constants 111000 / 111200 replicated exactly.
def box_extend_by_meters(
    min_lat, min_lng, max_lat, max_lng, dist_m
) -> tuple[Column, Column, Column, Column]:
    min_lat, min_lng, max_lat, max_lng, dist_m = map(
        _c, (min_lat, min_lng, max_lat, max_lng, dist_m)
    )
    d_lat = dist_m / 111000.0
    new_min_lat = min_lat - d_lat
    new_max_lat = max_lat + d_lat
    min_m_per_deg = 111200.0 * F.cos(new_min_lat * F.lit(PI / 180.0))
    max_m_per_deg = 111200.0 * F.cos(new_max_lat * F.lit(PI / 180.0))
    new_min_lng = min_lng - F.abs(dist_m / min_m_per_deg)
    new_max_lng = max_lng + F.abs(dist_m / max_m_per_deg)
    return new_min_lat, new_min_lng, new_max_lat, new_max_lng


# box::extend(latlng) (box.h:42-48) — accumulate one point into a box.
def box_extend_point(
    min_lat, min_lng, max_lat, max_lng, lat, lng
) -> tuple[Column, Column, Column, Column]:
    min_lat, min_lng, max_lat, max_lng, lat, lng = map(
        _c, (min_lat, min_lng, max_lat, max_lng, lat, lng)
    )
    return (
        F.least(min_lat, lat), F.least(min_lng, lng),
        F.greatest(max_lat, lat), F.greatest(max_lng, lng),
    )


# box::extend(box) (box.h:37-40) — union of two boxes.
def box_extend_box(
    a_min_lat, a_min_lng, a_max_lat, a_max_lng,
    b_min_lat, b_min_lng, b_max_lat, b_max_lng,
) -> tuple[Column, Column, Column, Column]:
    cols = map(_c, (a_min_lat, a_min_lng, a_max_lat, a_max_lng,
                    b_min_lat, b_min_lng, b_max_lat, b_max_lng))
    a_min_lat, a_min_lng, a_max_lat, a_max_lng, \
        b_min_lat, b_min_lng, b_max_lat, b_max_lng = cols
    return (
        F.least(a_min_lat, b_min_lat), F.least(a_min_lng, b_min_lng),
        F.greatest(a_max_lat, b_max_lat), F.greatest(a_max_lng, b_max_lng),
    )


# box::empty (box.h:91): an all-infinity default box is empty.
def box_empty(min_lat, min_lng, max_lat, max_lng) -> Column:
    min_lat, min_lng, max_lat, max_lng = map(
        _c, (min_lat, min_lng, max_lat, max_lng)
    )
    return (max_lat < min_lat) | (max_lng < min_lng)


# box::centroid (box.h:93-97): {0, 0} for empty boxes.
def box_centroid(min_lat, min_lng, max_lat, max_lng) -> tuple[Column, Column]:
    min_lat, min_lng, max_lat, max_lng = map(
        _c, (min_lat, min_lng, max_lat, max_lng)
    )
    e = box_empty(min_lat, min_lng, max_lat, max_lng)
    return (
        F.when(e, F.lit(0.0)).otherwise((min_lat + max_lat) / 2.0),
        F.when(e, F.lit(0.0)).otherwise((min_lng + max_lng) / 2.0),
    )


# box(polyline) / make_box({coords}) (box.h:26,31-35,107-113) — the
# bbox of an array<struct<lat,lng>> column as pure array exprs.
def box_of_line(line: str) -> tuple[Column, Column, Column, Column]:
    return (
        F.expr(f"array_min(transform({line}, p -> p.lat))"),
        F.expr(f"array_min(transform({line}, p -> p.lng))"),
        F.expr(f"array_max(transform({line}, p -> p.lat))"),
        F.expr(f"array_max(transform({line}, p -> p.lng))"),
    )


# ---------------------------------------------------------------------------
# S8 closest_on_segment — exact closest point on a segment
# (src/latlng.cc:111-146): project to mercator, angle tests at both
# endpoints, then law of sines. Pure Column when-chain; the angle
# clamp returns 0 / 180 *degrees* sentinel values compared against
# to_rad(90) exactly as the reference does.
# ---------------------------------------------------------------------------
def closest_on_segment(
    x_lat, x_lng, f_lat, f_lng, t_lat, t_lng
) -> tuple[Column, Column]:
    x_lat, x_lng, f_lat, f_lng, t_lat, t_lng = map(
        _c, (x_lat, x_lng, f_lat, f_lng, t_lat, t_lng)
    )
    mx_x, mx_y = latlng_to_merc_x(x_lng), latlng_to_merc_y(x_lat)
    mf_x, mf_y = latlng_to_merc_x(f_lng), latlng_to_merc_y(f_lat)
    mt_x, mt_y = latlng_to_merc_x(t_lng), latlng_to_merc_y(t_lat)

    eps = F.lit(EPSILON)

    def merc_eq(ax, ay, bx, by):
        return (F.abs(ax - bx) < eps) & (F.abs(ay - by) < eps)

    seg_x, seg_y = mt_x - mf_x, mt_y - mf_y
    seg_len = F.sqrt(seg_x * seg_x + seg_y * seg_y)

    sv_x, sv_y = mx_x - mf_x, mx_y - mf_y  # start_vec
    ev_x, ev_y = mt_x - mx_x, mt_y - mx_y  # end_vec

    def angle(vx, vy):
        v_len = F.sqrt(vx * vx + vy * vy)
        rel = (seg_x * vx + seg_y * vy) / (seg_len * v_len)
        return (
            F.when(rel >= 1.0 - EPSILON, F.lit(0.0))
            .when(rel <= -1.0 + EPSILON, F.lit(180.0))
            .otherwise(F.acos(rel))
        )

    half_pi = F.lit(PI / 2.0)
    start_angle = angle(sv_x, sv_y)
    end_angle = angle(ev_x, ev_y)

    beta = half_pi - start_angle
    seg_offset = F.sqrt(sv_x * sv_x + sv_y * sv_y) * F.sin(beta)
    proj_x = mf_x + seg_offset * (seg_x / seg_len)
    proj_y = mf_y + seg_offset * (seg_y / seg_len)

    is_x = merc_eq(mx_x, mx_y, mf_x, mf_y) | merc_eq(mx_x, mx_y, mt_x, mt_y)
    degenerate = seg_len < eps

    out_lat = (
        F.when(is_x, x_lat)
        .when(degenerate, f_lat)
        .when(start_angle >= half_pi, f_lat)
        .when(end_angle >= half_pi, t_lat)
        .otherwise(merc_to_lat(proj_y))
    )
    out_lng = (
        F.when(is_x, x_lng)
        .when(degenerate, f_lng)
        .when(start_angle >= half_pi, f_lng)
        .when(end_angle >= half_pi, t_lng)
        .otherwise(merc_to_lng(proj_x))
    )
    return out_lat, out_lng


def with_closest_on_segment(df, x_lat, x_lng, f_lat, f_lng, t_lat, t_lng,
                            out_lat: str = "closest_lat",
                            out_lng: str = "closest_lng"):
    """Staged twin of :func:`closest_on_segment`: identical arithmetic
    (same ops, same order — the golden fixtures hold bit-for-bit),
    but shared subexpressions (mercator coords, segment vectors,
    lengths, angles) become real columns in successive projections.
    The one-Column composition duplicates the mercator subtree at
    every reference (~40 copies -> a ~58 KB Project and seconds of
    codegen compile); the staged tree is linear-size and stays inside
    one whole-stage-codegen span. See hexgrid.with_hex_cell for the
    same pattern + the CollapseProject rationale."""
    def _col(v):
        return F.col(v) if isinstance(v, str) else v

    x_lat, x_lng, f_lat, f_lng, t_lat, t_lng = map(
        _col, (x_lat, x_lng, f_lat, f_lng, t_lat, t_lng)
    )
    t = "_cos_"
    eps = F.lit(EPSILON)
    df = df.withColumns({
        t + "mxx": latlng_to_merc_x(x_lng), t + "mxy": latlng_to_merc_y(x_lat),
        t + "mfx": latlng_to_merc_x(f_lng), t + "mfy": latlng_to_merc_y(f_lat),
        t + "mtx": latlng_to_merc_x(t_lng), t + "mty": latlng_to_merc_y(t_lat),
    })
    mxx, mxy = F.col(t + "mxx"), F.col(t + "mxy")
    mfx, mfy = F.col(t + "mfx"), F.col(t + "mfy")
    mtx, mty = F.col(t + "mtx"), F.col(t + "mty")
    df = df.withColumns({
        t + "segx": mtx - mfx, t + "segy": mty - mfy,
        t + "svx": mxx - mfx, t + "svy": mxy - mfy,
        t + "evx": mtx - mxx, t + "evy": mty - mxy,
    })
    segx, segy = F.col(t + "segx"), F.col(t + "segy")
    svx, svy = F.col(t + "svx"), F.col(t + "svy")
    evx, evy = F.col(t + "evx"), F.col(t + "evy")
    df = df.withColumns({t + "seglen": F.sqrt(segx * segx + segy * segy)})
    seg_len = F.col(t + "seglen")

    def angle(vx, vy):
        # try_divide: the staged column is evaluated EAGERLY (the
        # original one-Column form only reached this division inside
        # CASE branches that already excluded seg_len == 0 and
        # v_len == 0). A zero divisor implies is_x or degenerate
        # fires first, so the NULL never reaches the output.
        v_len = F.sqrt(vx * vx + vy * vy)
        rel = F.try_divide(segx * vx + segy * vy, seg_len * v_len)
        return (
            F.when(rel >= 1.0 - EPSILON, F.lit(0.0))
            .when(rel <= -1.0 + EPSILON, F.lit(180.0))
            .otherwise(F.acos(rel))
        )

    half_pi = F.lit(PI / 2.0)
    df = df.withColumns({
        t + "sa": angle(svx, svy),
        t + "ea": angle(evx, evy),
    })
    start_angle, end_angle = F.col(t + "sa"), F.col(t + "ea")
    beta = half_pi - start_angle
    df = df.withColumns({
        t + "off": F.sqrt(svx * svx + svy * svy) * F.sin(beta),
    })
    seg_offset = F.col(t + "off")
    df = df.withColumns({
        t + "px": mfx + seg_offset * F.try_divide(segx, seg_len),
        t + "py": mfy + seg_offset * F.try_divide(segy, seg_len),
        t + "isx": ((F.abs(mxx - mfx) < eps) & (F.abs(mxy - mfy) < eps))
        | ((F.abs(mxx - mtx) < eps) & (F.abs(mxy - mty) < eps)),
        t + "deg": seg_len < eps,
    })
    proj_x, proj_y = F.col(t + "px"), F.col(t + "py")
    is_x, degenerate = F.col(t + "isx"), F.col(t + "deg")
    df = df.withColumns({
        out_lat: (
            F.when(is_x, x_lat)
            .when(degenerate, f_lat)
            .when(start_angle >= half_pi, f_lat)
            .when(end_angle >= half_pi, t_lat)
            .otherwise(merc_to_lat(proj_y))
        ),
        out_lng: (
            F.when(is_x, x_lng)
            .when(degenerate, f_lng)
            .when(start_angle >= half_pi, f_lng)
            .when(end_angle >= half_pi, t_lng)
            .otherwise(merc_to_lng(proj_x))
        ),
    })
    return df.drop(*[col for col in df.columns if col.startswith(t)])


# ---------------------------------------------------------------------------
# S9 approx_closest_on_segment — equirectangular closest point +
# squared distance (src/latlng.cc:148-193). Pure rational arithmetic
# (no transcendentals), so results are bit-identical across engines.
# Returns (lat, lng, squared_approx_dist).
# ---------------------------------------------------------------------------
def approx_closest_on_segment(
    x_lat, x_lng, f_lat, f_lng, t_lat, t_lng, approx_m_per_deg_lng
) -> tuple[Column, Column, Column]:
    x_lat, x_lng, f_lat, f_lng, t_lat, t_lng = map(
        _c, (x_lat, x_lng, f_lat, f_lng, t_lat, t_lng)
    )
    scale = _c(approx_m_per_deg_lng)
    k_lat = F.lit(APPROX_DISTANCE_LAT_DEGREES)

    def to_xy(lat, lng):
        xdiff = lng - x_lng
        px = F.when(xdiff > 180.0, 360.0 - F.abs(xdiff)).otherwise(xdiff) * scale
        py = (lat - x_lat) * k_lat
        return px, py

    eps = F.lit(EPSILON)
    fx, fy = to_xy(f_lat, f_lng)
    tx, ty = to_xy(t_lat, t_lng)
    # proj_x(x) == (0, 0)

    def sqd(ax, ay, bx, by):
        return (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

    eq_from = (F.abs(fx) < eps) & (F.abs(fy) < eps)
    eq_to = (F.abs(tx) < eps) & (F.abs(ty) < eps)

    seg_x, seg_y = tx - fx, ty - fy
    sq_len = seg_x * seg_x + seg_y * seg_y
    dot_from = (0.0 - fx) * seg_x + (0.0 - fy) * seg_y
    dot_to = (0.0 - tx) * (fx - tx) + (0.0 - ty) * (fy - ty)

    pos_x = (fx * dot_to + tx * dot_from) / sq_len
    pos_y = (fy * dot_to + ty * dot_from) / sq_len
    xcoord = pos_x / scale + x_lng

    out_lat = (
        F.when(eq_from | eq_to, x_lat)
        .when(sq_len < eps, f_lat)
        .when(dot_from < 0.0, f_lat)
        .when(dot_to < 0.0, t_lat)
        .otherwise(pos_y / k_lat + x_lat)
    )
    out_lng = (
        F.when(eq_from | eq_to, x_lng)
        .when(sq_len < eps, f_lng)
        .when(dot_from < 0.0, f_lng)
        .when(dot_to < 0.0, t_lng)
        .otherwise(F.when(xcoord > 180.0, xcoord - 360.0).otherwise(xcoord))
    )
    out_sq = (
        F.when(eq_from, sqd(F.lit(0.0), F.lit(0.0), fx, fy))
        .when(eq_to, sqd(F.lit(0.0), F.lit(0.0), tx, ty))
        .when(sq_len < eps, sqd(F.lit(0.0), F.lit(0.0), fx, fy))
        .when(dot_from < 0.0, sqd(F.lit(0.0), F.lit(0.0), fx, fy))
        .when(dot_to < 0.0, sqd(F.lit(0.0), F.lit(0.0), tx, ty))
        .otherwise(pos_x * pos_x + pos_y * pos_y)
    )
    return out_lat, out_lng, out_sq
