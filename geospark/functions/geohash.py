"""Geohash base-32 cell index as pure Column expressions.

Fourth index family next to the quadkey Morton cell (kernels.tile_hash_32,
reference src/latlng.cc:75-96), the S2 Hilbert index (functions/s2cell.py)
and the aperture-7 hex grid (functions/hexgrid.py).  Geohash is the
classic public-domain web-text geocode (Niemeyer 2008): latitude and
longitude are alternately bisected (longitude takes the first/most-
significant bit) and the interleaved bit string is rendered in a base-32
alphabet.  The prefix property makes it a join/rollup key: the first
``k`` characters of a geohash are exactly the geohash of the containing
cell at precision ``k`` — so a per-prefix rollup is one ``substr`` plus
a groupBy, and a neighborhood join is an equi-join on the prefix.

Formulation note (scale/planner): the textbook encode is a 64-bit
Morton spread (5 shift/mask stages whose output feeds the next stage
twice).  That shape is hostile to Catalyst — nesting it inline doubles
the tree per stage (2^5 copies of the quantize subtree), and even
staged through real columns a chained encode→decode→re-encode pipeline
pushed plan compilation past minutes.  So the interleave here is FLAT:
quantize each axis to its 2^n grid once, then every output bit is an
independent ``((axis >> k) & 1) << pos`` term OR-ed together — a
depth-2 plan (one quantize projection + one flat projection), ~60 tiny
terms at the deepest precision, fully whole-stage-codegen'd.  Decode is
the same flat gather in reverse.  The plain-Python golden twin below
deliberately keeps the CLASSIC Morton-spread formulation so tests
cross-check two independent derivations.  No Python UDFs anywhere: a
100 TB encode is a narrow JVM map with no shuffle.

Validated against the canonical fixture geohash(57.64911, 10.40744)
= ``u4pruydqqvj`` (precision 11, the original announcement example)
and its prefixes.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _bit_split(chars: int) -> tuple[int, int, int]:
    """(total_bits, n_lng_bits, n_lat_bits) — longitude owns the most
    significant bit, so it gets the extra bit at odd precisions."""
    if not 1 <= chars <= 12:
        raise ValueError("geohash precision must be in [1, 12]")
    bits = 5 * chars
    return bits, (bits + 1) // 2, bits // 2


def _bit_layout(chars: int) -> list[tuple[str, int, int]]:
    """Interleave map: (axis, axis_shift, code_shift) per global bit,
    MSB first.  Global bit g is a longitude bit when g is even (lng
    leads), and maps axis bit ``n_axis-1-g//2`` to code bit
    ``bits-1-g``."""
    bits, n_lng, n_lat = _bit_split(chars)
    out = []
    for g in range(bits):
        if g % 2 == 0:
            out.append(("lng", n_lng - 1 - g // 2, bits - 1 - g))
        else:
            out.append(("lat", n_lat - 1 - g // 2, bits - 1 - g))
    return out


def _quantize(v: Column, lo: float, span: float, n: int) -> Column:
    """floor((v - lo) / span * 2^n), clamped into [0, 2^n) — the closed
    upper boundary (lat=90, lng=180) belongs to the last cell, exactly
    as the reference bisection assigns it."""
    q = F.floor((v - F.lit(lo)) / F.lit(span) * F.lit(float(1 << n)))
    return F.least(F.greatest(q, F.lit(0)), F.lit((1 << n) - 1)).cast("long")


def _interleave(ilng: Column, ilat: Column, chars: int) -> Column:
    """Flat Morton interleave: one shift/mask term per bit, OR-fold."""
    axes = {"lng": ilng, "lat": ilat}
    terms = [
        F.shiftleft(F.shiftright(axes[ax], src).bitwiseAND(F.lit(1)), dst)
        for ax, src, dst in _bit_layout(chars)
    ]
    return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)


def _deinterleave(code: Column, chars: int, axis: str) -> Column:
    """Flat gather of one axis back out of the interleaved code."""
    terms = [
        F.shiftleft(F.shiftright(code, dst).bitwiseAND(F.lit(1)), src)
        for ax, src, dst in _bit_layout(chars)
        if ax == axis
    ]
    return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)


def _chars_of(code: Column, chars: int) -> Column:
    parts = [
        F.substr(
            F.lit(B32),
            (F.shiftright(code, 5 * (chars - 1 - i)).bitwiseAND(F.lit(31))
             + F.lit(1)).cast("int"),
            F.lit(1),
        )
        for i in range(chars)
    ]
    return F.concat(*parts)


def geohash_int(lat: Column, lng: Column, chars: int = 6) -> Column:
    """The geohash as its raw ``5*chars``-bit integer code (long).
    Pure-Column form — fine standalone; inside long pipelines prefer
    the staged ``with_geohash_int`` (quantize evaluated once)."""
    bits, n_lng, n_lat = _bit_split(chars)
    return _interleave(
        _quantize(lng, -180.0, 360.0, n_lng),
        _quantize(lat, -90.0, 180.0, n_lat),
        chars,
    )


def geohash(lat: Column, lng: Column, chars: int = 6) -> Column:
    """The geohash string at the given precision (1-12 chars)."""
    return _chars_of(geohash_int(lat, lng, chars), chars)


# ---------------------------------------------------------------------------
# Staged variants — the hot-path API: quantized axes and the code become
# real columns so each is evaluated once per row and the plan depth
# stays constant no matter how many geohash ops a pipeline chains.
# ---------------------------------------------------------------------------
def with_geohash_int(df: DataFrame, lat: str, lng: str, chars: int = 6,
                     out: str = "gh_code") -> DataFrame:
    """Adds ``out`` = raw geohash integer (two flat projections)."""
    bits, n_lng, n_lat = _bit_split(chars)
    t = f"_gh{chars}_"
    df = df.withColumns({
        t + "ilng": _quantize(F.col(lng), -180.0, 360.0, n_lng),
        t + "ilat": _quantize(F.col(lat), -90.0, 180.0, n_lat),
    })
    df = df.withColumns({
        out: _interleave(F.col(t + "ilng"), F.col(t + "ilat"), chars)
    })
    return df.drop(t + "ilng", t + "ilat")


def with_geohash(df: DataFrame, lat: str, lng: str, chars: int = 6,
                 out: str = "geohash", keep_code: bool = False,
                 code_col: str = "gh_code") -> DataFrame:
    """Adds ``out`` = geohash string (staged through the int column;
    pass ``keep_code=True`` to also keep the integer form)."""
    tmp = code_col if keep_code else out + "_code"
    df = with_geohash_int(df, lat, lng, chars, tmp)
    df = df.withColumns({out: _chars_of(F.col(tmp), chars)})
    return df if keep_code else df.drop(tmp)


def with_geohash_center(df: DataFrame, code: str, chars: int,
                        out_lat: str = "gh_lat",
                        out_lng: str = "gh_lng") -> DataFrame:
    """Adds the cell-center lat/lng of the geohash-int column ``code``
    — the exact midpoint of the final bisection rectangle:
    (i + 0.5) / 2^n scaled back to degrees."""
    bits, n_lng, n_lat = _bit_split(chars)
    t = f"_ghc{chars}_"
    df = df.withColumns({
        t + "ilng": _deinterleave(F.col(code), chars, "lng"),
        t + "ilat": _deinterleave(F.col(code), chars, "lat"),
    })
    df = df.withColumns({
        out_lat: (F.col(t + "ilat").cast("double") + F.lit(0.5))
        / F.lit(float(1 << n_lat)) * F.lit(180.0) - F.lit(90.0),
        out_lng: (F.col(t + "ilng").cast("double") + F.lit(0.5))
        / F.lit(float(1 << n_lng)) * F.lit(360.0) - F.lit(180.0),
    })
    return df.drop(t + "ilng", t + "ilat")


def with_geohash_axes(df: DataFrame, lat: str, lng: str, chars: int = 6,
                      out_lng: str = "gh_ilng",
                      out_lat: str = "gh_ilat") -> DataFrame:
    """Adds the quantized axis columns — the integer grid coordinates
    underneath the geohash. Neighbor math happens on these (plain ±1
    integer steps), not on the interleaved code."""
    bits, n_lng, n_lat = _bit_split(chars)
    return df.withColumns({
        out_lng: _quantize(F.col(lng), -180.0, 360.0, n_lng),
        out_lat: _quantize(F.col(lat), -90.0, 180.0, n_lat),
    })


def neighbor_code(ilng: Column, ilat: Column, chars: int,
                  dq: int, dr: int) -> Column:
    """Code of the (dq east, dr north) neighbor cell of quantized axis
    columns. Longitude WRAPS (the grid is cyclic across the
    antimeridian); latitude steps past a pole return NULL (no cell
    exists there)."""
    bits, n_lng, n_lat = _bit_split(chars)
    nlng = F.pmod(ilng + F.lit(dq), F.lit(1 << n_lng))
    nlat = ilat + F.lit(dr)
    return F.when(
        (nlat >= 0) & (nlat < (1 << n_lat)), _interleave(nlng, nlat, chars)
    )


def kring_offsets(k: int = 1) -> list[tuple[int, int]]:
    """All (dq, dr) offsets within Chebyshev distance k (the (2k+1)^2
    block, centre included)."""
    return [(dq, dr) for dq in range(-k, k + 1) for dr in range(-k, k + 1)]


# ---------------------------------------------------------------------------
# Plain-Python golden twin — deliberately the CLASSIC 64-bit Morton
# spread (an independent derivation of the same function), used by
# tests and oracle generators.
# ---------------------------------------------------------------------------
_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def spread32_py(v: int) -> int:
    v &= 0xFFFFFFFF
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << shift)) & mask
    return v


def geohash_int_py(lat: float, lng: float, chars: int = 6) -> int:
    bits, n_lng, n_lat = _bit_split(chars)
    ilng = min(max(int((lng + 180.0) / 360.0 * (1 << n_lng)), 0),
               (1 << n_lng) - 1)
    ilat = min(max(int((lat + 90.0) / 180.0 * (1 << n_lat)), 0),
               (1 << n_lat) - 1)
    if bits % 2 == 0:
        # even total: lng bits land at odd positions (LSB indexing)
        return (spread32_py(ilng) << 1) | spread32_py(ilat)
    return spread32_py(ilng) | (spread32_py(ilat) << 1)


def geohash_py(lat: float, lng: float, chars: int = 6) -> str:
    code = geohash_int_py(lat, lng, chars)
    return "".join(
        B32[(code >> (5 * (chars - 1 - i))) & 31] for i in range(chars)
    )


def geohash_center_py(code: int, chars: int) -> tuple[float, float]:
    bits, n_lng, n_lat = _bit_split(chars)
    ilng = ilat = 0
    for ax, src, dst in _bit_layout(chars):
        b = (code >> dst) & 1
        if ax == "lng":
            ilng |= b << src
        else:
            ilat |= b << src
    return ((ilat + 0.5) / (1 << n_lat) * 180.0 - 90.0,
            (ilng + 0.5) / (1 << n_lng) * 360.0 - 180.0)


# ---------------------------------------------------------------------------
# DuckDB-dialect SQL twins (oracle side; the same flat formulation, so
# the SQL string stays linear in precision)
# ---------------------------------------------------------------------------
def quantize_axes_sql(lat: str, lng: str, chars: int = 6) -> tuple[str, str]:
    """(ilng_expr, ilat_expr) — compute once in a CTE."""
    bits, n_lng, n_lat = _bit_split(chars)
    ilng = (f"LEAST(GREATEST(CAST(floor(({lng} + 180.0) / 360.0 * "
            f"{float(1 << n_lng)!r}) AS BIGINT), 0), {(1 << n_lng) - 1})")
    ilat = (f"LEAST(GREATEST(CAST(floor(({lat} + 90.0) / 180.0 * "
            f"{float(1 << n_lat)!r}) AS BIGINT), 0), {(1 << n_lat) - 1})")
    return ilng, ilat


def interleave_sql(ilng: str, ilat: str, chars: int = 6) -> str:
    """Flat interleave over axis COLUMNS (from quantize_axes_sql)."""
    cols = {"lng": ilng, "lat": ilat}
    terms = [
        f"(((({cols[ax]}) >> {src}) & 1) << {dst})"
        for ax, src, dst in _bit_layout(chars)
    ]
    return "(" + " | ".join(terms) + ")"


def deinterleave_sql(code: str, chars: int, axis: str) -> str:
    terms = [
        f"(((({code}) >> {dst}) & 1) << {src})"
        for ax, src, dst in _bit_layout(chars)
        if ax == axis
    ]
    return "(" + " | ".join(terms) + ")"


def geohash_chars_sql(code: str, chars: int) -> str:
    """Base-32 rendering of a geohash-integer COLUMN."""
    parts = [
        f"substr('{B32}', CAST((({code}) >> {5 * (chars - 1 - i)}) & 31 "
        f"AS INTEGER) + 1, 1)"
        for i in range(chars)
    ]
    return "(" + " || ".join(parts) + ")"


def center_sql(code: str, chars: int) -> tuple[str, str]:
    """(lat_expr, lng_expr) of the cell center of a code COLUMN."""
    bits, n_lng, n_lat = _bit_split(chars)
    lat = (f"((CAST({deinterleave_sql(code, chars, 'lat')} AS DOUBLE) + 0.5)"
           f" / {float(1 << n_lat)!r} * 180.0 - 90.0)")
    lng = (f"((CAST({deinterleave_sql(code, chars, 'lng')} AS DOUBLE) + 0.5)"
           f" / {float(1 << n_lng)!r} * 360.0 - 180.0)")
    return lat, lng
