"""Spatial joins: point-in-polygon, radius, box, kNN (SURVEY §2.6).

The reference answers these with in-memory R-trees
(``src/point_rtree.cc``, ``area_db.h``). Here the *data layout is the
index*: points carry a quadkey Morton cell (S10), polygon layers are
pre-processed into broadcastable cell-cover tables, and every query is
a two-phase **filter-refine** plan —

  1. cheap cell equi-join / bbox Column predicate (prunes 99%+, stays
     in whole-stage codegen, broadcast when the build side is small);
  2. exact refine: haversine Column expr (radius/kNN), or for PIP an
     even-odd ray-cast over only the edges in the point's latitude
     band, joined from a broadcast slab table (PolygonLayer).

At 100 TB the phase-1 join is a broadcast hash join on ``cell`` (no
shuffle of the big side); phase 2 is a narrow map, for PIP a second
broadcast hash join with no Python. Skewed hot cells are handled by
AQE skew-join + optional salting (geospark.plans.skew).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from geospark.functions import kernels as K
from geospark.functions import numpy_kernels as NK


# ---------------------------------------------------------------------------
# Cell-id helpers (numpy side, matching the Column cell ids exactly)
# ---------------------------------------------------------------------------
def lin_id(tx: int, ty: int, zoom: int) -> int:
    """Linear cell id ``ty*2^z + tx`` in z16-prefix cell space — the
    physical join key (see cells.with_linear_cell_at_zoom for why the
    Morton id is not used as a join key)."""
    return (int(ty) << zoom) + int(tx)


def cell_tile_of_latlng(lat, lng, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Tile coords in *cell space* at ``zoom``: the z=16 webmercator<1>
    pixel (x truncates, y rounds — S10's convention) shifted right by
    the zoom delta. This is exactly the (x, y) whose Morton code equals
    ``kernels.cell_at_zoom`` (bar the clamped south row below) — covers
    MUST use this mapping, not the tile_size=4096 tile math, or
    boundary points miss their cover cell.
    zoom > 16 projects directly (the finer-grid twin of
    cells.with_linear_cell_at_zoom). The row is clamped to 2^zoom - 1,
    as there: the south edge would otherwise round to row 2^zoom.
    """
    pz = max(zoom, 16)  # projection zoom
    px, py = NK.latlng_to_pixel(lat, lng, pz, tile_size=1)
    py = np.minimum(np.asarray(py, np.int64), (1 << pz) - 1)
    d = pz - zoom
    return np.asarray(px, np.int64) >> d, py >> d


# ---------------------------------------------------------------------------
# Polygon layer (area_db analogue, SURVEY Q12-Q15)
# ---------------------------------------------------------------------------
@dataclass
class Area:
    """One multipolygon area: outer rings + per-outer inner rings.

    Ring arrays are (n, 2) float64 [lat, lng] — mirrors the reference's
    nested fixed_latlng vectors (area_db.h:42-43) in columnar numpy.
    """

    area_id: int
    outers: list[np.ndarray]
    inners: list[list[np.ndarray]] = field(default_factory=list)

    def __post_init__(self):
        self.outers = [np.asarray(r, np.float64) for r in self.outers]
        if not self.inners:
            self.inners = [[] for _ in self.outers]
        self.inners = [[np.asarray(r, np.float64) for r in hs] for hs in self.inners]

    def densified_great_circle(self, max_seg_deg: float = 0.25) -> "Area":
        """SPHERICAL edge semantics via densification: the reference's
        within() (src/polygon.cc:38-41, boost::geometry spherical)
        treats ring edges as great circles, while this engine's refine
        is planar in lat/lng — the two disagree for long edges at high
        latitude (a 90°-of-longitude edge at lat 60 bulges poleward to
        ~67.8° at its midpoint). Slerping extra vertices along each
        edge until every segment subtends <= ``max_seg_deg`` makes the
        planar ray-cast converge to the spherical verdict (error
        O(max_seg_deg²·tan(lat)) degrees of latitude) while keeping the
        refine pure-planar/codegen. Driver-side, layer-build-time cost
        only."""
        def dens(ring: np.ndarray) -> np.ndarray:
            la = np.radians(ring[:, 0])
            ln = np.radians(ring[:, 1])
            v = np.stack([
                np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)
            ], axis=1)
            out = []
            n = len(ring)
            for i in range(n):
                a, b = v[i], v[(i + 1) % n]
                dot = float(np.clip(np.dot(a, b), -1.0, 1.0))
                ang = np.degrees(np.arccos(dot))
                steps = max(1, int(np.ceil(ang / max_seg_deg)))
                ts = np.arange(steps) / steps
                if ang < 1e-12:
                    seg = np.repeat(a[None, :], steps, axis=0)
                else:
                    w = np.radians(ang)
                    seg = (
                        np.sin((1 - ts)[:, None] * w) * a[None, :]
                        + np.sin(ts[:, None] * w) * b[None, :]
                    ) / np.sin(w)
                out.append(seg)
            p = np.vstack(out)
            lat = np.degrees(np.arcsin(np.clip(p[:, 2], -1.0, 1.0)))
            lng = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
            return np.stack([lat, lng], axis=1)

        return Area(
            self.area_id,
            [dens(r) for r in self.outers],
            [[dens(h) for h in hs] for hs in self.inners],
        )

    def max_edge_deg(self) -> float:
        """Largest central angle (degrees) subtended by any ring edge —
        the densification trigger: planar-vs-spherical divergence grows
        O(edge²·tan(lat)), so short-edge layers never need densifying."""
        best = 0.0
        for ring in [*self.outers, *(h for hs in self.inners for h in hs)]:
            la = np.radians(ring[:, 0])
            ln = np.radians(ring[:, 1])
            v = np.stack([
                np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln), np.sin(la)
            ], axis=1)
            dots = np.clip(np.einsum("ij,ij->i", v, np.roll(v, -1, axis=0)),
                           -1.0, 1.0)
            best = max(best, float(np.degrees(np.arccos(dots)).max()))
        return best

    def bbox(self) -> tuple[float, float, float, float]:
        allpts = np.vstack(self.outers)
        return (
            float(allpts[:, 0].min()),
            float(allpts[:, 1].min()),
            float(allpts[:, 0].max()),
            float(allpts[:, 1].max()),
        )


def _ring_contains(ring: np.ndarray, lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray crossing: points (lat, lng) vs one ring.

    Planar in lat/lng space — the exact-refine analogue of tg's PIP
    (area_db.h:209-214); see SURVEY §7 'reference quirks' for the
    spherical-vs-planar note (identical on all test fixtures).
    Boundary behavior: half-open edges (standard crossing parity).
    """
    ys, xs = ring[:, 0], ring[:, 1]
    y2, x2 = np.roll(ys, -1), np.roll(xs, -1)
    inside = np.zeros(lat.shape, dtype=bool)
    n_pts = lat.size
    if n_pts == 0 or len(ring) == 0:
        return inside
    # Vectorize over the LARGER axis and loop the smaller one: the
    # per-(edge, point) formula is identical either way (bit-identical
    # boundaries), but a densified ~1000-edge fence probed by a
    # handful of points (the applyInPandasWithState geofence shape)
    # pays ~1000 python iterations in edge-major order vs ~5 in
    # point-major order — and vice versa for big point batches, where
    # edge-major keeps the working vector cache-resident.
    if n_pts < len(ring):
        keep = ys != y2  # horizontal edges never cross the lat ray
        y1k, x1k, y2k, x2k = ys[keep], xs[keep], y2[keep], x2[keep]
        if y1k.size == 0:
            return inside
        for j in range(n_pts):
            la, lo = lat[j], lng[j]
            crosses = (y1k > la) != (y2k > la)
            if not crosses.any():
                continue
            xint = (x2k - x1k) * (la - y1k) / (y2k - y1k) + x1k
            inside[j] = bool((crosses & (lo < xint)).sum() & 1)
        return inside
    for i in range(len(ring)):
        y1i, x1i, y2i, x2i = ys[i], xs[i], y2[i], x2[i]
        if y1i == y2i:
            continue
        crosses = (y1i > lat) != (y2i > lat)
        if not crosses.any():
            continue
        xint = (x2i - x1i) * (lat - y1i) / (y2i - y1i) + x1i
        inside ^= crosses & (lng < xint)
    return inside


def area_contains(area: Area, lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Exact point-in-multipolygon, holes honored (Q15 semantics)."""
    lat = np.asarray(lat, np.float64)
    lng = np.asarray(lng, np.float64)
    result = np.zeros(lat.shape, dtype=bool)
    for outer, holes in zip(area.outers, area.inners):
        in_outer = _ring_contains(outer, lat, lng)
        if not in_outer.any():
            continue
        for h in holes:
            in_outer &= ~_ring_contains(h, lat, lng)
        result |= in_outer
    return result


# Default spherical-parity densification: any ring edge subtending
# more than this many degrees is split into great-circle segments of
# at most this length at layer build time (reference `within` is
# boost::geometry SPHERICAL, src/polygon.cc:38-41 — planar lat/lng
# ray-casting diverges on long high-latitude edges). 0.5° keeps the
# worst-case planar-vs-spherical gap ~edge²/8·sin(2·lat)/2 ≈ 60 m.
PIP_DENSIFY_DEG = 0.5


def densify_areas(areas: list[Area],
                  max_seg_deg: float | None = PIP_DENSIFY_DEG) -> list[Area]:
    """Spherical-parity pass applied by PolygonLayer by DEFAULT:
    areas whose longest edge subtends more than ``max_seg_deg`` are
    rebuilt with great-circle densified rings (short-edge areas are
    returned untouched — densification is a semantic no-op for them).
    ``max_seg_deg=None`` opts out (pure planar edges)."""
    if max_seg_deg is None:
        return list(areas)
    return [
        a.densified_great_circle(max_seg_deg)
        if a.max_edge_deg() > max_seg_deg else a
        for a in areas
    ]


# Latitude band height (degrees) of PolygonLayer's slab edge index.
PIP_BAND_DEG = 0.25

_EDGE = pa.list_(pa.struct([(c, pa.float64()) for c in ("y1", "x1", "y2", "x2")]))
_UNITS = pa.list_(pa.struct([("outer", _EDGE), ("holes", pa.list_(_EDGE))]))


def _band(lat):
    """Slab index of a latitude. numpy arrays and Columns evaluate the
    SAME IEEE double ops (add, divide, floor), so the driver-side slab
    build and the executor-side probe agree bit for bit."""
    if isinstance(lat, np.ndarray):
        return np.floor((lat + 90.0) / PIP_BAND_DEG).astype(np.int64)
    return F.floor((lat + F.lit(90.0)) / F.lit(PIP_BAND_DEG))


def _slab_edges(ring: np.ndarray) -> dict[int, list[tuple]]:
    """band -> the ring's non-horizontal (y1, x1, y2, x2) edges whose
    latitude range [min y, max y] reaches into that band, in ring
    order. An edge crosses a point's eastward ray only if
    min y <= lat < max y, and _band is monotone, so every such edge
    is listed under the point's own band."""
    ys, xs = ring[:, 0], ring[:, 1]
    y2, x2 = np.roll(ys, -1), np.roll(xs, -1)
    keep = ys != y2  # horizontal edges never cross the lat ray
    e = np.stack([ys[keep], xs[keep], y2[keep], x2[keep]], axis=1)
    lo = _band(np.minimum(e[:, 0], e[:, 2]))
    hi = _band(np.maximum(e[:, 0], e[:, 2]))
    out: dict[int, list[tuple]] = {}
    for edge, b1, b2 in zip(e.tolist(), lo.tolist(), hi.tolist()):
        for b in range(b1, b2 + 1):
            out.setdefault(b, []).append(tuple(edge))
    return out


def _parity(edges, lat, lng):
    """_ring_contains' even-odd crossing parity over an edge array, as
    an ``aggregate`` XOR with the numpy twin's operation order."""
    return F.aggregate(edges, F.lit(False), lambda acc, e: acc != (
        ((e["y1"] > lat) != (e["y2"] > lat))
        & (lng < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"])
           + e["x1"])))


class PolygonLayer:
    """A small-to-medium polygon layer, prepared for broadcast PIP
    joins as two tables built once on the driver:

    - the cell cover: per-area bbox (Q9 agg) cells at ``cover_zoom``
      (the Q13 analogue of the area_db build), the filter side;
    - the slab table: one row per (area, latitude band of
      PIP_BAND_DEG) listing, per outer unit, the ring edges that
      span the band plus one such array per hole (empty arrays
      dropped) — the refine side, so a point tests only the few
      edges near its latitude instead of the whole layer.

    Edge semantics match the reference's SPHERICAL within() by
    default: long-edge areas are great-circle densified at build time
    (see densify_areas). Pass ``densify_deg=None`` for raw planar
    edges (the pre-round-4 behavior).
    """

    def __init__(self, areas: list[Area], cover_zoom: int = 8,
                 densify_deg: float | None = PIP_DENSIFY_DEG):
        self.areas = densify_areas(areas, densify_deg)
        self.cover_zoom = int(cover_zoom)
        self._tables: tuple[SparkSession, DataFrame, DataFrame] | None = None

    def cover(self) -> list[tuple[int, int]]:
        """(cell, area_id) pairs covering each area's bbox at
        cover_zoom — the broadcast build side of the PIP join."""
        z = self.cover_zoom
        out: list[tuple[int, int]] = []
        for a in self.areas:
            lat_min, lng_min, lat_max, lng_max = a.bbox()
            tx1, ty1 = cell_tile_of_latlng(lat_max, lng_min, z)  # NW -> min px, min py
            tx2, ty2 = cell_tile_of_latlng(lat_min, lng_max, z)  # SE
            for ty in range(int(ty1), int(ty2) + 1):
                for tx in range(int(tx1), int(tx2) + 1):
                    out.append((lin_id(tx, ty, z), a.area_id))
        return out

    def slab_rows(self) -> list[tuple]:
        """(area_id, band, units) rows, units a list of (outer edges,
        [hole edges, ...]). A unit whose outer ring has no edge in a
        band cannot contain a point of that band (zero crossings), so
        it is left out of the row."""
        rows = []
        for a in self.areas:
            units: dict[int, list] = {}
            for outer, holes in zip(a.outers, a.inners):
                hole_slabs = [_slab_edges(h) for h in holes]
                for b, edges in _slab_edges(outer).items():
                    units.setdefault(b, []).append((edges, [
                        hs[b] for hs in hole_slabs if b in hs]))
            rows += [(a.area_id, b, us) for b, us in sorted(units.items())]
        return rows

    def tables(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        """(cover(cell_cov, area_id), slabs(_slab_area, _band, _units)),
        memoized per session. Both are built from Arrow tables, which
        Spark keeps as driver-side LocalRelations: broadcasting them
        runs no job and no Python worker (a list would be re-pickled
        through a Python RDD on every scan)."""
        if self._tables is None or self._tables[0] is not spark:
            cov = np.array(self.cover(), np.int64).reshape(-1, 2)
            aid, band, units = list(zip(*self.slab_rows())) or [(), (), ()]
            self._tables = (spark, spark.createDataFrame(pa.table({
                "cell_cov": cov[:, 0], "area_id": cov[:, 1],
            })), spark.createDataFrame(pa.table({
                "_slab_area": pa.array(aid, pa.int64()),
                "_band": pa.array(band, pa.int64()),
                "_units": pa.array(units, _UNITS),
            })))
        return self._tables[1:]

    def cover_df(self, spark: SparkSession) -> DataFrame:
        """The cover table alone: (cell_cov, area_id) rows of cover()."""
        return self.tables(spark)[0]


def pip_join(points: DataFrame, layer: PolygonLayer,
             lat: str = "lat", lng: str = "lng") -> DataFrame:
    """Flagship PIP join (Q10/Q14/Q15): points ⨝ broadcast(cell cover)
    on the cover-zoom cell, then ⨝ broadcast(slab table) on
    (area_id, latitude band), filtered by the exact ray-cast over the
    slab's edges:
    ``exists(units, u -> parity(u.outer) AND NOT exists(u.holes,
    parity))``. Returns the input columns + ``area_id``.

    The refine returns the same bits as ``area_contains``: the band
    holds every edge that can cross the point's latitude, extra edges
    only add false terms, and ``_parity`` repeats _ring_contains'
    arithmetic. No Python runs: the cover join is whole-stage
    codegen; the slab join's higher-order predicate is interpreted
    (CodegenFallback) over a handful of edges per candidate.

    Plan shape at scale: two broadcast hash joins (no shuffle of
    points) → output. Hot city cells need no salting because both
    build sides are broadcast (no shuffle to skew).
    """
    from geospark.cells import with_linear_cell_at_zoom

    cover, slabs = layer.tables(points.sparkSession)
    cand = with_linear_cell_at_zoom(
        points, layer.cover_zoom, lat, lng, "_cell_cov").join(
        F.broadcast(cover),
        F.col("_cell_cov") == F.col("cell_cov"),
        "inner",
    ).drop("_cell_cov", "cell_cov")
    la, lo = F.col(lat), F.col(lng)
    inside = F.exists("_units", lambda u: _parity(u["outer"], la, lo)
                      & ~F.exists(u["holes"], lambda h: _parity(h, la, lo)))
    return cand.join(
        F.broadcast(slabs),
        (F.col("area_id") == F.col("_slab_area"))
        & (_band(la) == F.col("_band")),
        "inner",
    ).filter(inside).select(*cand.columns)


# ---------------------------------------------------------------------------
# Radius join (Q2/Q3)
# ---------------------------------------------------------------------------
def _cover_ranges(lat_min, lng_min, lat_max, lng_max, z: int, pad: int = 1):
    """Vectorized bbox -> cover rectangle at zoom ``z``: returns
    ``(tx1, ty1, nx, ny)`` int64 arrays where x runs ``tx1 .. tx1+nx-1``
    **modulo 2^z** (antimeridian wrap) and y is clamped to [0, 2^z).

    ``pad`` adds a ring of cells around the bbox rectangle, a safety
    margin for boxes whose edges are only approximate — the exact
    refine still decides membership, the ring only restores recall.
    """
    lat_min = np.maximum(np.asarray(lat_min, np.float64), -NK.MERC_MAX_LATITUDE)
    lat_max = np.minimum(np.asarray(lat_max, np.float64), NK.MERC_MAX_LATITUDE)
    lng_min = np.asarray(lng_min, np.float64)
    lng_max = np.asarray(lng_max, np.float64)
    n = np.int64(1 << z)
    span = lng_max - lng_min
    # wrap lngs into [-180, 180) so antimeridian-crossing boxes enumerate
    # the wrapped x-range instead of collapsing to an empty cover
    lng_min_w = np.mod(lng_min + 180.0, 360.0) - 180.0
    lng_max_w = np.mod(lng_max + 180.0, 360.0) - 180.0
    tx1, ty1 = cell_tile_of_latlng(lat_max, lng_min_w, z)
    tx2, ty2 = cell_tile_of_latlng(lat_min, lng_max_w, z)
    tx1 = np.clip(np.atleast_1d(tx1), 0, n - 1)
    tx2 = np.clip(np.atleast_1d(tx2), 0, n - 1)
    ty1 = np.clip(np.atleast_1d(ty1), 0, n - 1)
    ty2 = np.clip(np.atleast_1d(ty2), 0, n - 1)
    nx = np.mod(tx2 - tx1, n) + 1  # wrapped width
    # ends in one column but more than half the world apart: the box
    # wraps all the way round, like a span of 360 deg
    span = np.atleast_1d(span)
    nx = np.where((span >= 360.0) | ((tx2 == tx1) & (span > 180.0)), n, nx)
    p = np.int64(pad)
    tx1 = np.mod(tx1 - p, n)
    nx = np.minimum(nx + 2 * p, n)
    ty1c = np.maximum(ty1 - p, 0)
    ny = np.minimum(ty2 + p, n - 1) - ty1c + 1
    return tx1, ty1c, nx, np.maximum(ny, 0)


def _enumerate_covers(tx1, ty1, nx, ny, z: int):
    """Ragged enumeration of cover rectangles (x wraps mod 2^z):
    returns ``(cells, counts)`` — flat int64 linear cell ids in row-major
    (y, x) order plus the per-row cell count. Pure numpy, no per-row
    Python."""
    n = np.int64(1 << z)
    counts = (nx * ny).astype(np.int64)
    total = int(counts.sum())
    starts = np.zeros(len(counts), np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    row = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    within = np.arange(total, dtype=np.int64) - starts[row]
    nx_r = nx[row]
    dy = within // nx_r
    dx = within - dy * nx_r
    tx = np.mod(tx1[row] + dx, n)
    ty = ty1[row] + dy
    return (ty << np.int64(z)) + tx, counts


def cover_cells_series(lat_min, lng_min, lat_max, lng_max, z: int,
                       pad: int = 1) -> pd.Series:
    """Vectorized batch form for pandas UDFs: per-row cover cell LISTS
    as a pandas Series backed by a pyarrow ListArray — zero per-row
    Python (the round trip is two numpy passes + one Arrow build)."""
    tx1, ty1, nx, ny = _cover_ranges(lat_min, lng_min, lat_max, lng_max, z, pad)
    cells, counts = _enumerate_covers(tx1, ty1, nx, ny, z)
    offsets = np.zeros(len(counts) + 1, np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(cells, pa.int64())
    ).to_pandas()


def pip_join_table(points: DataFrame, polygons: DataFrame,
                   cover_zoom: int = 8, lat: str = "lat",
                   lng: str = "lng") -> DataFrame:
    """PIP join against a polygon TABLE (sources.POLYGON_TABLE_SCHEMA:
    area_id, outer_idx, ring_kind, ring_idx, seq, lat, lng): the table
    input to the same broadcast join as :func:`pip_join`. The table is
    collected to the driver (sources.df_to_areas) and its rings keep
    planar edges (no densification), as stored."""
    from geospark.sources import df_to_areas

    layer = PolygonLayer(df_to_areas(polygons), cover_zoom, densify_deg=None)
    return pip_join(points, layer, lat, lng)


def radius_join_df(points: DataFrame, centers: DataFrame, max_m: float,
                   min_m: float = 0.0, lat: str = "lat", lng: str = "lng",
                   q_id: str = "query_id", q_lat: str = "q_lat",
                   q_lng: str = "q_lng", radius_col: str | None = None,
                   broadcast_centers: bool = False) -> DataFrame:
    """in_radius(_with_distance) as a join (src/point_rtree.cc:21-68)
    with a DATAFRAME of query centers (``q_id, q_lat, q_lng``): each
    center's buffered-bbox cell cover is computed in an Arrow-batched
    UDF, so covers never touch the driver and millions of centers work.
    The cover zoom is derived from ``max_m``.

    ``radius_col``: optional per-center radius column (capped by
    ``max_m``) — each center's cover AND its refine threshold use its
    own radius (the kNN phase-2 path). The cover zoom then fits the
    median radius, at most 3 levels finer than the largest radius needs
    (that center's cover stays under ~20x20 cells).

    Plan: centers -> explode(cover cells)  (narrow, ~k cells/center)
          points  -> linear cell           (narrow)
          hash join on cell (shuffle both sides, or broadcast the
          exploded centers with ``broadcast_centers=True``)
          -> exact haversine refine, [min_m, max) semantics.
    """
    from geospark.cells import with_linear_cell_at_zoom

    def zoom_for(m: float) -> int:
        # finest zoom whose 1-cell edge still exceeds the radius —
        # bbox covers then stay at a handful of cells per center
        earth = 40075016.686
        zoom = 0
        while zoom < 20 and earth / (1 << (zoom + 1)) >= m:
            zoom += 1
        return zoom

    r_col = F.least(F.col(radius_col), F.lit(max_m)) if radius_col else F.lit(max_m)
    if radius_col is None:
        zoom = zoom_for(max_m)
    else:
        med, top = centers.agg(F.percentile_approx(r_col, 0.5), F.max(r_col)).first()
        zoom = 0 if top is None else min(zoom_for(med), zoom_for(top) + 3)

    @pandas_udf("array<long>")
    def _cover(clat: pd.Series, clng: pd.Series, cr: pd.Series) -> pd.Series:
        la = clat.to_numpy(np.float64)
        ln = clng.to_numpy(np.float64)
        r = cr.to_numpy(np.float64)
        # bounding box of the spherical cap: the latitude span errs wide
        # (111 km per degree), the longitude half-width is
        # asin(sin(r/R)/cos(lat)), and a cap over a pole spans every
        # longitude
        d_lat = r / 111000.0
        lat_lo, lat_hi = la - d_lat, la + d_lat
        ang = np.minimum(r / K.EARTH_RADIUS_M, np.pi / 2)
        half = np.degrees(np.arcsin(np.minimum(
            np.sin(ang) / np.cos(np.radians(la)), 1.0)))
        half = np.where((lat_lo <= -90.0) | (lat_hi >= 90.0), 180.0, half)
        lng_lo, lng_hi = ln - half, ln + half
        return cover_cells_series(lat_lo, lng_lo, lat_hi, lng_hi, zoom, pad=1)

    c = centers.select(
        F.col(q_id).alias("query_id"),
        F.col(q_lat).alias("_q_lat"),
        F.col(q_lng).alias("_q_lng"),
        r_col.alias("_q_r"),
        F.explode(
            _cover(F.col(q_lat), F.col(q_lng), r_col)
        ).alias("_q_cell"),
    )
    if broadcast_centers:
        c = F.broadcast(c)
    pts = with_linear_cell_at_zoom(points, zoom, lat, lng, "_cell_q")
    dist = K.distance(F.col("_q_lat"), F.col("_q_lng"), F.col(lat), F.col(lng))
    return (
        pts.join(c, F.col("_cell_q") == F.col("_q_cell"), "inner")
        .withColumn("dist_m", dist)
        .filter((F.col("dist_m") < F.col("_q_r")) & (F.col("dist_m") >= min_m))
        .drop("_cell_q", "_q_cell", "_q_lat", "_q_lng", "_q_r")
    )


_Z16_TOP = (1 << 16) - 1


def _cell_ancestors(df: DataFrame, la: str, ln: str, *keep: str) -> DataFrame:
    """``keep`` plus each row's z16 pixel ``(_px, _py)`` and one
    ``(_z, _x, _y)`` row per ancestor cell at z1 .. z16. Longitudes wrap
    into [-180, 180) and the pixel clamps to the last row and column."""
    wrapped = F.pmod(F.col(ln) + 180.0, F.lit(360.0)) - 180.0
    px = K.merc_to_pixel_x(K.latlng_to_merc_x(wrapped), 16, tile_size=1)
    py = K.merc_to_pixel_y(K.latlng_to_merc_y(F.col(la)), 16, tile_size=1)
    # explode + shiftright stay in whole-stage codegen; a transform
    # lambda would be interpreted once per point
    return df.select(
        *keep, F.least(px, F.lit(_Z16_TOP)).alias("_px"),
        F.least(py, F.lit(_Z16_TOP)).alias("_py"),
    ).select(
        *keep, "_px", "_py", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("_z"),
    ).select(
        *keep, "_px", "_py", "_z", F.expr("shiftright(_px, 16 - _z)").alias("_x"),
        F.expr("shiftright(_py, 16 - _z)").alias("_y"),
    )


def _knn_candidates(points: DataFrame, centers: DataFrame, k: int, lat: str,
                    lng: str, q_id: str, q_lat: str, q_lng: str) -> DataFrame:
    """Every (point, query_id, dist_m) pair within a per-center upper
    bound on d_k, the distance to the k-th nearest point: radius_join_df
    against the spooled bound, with no rounds.

    One partially aggregated ``groupBy`` counts points per cell
    ``(z, x, y)`` at z16 .. z1; each center keeps the finest z whose own
    cell holds >= k points. Those points lie in the cell, and in a
    lat/lng box spanning <= 180 deg of longitude the farthest point from
    a point inside is a corner, so the farthest corner bounds d_k. Row 0
    reaches 90N and the last row 90S (cell ids clamp latitudes beyond
    the Mercator limit into them); longitudes wrap into [-180, 180), so
    every point lies in its cell's box. A center short of k points even
    at z1 gets half the earth's circumference, which reaches every point.
    """
    from geospark.spool import spool

    counts = _cell_ancestors(points, lat, lng).groupBy("_z", "_x", "_y").agg(
        F.count("*").alias("_n"))
    cen = centers.select(
        F.col(q_id).alias("query_id"), F.col(q_lat).alias("q_lat"),
        F.col(q_lng).alias("q_lng"),
    )
    best = (
        _cell_ancestors(cen, "q_lat", "q_lng", "query_id", "q_lat", "q_lng")
        .join(counts, ["_z", "_x", "_y"], "left")
        .groupBy("query_id", "q_lat", "q_lng", "_px", "_py")
        .agg(F.max(F.when(F.col("_n") >= k, F.col("_z"))).alias("_z"))
    )
    # the cell's box in z16 pixel units (s pixels a side): x is
    # truncated, y rounded, so row edges sit half a pixel above the
    # pixel row boundaries
    s = F.pow(F.lit(2.0), 16 - F.col("_z"))
    u0 = F.floor(F.col("_px") / s) * s
    v0 = F.floor(F.col("_py") / s) * s

    def row_lat(v):
        return K.merc_to_lat(K.pixel_to_merc_y(v, 16, tile_size=1))

    box = best.select(
        "query_id", "q_lat", "q_lng",
        F.when(v0 == 0, 90.0).otherwise(row_lat(v0 - 0.5)).alias("_lat_n"),
        F.when(v0 + s > _Z16_TOP, -90.0).otherwise(row_lat(v0 + s - 0.5)).alias("_lat_s"),
        (u0 * (360.0 / (1 << 16)) - 180.0).alias("_lng_w"),
        ((u0 + s) * (360.0 / (1 << 16)) - 180.0).alias("_lng_e"),
    )
    corner = F.greatest(*[
        K.distance(F.col("q_lat"), F.col("q_lng"), F.col(la), F.col(ln))
        for la in ("_lat_n", "_lat_s") for ln in ("_lng_w", "_lng_e")
    ])
    r = F.coalesce(corner, F.lit(np.pi * K.EARTH_RADIUS_M))
    bound = spool(box.select(
        "query_id", "q_lat", "q_lng",
        (r * (1.0 + 1e-9) + 1e-6).alias("knn_radius"),
    ), "knn_bound")
    return radius_join_df(points, bound, max_m=float("inf"),
                          radius_col="knn_radius", lat=lat, lng=lng)


def knn_join_df(points: DataFrame, centers: DataFrame, k: int,
                lat: str = "lat", lng: str = "lng", id_col: str = "point_id",
                q_id: str = "query_id", q_lat: str = "q_lat",
                q_lng: str = "q_lng") -> DataFrame:
    """point_rtree::nearest(c, k) (src/point_rtree.cc:38-48) with a
    DATAFRAME of query centers, as a guaranteed-exact two-phase plan:
    the candidates within each center's d_k bound
    (:func:`_knn_candidates`, no zoom rounds), then window top-k by
    exact haversine (ties -> id_col).
    """
    w = Window.partitionBy("query_id").orderBy("dist_m", id_col)
    return (
        _knn_candidates(points, centers, k, lat, lng, q_id, q_lat, q_lng)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def nearest_join_df(points: DataFrame, centers: DataFrame,
                    lat: str = "lat", lng: str = "lng",
                    id_col: str = "point_id",
                    q_id: str = "query_id", q_lat: str = "q_lat",
                    q_lng: str = "q_lng") -> DataFrame:
    """Nearest-neighbor join (kNN k=1) with ZERO windows — the final
    argmin is a partial-aggregatable min, so no exchange carries the
    raw candidate relation (each map task ships one minimum per center
    it saw). :func:`knn_join_df` with k=1 is semantically identical but
    pays a row_number window over the candidate relation (the
    general-k top-k needs it); at 12M points x 450k places the window
    sort dominated its wall (137.8s vs this path — BENCH.md).

    Same k=1 candidates (:func:`_knn_candidates`), then the exact
    argmin as min(struct(dist, id)) — ties resolve to the lowest
    ``id_col``, matching knn_join_df's (dist, id) window order exactly.

    Returns (query_id, id_col, dist_m)."""
    best = (
        _knn_candidates(points, centers, 1, lat, lng, q_id, q_lat, q_lng)
        .groupBy("query_id")
        .agg(F.min(F.struct(F.col("dist_m"), F.col(id_col).alias("_id")))
             .alias("_b"))
    )
    return best.select(
        "query_id",
        F.col("_b._id").alias(id_col),
        F.col("_b.dist_m").alias("dist_m"),
    )


def knn_classify(points: DataFrame, centers: DataFrame, k: int,
                 label_col: str = "label",
                 lat: str = "lat", lng: str = "lng",
                 id_col: str = "point_id") -> DataFrame:
    """k-NN majority-vote classification — the spatial ML primitive:
    each query location (``centers``: query_id, q_lat, q_lng) takes the
    modal label of its ``k`` nearest labeled points (exact haversine
    neighbors via :func:`knn_join_df`; vote ties break on the
    lexicographically smaller label — deterministic in any engine).

    Plan: the kNN join (a cell-count radius bound per query, a bounded
    radius join, a top-k window) finds the |Q|*k neighbor ids; that
    MODEL-SIZED relation broadcasts back into one hash join against the
    labeled points (the corpus never shuffles),
    votes partial-aggregate per (query, label), and the winner is a
    min-struct argmax on (-votes, label). Returns
    (query_id, label, n_votes).

    Reference analogue: Q4 nearest (src/point_rtree.cc:38-48)
    feeding a vote aggregate instead of a ranked list."""
    nn = knn_join_df(points.select(id_col, lat, lng), centers, k,
                     lat=lat, lng=lng, id_col=id_col).select("query_id", id_col)
    votes = (
        points.select(id_col, F.col(label_col).alias("_lbl"))
        .join(F.broadcast(nn), id_col)
        .groupBy("query_id", "_lbl")
        .agg(F.count("*").alias("n_votes"))
    )
    best = F.min(F.struct(
        (-F.col("n_votes")).alias("_neg"),
        F.col("_lbl").alias("label"),
    )).alias("_b")
    return (
        votes.groupBy("query_id").agg(best)
        .select("query_id", F.col("_b.label").alias("label"),
                (-F.col("_b._neg")).alias("n_votes"))
    )


# ---------------------------------------------------------------------------
# Box query (Q5/Q7)
# ---------------------------------------------------------------------------
def box_query(points: DataFrame, lat_min: float, lng_min: float,
              lat_max: float, lng_max: float,
              lat: str = "lat", lng: str = "lng",
              strict: bool = True) -> DataFrame:
    """point_rtree::within(box) (src/point_rtree.cc:70-78): pure Column
    predicate; STRICT inequalities per box::contains(latlng)
    (box.h:72-75). On a cell-sorted table the lat/lng min-max column
    stats give parquet row-group pruning for free.
    """
    pred = K.box_contains_point(
        F.lit(lat_min), F.lit(lng_min), F.lit(lat_max), F.lit(lng_max),
        F.col(lat), F.col(lng),
    )
    if not strict:
        pred = (
            (F.col(lat) >= lat_min) & (F.col(lat) <= lat_max)
            & (F.col(lng) >= lng_min) & (F.col(lng) <= lng_max)
        )
    return points.filter(pred)


# ---------------------------------------------------------------------------
# Map matching: nearest segment within a radius (GPS probe -> network)
# ---------------------------------------------------------------------------
def match_points_to_segments(points: DataFrame, segments: DataFrame,
                             max_m: float,
                             point_id: str = "point_id",
                             lat: str = "lat", lng: str = "lng",
                             line_id: str = "line_id",
                             seg_idx: str = "seg_idx",
                             f_lat: str = "f_lat", f_lng: str = "f_lng",
                             t_lat: str = "t_lat", t_lng: str = "t_lng",
                             broadcast_segments: bool = False,
                             per_line: bool = False) -> DataFrame:
    """Map matching as a distributed filter-refine join: snap every
    probe point to its NEAREST polyline segment within ``max_m``
    meters (the GPS-trace -> road-network primitive; composes S8
    closest_on_segment + S1 haversine, reference latlng.h:78-97 via
    geo/polyline.h, into the spatial-join plan shape of Q2/Q3).

    Plan (both sides are TABLES — the only driver data is the ≤17-int
    list of DISTINCT cover zooms, an aggregate):

      segments -> explode(multi-zoom buffered-bbox cover)   (Arrow UDF)
      points   -> one (zoom, ancestor-cell) key per distinct
                  cover zoom                                 (narrow)
      hash join on (zoom, cell); exact closest-on-segment +
      haversine refine (strict ``< max_m``); per-point min-struct
      argmin with the L6 tie-break order (dist, line_id, seg_idx).

    ``per_line=True`` turns the snap into a CORRIDOR join: the argmin
    groups by (point, line) instead of point, so the result keeps one
    row per polyline within ``max_m`` of the probe (nearest segment of
    that line) rather than only the globally nearest line — the
    "points near any route" primitive. Identical output schema, plan
    unchanged except the aggregate key (still a map-side partial
    min-struct; the exchange carries one candidate-minimum per
    (probe, line, map partition)).

    MULTI-ZOOM cover: each segment picks its own zoom — the finest
    level at which its buffered endpoint-bbox spans <= 2 cells (so a
    pad=0 cover is <= ~9 cells) — capped at the radius zoom (cell
    edge >= max_m). Short network links land on the fine grid; a
    degenerate 1000 km link covers a few coarse cells instead of 10^7
    fine ones (a single fixed fine zoom allocates terabytes of cover
    on long segments — measured before this design). Cover cells and
    point ancestors both live in the shifted-z16 pixel space
    (cell_tile_of_latlng), so the equi-join is exact; cells of one
    segment are distinct, so no (point, segment) pair duplicates.

    Cover recall: a mercator segment's lat/lng bbox is its endpoint
    bbox (merc x/y are monotone in lng/lat), buffered by ``max_m``
    with both degree constants UNDERSTATING the true m/deg (so the
    box strictly dominates the haversine disk), and enumerated with
    pad=0: the corner rectangle under the monotone, probe-identical
    cell_tile_of_latlng mapping is an exact cover of a dominating
    box. The exact refine decides membership.
    """
    earth = 40075016.686
    z_fine = 0
    while z_fine < 16 and earth / (1 << (z_fine + 1)) >= max_m:
        z_fine += 1

    def _buffered_boxes(fla, fln, tla, tln):
        """Shared numpy core: buffered per-segment bbox + cover zoom
        (ONE implementation feeds both the zoom-census pass and the
        cover enumeration, so the point side's ancestor-key zoom set
        can never drift from the keys the cover actually emits)."""
        a_la = fla.to_numpy(np.float64)
        a_ln = fln.to_numpy(np.float64)
        b_la = tla.to_numpy(np.float64)
        b_ln = tln.to_numpy(np.float64)
        d_lat = max_m / 111000.0
        lat_lo = np.minimum(a_la, b_la) - d_lat
        lat_hi = np.maximum(a_la, b_la) + d_lat
        # lng buffer sized at the worst-|lat| corner of the buffered
        # box (smallest cos -> widest degree buffer). 111000 m/deg
        # UNDERSTATES the true 111195 (haversine sphere) on both axes,
        # so both buffers strictly DOMINATE the max_m disk — which is
        # what lets the cover run pad=0 below: cell_tile_of_latlng is
        # monotone and bit-identical to the probe side's z16-shift
        # keys, so the inclusive corner rectangle of a dominating box
        # is an exact cover.
        cos_lo = np.cos(np.radians(np.clip(lat_lo, -89.9, 89.9)))
        cos_hi = np.cos(np.radians(np.clip(lat_hi, -89.9, 89.9)))
        cos_w = np.maximum(np.minimum(cos_lo, cos_hi), 1e-6)
        d_lng = max_m / (111000.0 * cos_w)
        lng_lo = np.minimum(a_ln, b_ln) - d_lng
        lng_hi = np.maximum(a_ln, b_ln) + d_lng
        # per-segment zoom: coarsen until the bbox spans <= 2 cells
        _, _, nx, ny = _cover_ranges(lat_lo, lng_lo, lat_hi, lng_hi,
                                     z_fine, pad=0)
        span = np.maximum(nx, ny)
        dz = np.ceil(np.log2(np.maximum(span / 2.0, 1.0))).astype(np.int64)
        zs = np.maximum(z_fine - dz, 0)
        return lat_lo, lat_hi, lng_lo, lng_hi, zs

    @pandas_udf("int")
    def _seg_zoom(fla: pd.Series, fln: pd.Series,
                  tla: pd.Series, tln: pd.Series) -> pd.Series:
        return pd.Series(_buffered_boxes(fla, fln, tla, tln)[4])

    # combined (cell, zoom) key: (c << 5) | z. One int64 per cover
    # cell keeps the Arrow transfer on the numeric ListArray fast path
    # (an array<struct> return materializes one Python dict PER CELL —
    # measured 10s vs <1s for the same 1.6M-cell cover at sf0.1) and
    # gives the bucket join a single primitive equi-key.
    @pandas_udf("array<long>")
    def _seg_cover(fla: pd.Series, fln: pd.Series,
                   tla: pd.Series, tln: pd.Series) -> pd.Series:
        import pyarrow as pa

        lat_lo, lat_hi, lng_lo, lng_hi, zs = _buffered_boxes(
            fla, fln, tla, tln)
        n_rows = len(zs)
        all_z = np.empty(0, np.int64)
        all_c = np.empty(0, np.int64)
        counts = np.zeros(n_rows, np.int64)
        order = np.empty(0, np.int64)
        for z in np.unique(zs):
            m = zs == z
            idx = np.flatnonzero(m)
            tx1, ty1, nxz, nyz = _cover_ranges(
                lat_lo[m], lng_lo[m], lat_hi[m], lng_hi[m], int(z), pad=0)
            cells, cnts = _enumerate_covers(tx1, ty1, nxz, nyz, int(z))
            all_c = np.concatenate([all_c, cells])
            all_z = np.concatenate([all_z, np.full(len(cells), z, np.int64)])
            counts[idx] = cnts
            order = np.concatenate([order, np.repeat(idx, cnts)])
        # scatter the per-zoom chunks back into input-row order
        perm = np.argsort(order, kind="stable")
        keys = (all_c[perm] << 5) | all_z[perm]
        offsets = np.zeros(n_rows + 1, np.int64)
        np.cumsum(counts, out=offsets[1:])
        return pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(keys, pa.int64())
        ).to_pandas()

    # fan the network out to every core BEFORE the Arrow cover UDF —
    # a network read from one small parquet file otherwise arrives in
    # 1-2 input splits, serializing the UDF (and everything downstream
    # of the spool) onto 2 of N cores
    par = segments.sparkSession.sparkContext.defaultParallelism
    seg = segments.repartition(par).select(
        F.col(line_id).alias("_m_line"),
        F.col(seg_idx).alias("_m_seg"),
        F.col(f_lat).alias("_m_fla"), F.col(f_lng).alias("_m_fln"),
        F.col(t_lat).alias("_m_tla"), F.col(t_lng).alias("_m_tln"),
        F.explode(
            _seg_cover(F.col(f_lat), F.col(f_lng),
                       F.col(t_lat), F.col(t_lng))
        ).alias("_m_key"),
    )
    # zoom census: a zoom-only Arrow pass over the network (no explode,
    # no materialized cover). The only driver data is the <=17-int
    # DISTINCT zoom list; the cover UDF itself then runs exactly once,
    # inside the single join pass (no spool/checkpoint needed).
    zooms = sorted(
        r["_z"] for r in segments.select(
            _seg_zoom(F.col(f_lat), F.col(f_lng),
                      F.col(t_lat), F.col(t_lng)).alias("_z")
        ).distinct().collect()
    )
    if not zooms:  # empty network -> empty result, stable schema
        return (
            points.select(
                F.col(point_id).alias("point_id"),
                F.lit(None).cast("long").alias("line_id"),
                F.lit(None).cast("int").alias("seg_idx"),
                F.lit(None).cast("double").alias("dist_m"),
                F.lit(None).cast("double").alias("c_lat"),
                F.lit(None).cast("double").alias("c_lng"),
            ).limit(0)
        )
    if broadcast_segments:
        seg = F.broadcast(seg)
    # one combined (ancestor-cell << 5 | zoom) key per DISTINCT cover
    # zoom, all shift-derived from one staged z16 projection
    # (cell_tile_of_latlng parity with the cover enumeration)
    px = K.merc_to_pixel_x(K.latlng_to_merc_x(F.col(lng)), 16, tile_size=1)
    py = K.merc_to_pixel_y(K.latlng_to_merc_y(F.col(lat)), 16, tile_size=1)
    pts = points.withColumn("__px16", px).withColumn("__py16", py)
    keys = [
        F.shiftleft(
            F.shiftleft(F.shiftright(F.col("__py16"), 16 - int(z)), int(z))
            + F.shiftright(F.col("__px16"), 16 - int(z)),
            5,
        ) + F.lit(int(z))
        for z in zooms
    ]
    anc = (
        pts.withColumn("_p_key", F.explode(F.array(*keys)))
        .drop("__px16", "__py16")
    )
    # REFINE PLACEMENT. The closest-on-segment + haversine tree must
    # never end up in the JOIN CONDITION: a deterministic pre-agg
    # filter on the exact distance gets folded into bhj_doConsume_0(),
    # whose generated method then "grows beyond 64 KB" and drops the
    # whole streamed stage (Arrow cover UDF + Generate + join) to
    # interpreted mode (measured 26s vs 6s at sf0.1). The exact radius
    # filter therefore runs on the AGGREGATE OUTPUT (a pushdown
    # barrier), while the refine itself — staged through real _cos_*
    # columns, one small generated method per Project — feeds the
    # map-side PARTIAL min-struct aggregate, so the exchange carries
    # one candidate-minimum per (probe, map partition) instead of the
    # raw candidate relation.
    # Conservative candidate prefilter, cheap enough to live in the
    # join condition: the snapped point's latitude lies inside the
    # segment's endpoint-lat interval (mercator y is monotone in lat
    # and closest_on_segment clamps to the endpoints), and great-circle
    # distance >= R·|Δφ| = 111,194.9 m/deg — understated to 111,000 so
    # the bound strictly dominates. Drops only pairs whose exact dist
    # must exceed max_m, so the post-agg radius filter sees the same
    # argmin. Unlike the full refine tree, this is a few hundred bytes
    # of generated code — fine inside bhj_doConsume.
    lat_gap_m = 111000.0 * F.greatest(
        F.lit(0.0),
        F.least(F.col("_m_fla"), F.col("_m_tla")) - F.col(lat),
        F.col(lat) - F.greatest(F.col("_m_fla"), F.col("_m_tla")),
    )
    # NO repartition here: groupBy(point_id) below plans a map-side
    # partial min-struct aggregate, so only one candidate-minimum per
    # (probe, map partition) reaches the exchange. An explicit
    # repartition(point_id) shuffles the RAW candidate relation —
    # measured ENOSPC (>37 GB spill) at 12M segments x 1.2M probes.
    pairs = (
        anc.join(seg, F.col("_p_key") == F.col("_m_key"), "inner")
        .filter(lat_gap_m < F.lit(float(max_m)))
        .select(F.col(point_id).alias("point_id"),
                F.col(lat).alias("_p_lat"), F.col(lng).alias("_p_lng"),
                "_m_line", "_m_seg",
                "_m_fla", "_m_fln", "_m_tla", "_m_tln")
    )
    scored = K.with_closest_on_segment(
        pairs, "_p_lat", "_p_lng", "_m_fla", "_m_fln", "_m_tla", "_m_tln",
        "_m_cla", "_m_cln",
    ).withColumn("_m_dist", K.distance(
        F.col("_p_lat"), F.col("_p_lng"), F.col("_m_cla"), F.col("_m_cln")))
    if per_line:
        best_line = F.min(F.struct(
            F.col("_m_dist").alias("dist_m"),
            F.col("_m_seg").alias("seg_idx"),
            F.col("_m_cla").alias("c_lat"),
            F.col("_m_cln").alias("c_lng"),
        )).alias("_b")
        return (
            scored.groupBy("point_id", "_m_line")
            .agg(best_line)
            .filter(F.col("_b").getField("dist_m") < F.lit(float(max_m)))
            .select(
                "point_id",
                F.col("_m_line").alias("line_id"),
                F.col("_b.seg_idx").alias("seg_idx"),
                F.col("_b.dist_m").alias("dist_m"),
                F.col("_b.c_lat").alias("c_lat"),
                F.col("_b.c_lng").alias("c_lng"),
            )
        )
    best = F.min(F.struct(
        F.col("_m_dist").alias("dist_m"),
        F.col("_m_line").alias("line_id"),
        F.col("_m_seg").alias("seg_idx"),
        F.col("_m_cla").alias("c_lat"),
        F.col("_m_cln").alias("c_lng"),
    )).alias("_b")
    # the radius filter runs AFTER the argmin, on the aggregate output
    # (equivalent: the min struct is ordered by dist_m first, so
    # best.dist_m < max_m  <=>  some candidate < max_m). A pre-agg
    # filter on _m_dist is deterministic, so Catalyst pushes it down
    # THROUGH the repartition into the broadcast join's non-equi
    # condition — inlining the whole closest-on-segment + haversine
    # tree into bhj_doConsume_0(), which blows the 64 KB method limit
    # and drops the streamed cover stage (Arrow UDF + Generate + join)
    # to interpreted mode. Filters on aggregate outputs are a pushdown
    # barrier, so this keeps the big streamed stage expression-free.
    return (
        scored.groupBy("point_id")
        .agg(best)
        .filter(F.col("_b").getField("dist_m") < F.lit(float(max_m)))
        .select(
            "point_id",
            F.col("_b.line_id").alias("line_id"),
            F.col("_b.seg_idx").alias("seg_idx"),
            F.col("_b.dist_m").alias("dist_m"),
            F.col("_b.c_lat").alias("c_lat"),
            F.col("_b.c_lng").alias("c_lng"),
        )
    )


def corridor_join(points: DataFrame, segments: DataFrame, max_m: float,
                  **kw) -> DataFrame:
    """Corridor join: every (probe point, polyline) pair whose
    closest-on-segment distance is under ``max_m`` meters — "which
    routes pass within d of this point" / "which points lie inside
    this route's corridor". The multi-zoom filter-refine plan of
    :func:`match_points_to_segments` with the argmin grouped per
    (point, line); see there for the scale analysis. Returns
    (point_id, line_id, seg_idx, dist_m, c_lat, c_lng) — one row per
    line within the corridor, nearest segment of that line.

    Reference analogue: L6 distance_to_polyline (polyline.h:79-96)
    lifted from a per-call scalar to a distributed all-pairs join."""
    return match_points_to_segments(points, segments, max_m,
                                    per_line=True, **kw)


# ---------------------------------------------------------------------------
# Box-overlap join — rectangle x rectangle spatial join (Q8 as a JOIN)
# ---------------------------------------------------------------------------
def _box_cover_cols(zoom: int, min_lat: str, min_lng: str,
                    max_lat: str, max_lng: str):
    """(tx1, tx2, ty1, ty2) integer tile ranges of a lat/lng box on the
    continuous mercator grid at ``zoom`` (closed ranges; lng=180 maps
    to tx=2^z unclamped, same convention as the reference tiles)."""
    from geospark.cells import ctile_x, ctile_y

    tx1 = F.floor(ctile_x(F.col(min_lng), zoom))
    tx2 = F.floor(ctile_x(F.col(max_lng), zoom))
    ty1 = F.floor(ctile_y(F.col(max_lat), zoom))   # y grows southward
    ty2 = F.floor(ctile_y(F.col(min_lat), zoom))
    return tx1, tx2, ty1, ty2


def box_overlap_join(a: DataFrame, b: DataFrame, zoom: int,
                     cover_limit: int = 64) -> DataFrame:
    """Join two rectangle relations on interior-overlap — the rectangle
    counterpart of pip_join, turning the reference's box::overlaps /
    box::contains predicates (box.h) into a distributed JOIN.

    Inputs both carry (box_id, min_lat, min_lng, max_lat, max_lng).
    Output: (id_a, id_b, a_contains_b, b_contains_a), one row per
    overlapping pair.

    Two-tier filter-refine (the classic large-object split of spatial
    join literature):

    - SMALL boxes (cover at ``zoom`` <= cover_limit cells) explode to
      their cover tiles with a pure-JVM sequence() — no UDF — and
      equi-join on (tile_x, tile_y); candidate pairs are deduped
      before the exact Column-predicate refine, so refine cost is one
      codegen pass over unique candidates.
    - BIG boxes (the long tail: continent-scale query windows) would
      explode the cover, so they broadcast-nested-loop against the
      other side instead. The three branches (bigA x allB,
      bigB x smallA, smallA x smallB) partition the pair space — no
      double counting, no pair missed.

    At 10^12 rows the small-small branch is one shuffle on tile keys
    (AQE skew-join handles hot cities); the big branches are bounded
    by the number of oversized boxes, which callers keep broadcast-
    small (query windows, admin regions)."""
    def prep(df: DataFrame, side: str):
        tx1, tx2, ty1, ty2 = _box_cover_cols(
            zoom, "min_lat", "min_lng", "max_lat", "max_lng")
        sel = df.select(
            F.col("box_id").alias(f"id_{side}"),
            F.col("min_lat").alias(f"{side}_min_lat"),
            F.col("min_lng").alias(f"{side}_min_lng"),
            F.col("max_lat").alias(f"{side}_max_lat"),
            F.col("max_lng").alias(f"{side}_max_lng"),
            tx1.alias("_tx1"), tx2.alias("_tx2"),
            ty1.alias("_ty1"), ty2.alias("_ty2"),
        ).withColumn(
            "_ncells",
            (F.col("_tx2") - F.col("_tx1") + 1)
            * (F.col("_ty2") - F.col("_ty1") + 1),
        )
        return sel

    def cover(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.explode(F.expr("sequence(_tx1, _tx2)")).alias("_tx"),
        ).select(
            "*",
            F.explode(F.expr("sequence(_ty1, _ty2)")).alias("_ty"),
        )

    pa, pb = prep(a, "a"), prep(b, "b")
    big_a = pa.filter(F.col("_ncells") > cover_limit)
    small_a = pa.filter(F.col("_ncells") <= cover_limit)
    big_b = pb.filter(F.col("_ncells") > cover_limit)
    small_b = pb.filter(F.col("_ncells") <= cover_limit)

    ac = [F.col(c) for c in ("a_min_lat", "a_min_lng",
                             "a_max_lat", "a_max_lng")]
    bc = [F.col(c) for c in ("b_min_lat", "b_min_lng",
                             "b_max_lat", "b_max_lng")]
    overlap = K.box_overlaps_box(*ac, *bc)

    drop = ["_tx1", "_tx2", "_ty1", "_ty2", "_ncells"]
    small_small = (
        cover(small_a).drop(*drop)
        .join(cover(small_b).drop(*drop), ["_tx", "_ty"])
        .dropDuplicates(["id_a", "id_b"])
        .filter(overlap)
        .drop("_tx", "_ty")
    )
    big_a_all = (
        F.broadcast(big_a.drop(*drop))
        .crossJoin(pb.drop(*drop))
        .filter(overlap)
    )
    small_a_big_b = (
        small_a.drop(*drop)
        .crossJoin(F.broadcast(big_b.drop(*drop)))
        .filter(overlap)
    )
    out = small_small.unionByName(big_a_all).unionByName(small_a_big_b)
    return out.select(
        "id_a", "id_b",
        K.box_contains_box(*ac, *bc).alias("a_contains_b"),
        K.box_contains_box(*bc, *ac).alias("b_contains_a"),
    )


# ---------------------------------------------------------------------------
# Segment-intersection join — exact line x line crossing detection
# ---------------------------------------------------------------------------
def _orient_sign(px, py, qx, qy, rx, ry):
    """sign of the 2D cross product (q-p) x (r-p): +1 / -1 / 0."""
    d = (qx - px) * (ry - py) - (qy - py) * (rx - px)
    return F.when(d > 0, F.lit(1)).when(d < 0, F.lit(-1)).otherwise(F.lit(0))


def segments_intersect_expr(prefix_a: str = "a_", prefix_b: str = "b_"):
    """Column predicate: do segments a and b intersect (touching
    counts)? Standard orientation test with collinear on-segment
    handling, in planar lat/lng space (same planar convention as the
    engine's default PIP winding). Pure codegen arithmetic — the
    DuckDB oracle evaluates the identical formula term for term."""
    ax0, ay0 = F.col(f"{prefix_a}f_lng"), F.col(f"{prefix_a}f_lat")
    ax1, ay1 = F.col(f"{prefix_a}t_lng"), F.col(f"{prefix_a}t_lat")
    bx0, by0 = F.col(f"{prefix_b}f_lng"), F.col(f"{prefix_b}f_lat")
    bx1, by1 = F.col(f"{prefix_b}t_lng"), F.col(f"{prefix_b}t_lat")
    o1 = _orient_sign(ax0, ay0, ax1, ay1, bx0, by0)
    o2 = _orient_sign(ax0, ay0, ax1, ay1, bx1, by1)
    o3 = _orient_sign(bx0, by0, bx1, by1, ax0, ay0)
    o4 = _orient_sign(bx0, by0, bx1, by1, ax1, ay1)

    def on_seg(px, py, qx, qy, rx, ry):
        # r collinear with pq already known; is r within pq's bbox?
        return (
            (rx >= F.least(px, qx)) & (rx <= F.greatest(px, qx))
            & (ry >= F.least(py, qy)) & (ry <= F.greatest(py, qy))
        )

    proper = (o1 != o2) & (o3 != o4)
    touch = (
        ((o1 == 0) & on_seg(ax0, ay0, ax1, ay1, bx0, by0))
        | ((o2 == 0) & on_seg(ax0, ay0, ax1, ay1, bx1, by1))
        | ((o3 == 0) & on_seg(bx0, by0, bx1, by1, ax0, ay0))
        | ((o4 == 0) & on_seg(bx0, by0, bx1, by1, ax1, ay1))
    )
    return proper | touch


def segment_intersection_join(a: DataFrame, b: DataFrame,
                              zoom: int = 14) -> DataFrame:
    """All intersecting segment pairs between two segment relations —
    the line-crossing join a road/trajectory engine needs (conflation,
    turn detection, trajectory x boundary crossings). Inputs carry
    (seg_id, f_lat, f_lng, t_lat, t_lng).

    Filter-refine: each side is scanline-supercover-rasterized to
    tiles at ``zoom`` (cells.segment_tile_cover — O(answer) JVM
    explode, no bbox blowup on long diagonals), candidates equi-join
    on the tile, dedup, then the exact orientation predicate refines.
    Two segments that intersect share the tile containing the
    intersection point, so the cover join is recall-complete."""
    from geospark.cells import segment_tile_cover

    def cov(df: DataFrame, side: str) -> DataFrame:
        pref = f"{side}_"
        sel = df.select(
            F.col("seg_id").alias(f"id_{side}"),
            F.col("f_lat").alias(f"{pref}f_lat"),
            F.col("f_lng").alias(f"{pref}f_lng"),
            F.col("t_lat").alias(f"{pref}t_lat"),
            F.col("t_lng").alias(f"{pref}t_lng"),
        )
        return segment_tile_cover(
            sel, zoom, lat0=f"{pref}f_lat", lng0=f"{pref}f_lng",
            lat1=f"{pref}t_lat", lng1=f"{pref}t_lng",
        )

    cand = (
        cov(a, "a")
        .join(cov(b, "b"), ["tile_x", "tile_y"])
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.filter(segments_intersect_expr())
        .select("id_a", "id_b")
    )

# ---------------------------------------------------------------------------
# Polygon x polygon overlap join — the missing pair in the join family
# (pip_join is point x polygon, box_overlap_join is rect x rect,
# segment_intersection_join is line x line)
# ---------------------------------------------------------------------------
def _ring_reps(rings: DataFrame, side: str,
               area: str, ring_col: str) -> DataFrame:
    """One representative vertex per RING (its first vertex). If no
    boundary crossing exists between two polygons, each ring lies
    wholly inside or outside the other polygon, so any single vertex
    decides containment for the whole ring; a representative lying ON
    the other boundary is already reported by the edge predicate
    (touch counts), so the strict even-odd test never has to resolve
    it."""
    return rings.select(
        F.col(area).alias(f"id_{side}"),
        F.monotonically_increasing_id().alias("_ring_uid"),
        F.element_at(F.col(ring_col), 1)["lat"].alias("_rep_lat"),
        F.element_at(F.col(ring_col), 1)["lng"].alias("_rep_lng"),
    )


def _even_odd_flag(pairs: DataFrame, reps: DataFrame, edges: DataFrame,
                   rep_side: str, edge_side: str, flag: str) -> DataFrame:
    """(id_a, id_b, flag): 1 iff ANY ring-representative of
    ``rep_side`` falls strictly inside the ``edge_side`` polygon by
    even-odd parity over ALL its rings (outer + holes together — the
    same half-open west-ray arithmetic as joins._ring_contains /
    geodata.ring_pip_sql, so oracles reproduce it term for term).
    Restricted to candidate ``pairs`` so cost is candidates x edges of
    the partner polygon, never all-pairs."""
    j = pairs.join(reps, f"id_{rep_side}").join(edges, f"id_{edge_side}")
    plat, plng = F.col("_rep_lat"), F.col("_rep_lng")
    y0, y1 = F.col("lat0"), F.col("lat1")
    x0, x1 = F.col("lng0"), F.col("lng1")
    crosses = (y0 > plat) != (y1 > plat)
    xint = (x1 - x0) * (plat - y0) / (y1 - y0) + x0
    hit = (crosses & (plng < xint)).cast("int")
    par = j.groupBy("id_a", "id_b", "_ring_uid").agg(
        (F.sum(hit) % 2).alias("_par")
    )
    return par.groupBy("id_a", "id_b").agg(F.max("_par").alias(flag))


def polygon_overlap_join(a: DataFrame, b: DataFrame, zoom: int = 6,
                         area_a: str = "area_id", ring_a: str = "ring",
                         area_b: str = "area_id",
                         ring_b: str = "ring") -> DataFrame:
    """All overlapping polygon pairs between two polygon layers —
    the overlay join (admin region x admin region, footprint x zone).
    Inputs carry one row per RING: (area_id, ring:
    array<struct<lat,lng>>) — outer rings and holes alike, hole
    membership by even-odd parity (Q15-equivalent for properly nested
    layers). Planar lat/lng space, closed semantics: touching counts.

    Exact decomposition: A and B overlap iff
      (1) an edge of A intersects an edge of B         [edge_cross], or
      (2) some ring of A lies strictly inside B        [a_in_b], or
      (3) some ring of B lies strictly inside A        [b_in_a].
    With no boundary crossing, every ring is wholly in or out of the
    other polygon, so (2)/(3) reduce to one even-odd test per ring
    representative; a hole ring inside the other polygon still
    witnesses overlap because the hole boundary belongs to the closed
    point set.

    Scale shape, three filter-refine relations (never all-pairs):
      - candidates: polygon_tile_cover at ``zoom`` (perimeter+area
        cost, exact "tile touches area") equi-joined on the tile —
        recall-complete because any shared point's tile is in both
        covers;
      - edge_cross: ring edges scanline-supercovered to tiles,
        equi-join, exact orientation refine (the
        segment_intersection_join plan inlined, keyed by polygon id);
      - containment: candidate pairs x partner edges, grouped parity.

    Output: (id_a, id_b, edge_cross, a_in_b, b_in_a) ints, one row
    per overlapping pair."""
    from geospark.cells import segment_tile_cover
    from geospark.raster import polygon_tile_cover, ring_edges

    a_rings = a.select(F.col(area_a).alias("area_id"),
                       F.col(ring_a).alias("ring"))
    b_rings = b.select(F.col(area_b).alias("area_id"),
                       F.col(ring_b).alias("ring"))

    cov_a = polygon_tile_cover(a_rings, zoom).select(
        F.col("area_id").alias("id_a"), "tile_x", "tile_y")
    cov_b = polygon_tile_cover(b_rings, zoom).select(
        F.col("area_id").alias("id_b"), "tile_x", "tile_y")
    cand = (
        cov_a.join(cov_b, ["tile_x", "tile_y"])
        .select("id_a", "id_b").distinct()
    )

    ea = ring_edges(a_rings).select(
        F.col("area_id").alias("id_a"),
        F.col("lat0").alias("a_f_lat"), F.col("lng0").alias("a_f_lng"),
        F.col("lat1").alias("a_t_lat"), F.col("lng1").alias("a_t_lng"),
    )
    eb = ring_edges(b_rings).select(
        F.col("area_id").alias("id_b"),
        F.col("lat0").alias("b_f_lat"), F.col("lng0").alias("b_f_lng"),
        F.col("lat1").alias("b_t_lat"), F.col("lng1").alias("b_t_lng"),
    )
    cov_ea = segment_tile_cover(ea, zoom, lat0="a_f_lat", lng0="a_f_lng",
                                lat1="a_t_lat", lng1="a_t_lng")
    cov_eb = segment_tile_cover(eb, zoom, lat0="b_f_lat", lng0="b_f_lng",
                                lat1="b_t_lat", lng1="b_t_lng")
    cross = (
        cov_ea.join(cov_eb, ["tile_x", "tile_y"])
        .filter(segments_intersect_expr())
        .select("id_a", "id_b").distinct()
        .withColumn("edge_cross", F.lit(1))
    )

    reps_a = _ring_reps(a_rings, "a", "area_id", "ring")
    reps_b = _ring_reps(b_rings, "b", "area_id", "ring")
    edges_a = ring_edges(a_rings).select(
        F.col("area_id").alias("id_a"), "lat0", "lng0", "lat1", "lng1")
    edges_b = ring_edges(b_rings).select(
        F.col("area_id").alias("id_b"), "lat0", "lng0", "lat1", "lng1")
    a_in_b = _even_odd_flag(cand, reps_a, edges_b, "a", "b", "a_in_b")
    b_in_a = _even_odd_flag(cand, reps_b, edges_a, "b", "a", "b_in_a")

    flags = (
        cand.join(cross, ["id_a", "id_b"], "left")
        .join(a_in_b, ["id_a", "id_b"], "left")
        .join(b_in_a, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b",
            F.coalesce("edge_cross", F.lit(0)).alias("edge_cross"),
            F.coalesce("a_in_b", F.lit(0)).cast("int").alias("a_in_b"),
            F.coalesce("b_in_a", F.lit(0)).cast("int").alias("b_in_a"),
        )
    )
    return flags.filter(
        (F.col("edge_cross") + F.col("a_in_b") + F.col("b_in_a")) > 0
    )


def polygon_dissolve(rings: DataFrame, zoom: int = 6,
                     area: str = "area_id",
                     ring_col: str = "ring") -> DataFrame:
    """GIS dissolve: label every polygon with its overlap COMPONENT —
    transitively overlapping polygons (closed semantics, touching
    counts) share a component id (the min area_id, the engine's
    canonical labeling). Output: (area_id, component, is_merged).

    Composition of two existing scale shapes: the polygon x polygon
    overlap self-join supplies the edge relation (tile-cover
    candidates, exact refine), graph.connected_components contracts
    it in O(log n) large/small-star rounds — no driver geometry, no
    all-pairs stage anywhere. Isolated polygons keep their own id
    (coalesce on the left join, the CC contract)."""
    from geospark.graph import connected_components

    pairs = (
        polygon_overlap_join(rings, rings, zoom,
                             area_a=area, ring_a=ring_col,
                             area_b=area, ring_b=ring_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs, "id_a", "id_b")
    ids = rings.select(F.col(area).alias("area_id")).distinct()
    return ids.join(
        cc.withColumnRenamed("node", "area_id"), "area_id", "left"
    ).select(
        "area_id",
        F.coalesce("component", "area_id").alias("component"),
        (F.col("component").isNotNull()).cast("int").alias("is_merged"),
    )
