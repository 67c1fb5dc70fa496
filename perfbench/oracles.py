"""Answers computed outside the measured path, by brute force in
numpy/pandas over the generated inputs. None of them calls the
geospark operator it checks; from geospark they take only the demo
polygons and the mercator constants. The ray cast and the tile
formula follow the SQL twins in ``geospark.geodata`` operation for
operation (the DuckDB form of the ray cast took minutes per run)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from geospark import geodata as G
from geospark.functions import kernels as K

COORD_RE = r"coord: (-?\d+\.\d{6}), (-?\d+\.\d{6})"


def _ring_parity(ring: np.ndarray, lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Even-odd ray crossing of one (lat, lng) ring for points sorted by
    ``lat``. An edge can only flip points with min(y) <= lat < max(y),
    a contiguous slice of the sorted points; the crossing abscissa is
    the same expression, in the same operation order, as
    ``geodata.ring_pip_sql``."""
    ys, xs = ring[:, 0], ring[:, 1]
    inside = np.zeros(lat.size, dtype=bool)
    for y1, x1, y2, x2 in zip(ys, xs, np.roll(ys, -1), np.roll(xs, -1)):
        if y1 == y2:
            continue
        lo, hi = np.searchsorted(lat, [min(y1, y2), max(y1, y2)], side="left")
        xint = (x2 - x1) * (lat[lo:hi] - y1) / (y2 - y1) + x1
        inside[lo:hi] ^= lng[lo:hi] < xint
    return inside


def demo_area_hits(lat: np.ndarray, lng: np.ndarray) -> list[tuple[int, np.ndarray]]:
    """(area_id, index array of the points inside it) for every
    (densified) demo area: outer rings minus their holes."""
    order = np.argsort(lat, kind="stable")
    slat, slng = lat[order], lng[order]
    out = []
    for area in G.demo_areas():
        inside = np.zeros(lat.size, dtype=bool)
        for outer, holes in zip(area.outers, area.inners):
            ring_in = _ring_parity(np.asarray(outer, np.float64), slat, slng)
            for h in holes:
                ring_in &= ~_ring_parity(np.asarray(h, np.float64), slat, slng)
            inside |= ring_in
        out.append((area.area_id, np.sort(order[inside])))
    return out


def tile_xy(lat: np.ndarray, lng: np.ndarray, zoom: int,
            tile_size: int = 4096) -> tuple[np.ndarray, np.ndarray]:
    """Web-mercator tile of each point: x truncates, y rounds, as in
    ``geodata.tile_x_sql`` / ``tile_y_sql``."""
    res = K.resolution(zoom, tile_size)
    px = np.trunc((K.MERC_EARTH_RADIUS * np.radians(lng) + K.MERC_ORIGIN_SHIFT) / res)
    s = np.sin(np.radians(np.clip(lat, -K.MERC_MAX_LATITUDE, K.MERC_MAX_LATITUDE)))
    my = K.MERC_EARTH_RADIUS * np.log((1.0 + s) / (1.0 - s)) / 2.0
    py = np.floor(float(K.map_size(zoom, tile_size)) - (my + K.MERC_ORIGIN_SHIFT) / res + 0.5)
    return (np.floor(px / tile_size).astype(np.int64),
            np.floor(py / tile_size).astype(np.int64))


def flagship_counts(pages: str | list[str], zoom: int) -> list[tuple]:
    """Points per (area, tile) for the pages in a parquet directory or
    list of files."""
    texts = pq.ParquetDataset(pages).read(columns=["text"]).column("text").to_pylist()
    coords = np.array(re.findall(COORD_RE, "\n".join(texts)), dtype=np.float64)
    lat, lng = coords[:, 0], coords[:, 1]
    tx, ty = tile_xy(lat, lng, zoom)
    keys = [np.stack([np.full(idx.size, aid), tx[idx], ty[idx]], axis=1)
            for aid, idx in demo_area_hits(lat, lng)]
    rows, n = np.unique(np.concatenate(keys), axis=0, return_counts=True)
    return [(int(a), int(x), int(y), int(c)) for (a, x, y), c in zip(rows, n)]


def pip_pairs(points: pd.DataFrame) -> set[tuple[int, int]]:
    """(point_id, area_id) for every point inside a demo area."""
    ids = points.point_id.to_numpy()
    return {(int(i), aid)
            for aid, idx in demo_area_hits(points.lat.to_numpy(), points.lng.to_numpy())
            for i in ids[idx]}


def haversine(lat1, lng1, lat2, lng2) -> np.ndarray:
    dlat = np.radians(lat2 - lat1) / 2.0
    dlng = np.radians(lng2 - lng1) / 2.0
    a = (np.sin(dlat) ** 2
         + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlng) ** 2)
    return 2.0 * K.EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(a)))


def box_overlaps(a: pd.DataFrame, b: pd.DataFrame) -> dict[tuple[int, int], tuple[bool, bool]]:
    """(id_a, id_b) -> (a contains b, b contains a) for every pair of
    closed boxes that intersect."""
    out = {}
    b_lo_lat, b_lo_lng = b.min_lat.to_numpy(), b.min_lng.to_numpy()
    b_hi_lat, b_hi_lng = b.max_lat.to_numpy(), b.max_lng.to_numpy()
    b_ids = b.box_id.to_numpy()
    for r in a.itertuples(index=False):
        hit = ((r.min_lat <= b_hi_lat) & (r.max_lat >= b_lo_lat)
               & (r.min_lng <= b_hi_lng) & (r.max_lng >= b_lo_lng))
        for j in np.flatnonzero(hit):
            a_has_b = (b_lo_lat[j] >= r.min_lat and b_hi_lat[j] <= r.max_lat
                       and b_lo_lng[j] >= r.min_lng and b_hi_lng[j] <= r.max_lng)
            b_has_a = (r.min_lat >= b_lo_lat[j] and r.max_lat <= b_hi_lat[j]
                       and r.min_lng >= b_lo_lng[j] and r.max_lng <= b_hi_lng[j])
            out[(int(r.box_id), int(b_ids[j]))] = (bool(a_has_b), bool(b_has_a))
    return out


def shingle_set(text: str, n: int = 3) -> frozenset:
    toks = text.split()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)
