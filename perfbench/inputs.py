"""Seeded input generators.

Every input is a pure function of ``seed``; the program under test only
ever sees the parquet files written here. Generation runs in the
benchmark process with numpy/pyarrow (no Spark job), so its cost is
the ``pages.synth_s`` part of set-up.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from geospark.pages import (
    synth_documents_batch,
    synth_embeddings_batch,
    synth_pages_batch,
)

# seed s owns page ids [s * PAGE_ID_STRIDE, s * PAGE_ID_STRIDE + n):
# synth_pages always starts at id 0, synth_pages_batch is a pure
# function of the id, so offsetting the range is what makes pages
# differ per seed
PAGE_ID_STRIDE = 10_000_000


def write_parquet(df: pd.DataFrame, path: str, n_files: int) -> str:
    """Write ``df`` as ``n_files`` parquet files under ``path`` (one
    file per scan split, so every core gets a share of the scan)."""
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(tbl.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       f"{path}/part-{k:03d}.parquet")
    return path


def pages(path: str, seed: int, n_pages: int, n_files: int) -> str:
    ids = np.arange(n_pages, dtype=np.int64) + seed * PAGE_ID_STRIDE
    os.makedirs(path, exist_ok=True)
    for k, chunk in enumerate(np.array_split(ids, n_files)):
        pq.write_table(pa.Table.from_batches([synth_pages_batch(chunk)]),
                       f"{path}/part-{k:03d}.parquet")
    return path


def _cities(n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fixed city centres over the inhabited latitudes plus Zipf (s=1)
    weights. The cities stay the same for every seed so that the work
    (hot-city size, how many points fall inside the demo areas) is
    alike across seeds; the seed draws the points around them."""
    rng = np.random.default_rng(0)
    lat = rng.uniform(-45.0, 62.0, n)
    lng = rng.uniform(-125.0, 155.0, n)
    w = 1.0 / np.arange(1, n + 1)
    return lat, lng, w / w.sum()


def spatial(seed: int, n_points: int, n_centers: int, n_boxes: int) -> dict[str, pd.DataFrame]:
    """City-skewed points plus the query sides of the spatial operators:
    radius/kNN centres, two box relations (a few continent-sized boxes
    among city-sized ones), a z=12 tile-count table and a small
    dimension table keyed by the points' 0.5-degree grid cell."""
    rng = np.random.default_rng(seed)
    c_lat, c_lng, w = _cities(64)
    city = rng.choice(len(w), n_points, p=w)
    lat = np.round(c_lat[city] + rng.normal(0.0, 0.08, n_points), 6)
    lng = np.round(c_lng[city] + rng.normal(0.0, 0.08, n_points), 6)
    cell = (np.floor((lat + 90.0) * 2).astype(np.int64) * 1000
            + np.floor((lng + 180.0) * 2).astype(np.int64))
    points = pd.DataFrame({"point_id": np.arange(n_points, dtype=np.int64),
                           "lat": lat, "lng": lng, "cell": cell})

    pick = rng.choice(n_points, n_centers, replace=False)
    centers = pd.DataFrame({
        "query_id": np.arange(n_centers, dtype=np.int64),
        "q_lat": np.round(lat[pick] + rng.normal(0.0, 0.01, n_centers), 6),
        "q_lng": np.round(lng[pick] + rng.normal(0.0, 0.01, n_centers), 6),
    })

    def boxes(n: int) -> pd.DataFrame:
        at = rng.choice(n_points, n)
        h = rng.uniform(0.002, 0.05, n)
        wd = rng.uniform(0.002, 0.05, n)
        big = rng.random(n) < 0.005
        h[big], wd[big] = rng.uniform(5.0, 20.0, big.sum()), rng.uniform(5.0, 20.0, big.sum())
        return pd.DataFrame({
            "box_id": np.arange(n, dtype=np.int64),
            "min_lat": np.round(lat[at] - h, 6), "min_lng": np.round(lng[at] - wd, 6),
            "max_lat": np.round(lat[at] + h, 6), "max_lng": np.round(lng[at] + wd, 6),
        })

    z = 12
    tx = np.floor((lng + 180.0) / 360.0 * (1 << z)).astype(np.int64)
    ty = np.floor((90.0 - lat) / 180.0 * (1 << z)).astype(np.int64)
    tiles = (pd.DataFrame({"tile_x": tx, "tile_y": ty})
             .groupby(["tile_x", "tile_y"]).size().rename("n").reset_index())
    tiles["n"] = tiles["n"].astype(np.int64)

    cells = np.unique(cell)
    dim = pd.DataFrame({"cell": cells,
                        "region": rng.integers(0, 1000, len(cells)).astype(np.int64)})
    return {"points": points, "centers": centers, "boxes_a": boxes(n_boxes),
            "boxes_b": boxes(n_boxes), "tiles": tiles, "dim": dim}


def polygons() -> pd.DataFrame:
    """The densified demo layer as a polygon table
    (``sources.POLYGON_TABLE_SCHEMA``), built without a Spark job."""
    from geospark.geodata import demo_areas

    rows = []
    for a in demo_areas():
        for oi, (outer, holes) in enumerate(zip(a.outers, a.inners)):
            for kind, ri, ring in [("outer", 0, outer), *(("inner", ri, h) for ri, h in enumerate(holes))]:
                rows += [(a.area_id, oi, kind, ri, seq, float(la), float(ln))
                         for seq, (la, ln) in enumerate(ring)]
    df = pd.DataFrame(rows, columns=["area_id", "outer_idx", "ring_kind", "ring_idx",
                                     "seq", "lat", "lng"])
    return df.astype({"outer_idx": np.int32, "ring_idx": np.int32, "seq": np.int32})


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """synth_documents rows (planted exact and near duplicates) with a
    seed-dependent vocabulary size, so every token differs per seed,
    and doc ids relabelled by a seeded permutation."""
    rng = np.random.default_rng(seed)
    b = synth_documents_batch(np.arange(n_docs), n_docs, vocab=50_000 + seed)
    perm = rng.permutation(n_docs).astype(np.int64)
    return pd.DataFrame({"doc_id": perm[b.column(0).to_numpy()],
                         "text": b.column(1).to_pylist()})


def embeddings(seed: int, n_vecs: int, dim: int) -> pd.DataFrame:
    """synth_embeddings rows (planted near duplicates, cos >= 0.9 to
    their source) under a seeded random rotation, which keeps every
    cosine, with ids relabelled by a seeded permutation.
    ``src_id`` names the planted group: the source's id for a source
    and its duplicates, the vector's own id otherwise."""
    rng = np.random.default_rng(seed)
    b = synth_embeddings_batch(np.arange(n_vecs), n_vecs, dim)
    vecs = np.asarray(b.column(1).flatten().to_numpy(), np.float64).reshape(n_vecs, dim)
    q, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    vecs = (vecs @ q).astype(np.float32)
    perm = rng.permutation(n_vecs).astype(np.int64)
    return pd.DataFrame({
        "vec_id": perm[b.column(0).to_numpy()],
        "embedding": list(vecs),
        "src_id": perm[b.column(2).to_numpy()],
    })
