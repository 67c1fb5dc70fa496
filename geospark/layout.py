"""Spatial data layout: the engine's replacement for the reference's
R-tree indexes (SURVEY §2.6 Q1, §4 'Spatial indexing').

``make_point_rtree`` (src/point_rtree.cc:15-19) bulk-loads an
in-memory R-tree; here the TABLE IS THE INDEX: points are written
range-partitioned + sorted by the linear cell id, so

- parquet column stats (min/max cell per row group) turn any cell
  filter into row-group pruning at scan time — the distributed
  analogue of R-tree node descent;
- file-level partitioning on a coarse cell prefix prunes whole files;
- cell-keyed joins hit co-located, sorted runs (no extra shuffle when
  both sides share the layout).

At Iceberg-table scale the same layout is declared once as the table
sort order (``WRITE ORDERED BY cell``) and every writer maintains it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geospark.cells import CELL_ZOOM, with_linear_cell_at_zoom

PREFIX_ZOOM = 4  # file-partition granularity: 256 coarse cells


def write_cell_sorted(points: DataFrame, path: str,
                      lat: str = "lat", lng: str = "lng",
                      zoom: int = CELL_ZOOM,
                      partitions: int | None = None) -> None:
    """Write points as a cell-sorted parquet table:
    dir partitioned by the coarse prefix cell, rows range-partitioned
    and sorted by the full-resolution cell."""
    df = with_linear_cell_at_zoom(points, zoom, lat, lng, "cell")
    df = df.withColumn(
        "cell_prefix",
        F.shiftleft(
            F.shiftright(F.col("cell"), zoom + (zoom - PREFIX_ZOOM)), PREFIX_ZOOM
        ) + F.pmod(F.shiftright(F.col("cell"), zoom - PREFIX_ZOOM),
                   F.lit(1 << PREFIX_ZOOM)),
    )
    n = partitions or points.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, "cell")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell_prefix")
        .parquet(path)
    )


def write_cell_bucketed(points: DataFrame, table_name: str, path: str,
                        n_buckets: int = 64, zoom: int = CELL_ZOOM,
                        lat: str = "lat", lng: str = "lng") -> None:
    """Write points as a cell-BUCKETED table: two tables bucketed the
    same way join and aggregate on ``cell`` with NO shuffle of either
    side (bucket pruning + co-located reads replace the exchange).
    This is the repeated-join layout at 100 TB — pay the shuffle once
    at write time, every subsequent cell join is exchange-free. The
    Iceberg equivalent is the ``bucket(n, cell)`` partition transform
    plus storage-partitioned joins."""
    df = with_linear_cell_at_zoom(points, zoom, lat, lng, "cell")
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .saveAsTable(table_name)
    )


def _prefix_of(cell: int, zoom: int) -> int:
    tx = cell % (1 << zoom)
    ty = cell >> zoom
    d = zoom - PREFIX_ZOOM
    return ((ty >> d) << PREFIX_ZOOM) + (tx >> d)
