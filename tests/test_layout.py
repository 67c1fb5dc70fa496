"""Cell-sorted layout: correctness of pruned scans + filters reaching
the parquet scan (the R-tree-replacement claim, SURVEY Q1)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geospark.cells import with_linear_cell_at_zoom
from geospark.layout import _prefix_of, write_cell_sorted


def scan_cells(spark, path: str, cells: list[int], zoom: int) -> DataFrame:
    """Read only the rows in ``cells``: the filter reaches the parquet
    scan (PushedFilters) so row groups outside the cell range never
    decompress, and the coarse-prefix dir partition prunes files."""
    df = spark.read.parquet(path)
    prefixes = sorted({_prefix_of(c, zoom) for c in cells})
    return df.filter(
        F.col("cell_prefix").isin(prefixes) & F.col("cell").isin(cells)
    )


def scan_cell_range(spark, path: str, cell_min: int,
                    cell_max: int) -> DataFrame:
    """Contiguous cell-range scan (linear ids are row-major, so a
    lat-band is a small number of ranges)."""
    df = spark.read.parquet(path)
    return df.filter(
        (F.col("cell") >= cell_min) & (F.col("cell") <= cell_max)
    )


def _points(spark, n=5000):
    return spark.range(n).select(
        F.col("id").alias("point_id"),
        ((F.col("id") * 7919) % 16000 / 100.0 - 80.0).alias("lat"),
        ((F.col("id") * 104729) % 36000 / 100.0 - 180.0).alias("lng"),
    )


def test_scan_cells_correct_and_pushed(spark, tmp_path):
    path = str(tmp_path / "pts")
    pts = _points(spark)
    write_cell_sorted(pts, path, zoom=8, partitions=4)

    # pick the 3 most common cells as the probe set
    celled = with_linear_cell_at_zoom(pts, 8, col="cell")
    top = [
        r["cell"]
        for r in celled.groupBy("cell").count().orderBy(F.desc("count")).limit(3).collect()
    ]
    got = scan_cells(spark, path, top, zoom=8)
    expect = celled.filter(F.col("cell").isin(top))
    assert sorted(r["point_id"] for r in got.collect()) == sorted(
        r["point_id"] for r in expect.collect()
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    txt = buf.getvalue()
    assert "PushedFilters" in txt
    assert "cell" in txt.split("PushedFilters")[1][:200]
    # dir-partition pruning on the coarse prefix
    assert "cell_prefix" in txt


def test_scan_cell_range(spark, tmp_path):
    path = str(tmp_path / "pts2")
    pts = _points(spark, 2000)
    write_cell_sorted(pts, path, zoom=8, partitions=4)
    celled = with_linear_cell_at_zoom(pts, 8, col="cell")
    lo, hi = 30000, 40000
    got = sorted(
        r["point_id"] for r in scan_cell_range(spark, path, lo, hi).collect()
    )
    expect = sorted(
        r["point_id"]
        for r in celled.filter((F.col("cell") >= lo) & (F.col("cell") <= hi)).collect()
    )
    assert got == expect


def test_prefix_of_matches_column(spark, tmp_path):
    path = str(tmp_path / "pts3")
    pts = _points(spark, 500)
    write_cell_sorted(pts, path, zoom=8, partitions=2)
    df = spark.read.parquet(path).select("cell", "cell_prefix").collect()
    for r in df:
        assert _prefix_of(r["cell"], 8) == r["cell_prefix"]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two cell-bucketed tables must join on cell WITHOUT an Exchange
    on either side (the pay-shuffle-once layout for repeated joins)."""
    import io
    from contextlib import redirect_stdout

    from geospark.layout import write_cell_bucketed

    pts = _points(spark, 3000)
    write_cell_bucketed(pts, "t_buck_a", str(tmp_path / "ba"), n_buckets=8, zoom=8)
    write_cell_bucketed(pts, "t_buck_b", str(tmp_path / "bb"), n_buckets=8, zoom=8)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark.table("t_buck_a").alias("a")
            b = spark.table("t_buck_b").alias("b")
            joined = a.join(b, "cell").groupBy("cell").count()
            buf = io.StringIO()
            with redirect_stdout(buf):
                joined.explain("formatted")
            txt = buf.getvalue()
            assert "Exchange" not in txt, txt
            # and the join is correct
            n = joined.count()
            assert n > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_buck_a")
        spark.sql("DROP TABLE IF EXISTS t_buck_b")
