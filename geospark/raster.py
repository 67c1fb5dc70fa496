"""Polygon rasterization — area -> tile cover with boundary/interior
classification. The vector->raster half for AREAS (segment_tile_cover
is the line half; tile_rollup the raster side). Reference analogue:
the area_db cell cover build (/root/reference/include/geo/area_db.h,
SURVEY Q13) lifted from a per-polygon bbox cover to an exact
per-tile classification.

Algorithm, entirely relational (no UDF, no driver geometry):

  boundary  = scanline supercover of every ring edge
              (cells.segment_tile_cover — output-linear);
  interior  = per tile-row parity fill: each edge contributes its
              crossing x at the row's CENTER line y = ty + 0.5 under
              the half-open rule min(y) <= yc < max(y) (vertex-safe,
              even crossing count per closed ring); per (area, row)
              the sorted crossings pair up into in-intervals, and the
              tiles whose centers fall strictly inside an interval
              explode from one sequence(). Holes need no special
              case — their edges flip parity like any others.

  covered tile == boundary tile OR center-inside tile: a tile
  partially covered without an edge inside it cannot exist, so the
  union is exact for "tile touches area".

Scale shape: edges explode once (output-linear), crossings shuffle
once on (area_id, tile_y) for the sort-and-pair, tiles explode from
sequences — no bbox enumeration anywhere, so a continent-sized
polygon at z15 costs its perimeter + its area in TILES, not the
bbox rectangle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geospark.cells import ctile_x, ctile_y, segment_tile_cover


def ring_edges(rings: DataFrame, area: str = "area_id",
               ring_col: str = "ring") -> DataFrame:
    """(area_id, lat0, lng0, lat1, lng1) for every edge of every ring
    (closed implicitly: last vertex connects back to the first)."""
    e = rings.select(
        area, ring_col, F.posexplode(ring_col).alias("_i", "_v")
    )
    nxt = F.element_at(
        F.col(ring_col), (F.pmod(F.col("_i") + 1, F.size(ring_col)) + 1)
        .cast("int")
    )
    return e.select(
        area,
        F.col("_v.lat").alias("lat0"), F.col("_v.lng").alias("lng0"),
        nxt["lat"].alias("lat1"), nxt["lng"].alias("lng1"),
    )


def polygon_tile_cover(rings: DataFrame, zoom: int,
                       area: str = "area_id",
                       ring_col: str = "ring") -> DataFrame:
    """(area_id, tile_x, tile_y, kind) — kind is 'boundary' (an edge
    passes through the tile) or 'interior' (tile center strictly
    inside; holes excluded by parity). ``rings`` carries one row per
    ring — outer rings and holes alike — as array<struct<lat,lng>>."""
    edges = ring_edges(rings, area, ring_col)

    boundary = (
        segment_tile_cover(edges, zoom)
        .select(area, "tile_x", "tile_y")
        .distinct()
        .withColumn("kind", F.lit("boundary"))
    )

    # crossings of each edge with every tile-row CENTER line it spans
    px = edges.withColumns({
        "_px0": ctile_x(F.col("lng0"), zoom),
        "_py0": ctile_y(F.col("lat0"), zoom),
        "_px1": ctile_x(F.col("lng1"), zoom),
        "_py1": ctile_y(F.col("lat1"), zoom),
    })
    rows = px.withColumn(
        "tile_y",
        F.explode(F.sequence(
            F.floor(F.least("_py0", "_py1")),
            F.floor(F.greatest("_py0", "_py1")),
        )),
    )
    yc = F.col("tile_y").cast("double") + F.lit(0.5)
    crossed = rows.filter(
        (F.least("_py0", "_py1") <= yc) & (F.greatest("_py0", "_py1") > yc)
    ).withColumn(
        "_cx",
        F.col("_px0") + (F.col("_px1") - F.col("_px0"))
        * (yc - F.col("_py0")) / (F.col("_py1") - F.col("_py0")),
    )

    # parity pairing: sorted crossings per (area, row); even index
    # opens an inside-interval, the next closes it
    xs = crossed.groupBy(area, "tile_y").agg(
        F.array_sort(F.collect_list("_cx")).alias("_xs")
    )
    pairs = (
        xs.select(area, "tile_y", F.posexplode("_xs").alias("_p", "_x"))
        .withColumn("_pair", F.floor(F.col("_p") / 2))
        .groupBy(area, "tile_y", "_pair")
        .agg(F.min("_x").alias("_a"), F.max("_x").alias("_b"))
    )
    interior = (
        pairs.withColumns({
            "_txlo": F.floor(F.col("_a") - 0.5) + 1,
            "_txhi": F.ceil(F.col("_b") - 0.5) - 1,
        })
        .filter(F.col("_txlo") <= F.col("_txhi"))
        .withColumn("tile_x", F.explode(F.sequence("_txlo", "_txhi")))
        .select(area, "tile_x", "tile_y")
        .withColumn("kind", F.lit("interior"))
    )

    interior_only = interior.join(
        boundary.select(area, "tile_x", "tile_y"),
        [area, "tile_x", "tile_y"], "left_anti"
    )
    return boundary.unionByName(interior_only)


def vectorize_tiles(tiles: DataFrame, area: str = "area_id",
                    tile_x: str = "tile_x",
                    tile_y: str = "tile_y") -> DataFrame:
    """Raster -> vector: exact greedy rectangle decomposition of a
    tile set, per area — the inverse direction of the rasterizers
    above (the raster<->vector round trip: polygon_tile_cover /
    segment_tile_cover go vector->raster, this goes back).

    Two gaps-and-islands passes, all relational:

      1. maximal horizontal RUNS: within an (area, tile_y) row,
         consecutive tile_x values share ``tile_x - row_number()``;
      2. runs with identical [x0, x1] extent in consecutive rows
         merge vertically the same way on ``tile_y - row_number()``.

    Output ``(area, x0, x1, y0, y1, n_tiles)``: rectangles are
    disjoint and their union is exactly the input tile set (tested by
    round-trip re-explosion). Deterministic — the decomposition is a
    pure function of the set. Scale shape: both windows partition at
    tile-row / run-extent granularity (millions of small partitions,
    never one global sort), and each pass is one shuffle.
    """
    w1 = Window.partitionBy(area, tile_y).orderBy(tile_x)
    runs = (
        tiles.select(area, tile_x, tile_y)
        .withColumn("_rk", F.col(tile_x) - F.row_number().over(w1))
        .groupBy(area, tile_y, "_rk")
        .agg(F.min(tile_x).alias("x0"), F.max(tile_x).alias("x1"))
    )
    w2 = Window.partitionBy(area, "x0", "x1").orderBy(tile_y)
    return (
        runs
        .withColumn("_ck", F.col(tile_y) - F.row_number().over(w2))
        .groupBy(area, "x0", "x1", "_ck")
        .agg(F.min(tile_y).alias("y0"), F.max(tile_y).alias("y1"))
        .select(
            area, "x0", "x1", "y0", "y1",
            ((F.col("x1") - F.col("x0") + 1)
             * (F.col("y1") - F.col("y0") + 1)).alias("n_tiles"),
        )
    )


def idw_interpolate(points: DataFrame, centers: DataFrame,
                    radius_m: float, value_col: str = "value",
                    scale: int = 10 ** 15,
                    min_d_cm: int = 100) -> DataFrame:
    """Inverse-distance-weighted interpolation of a point measure onto
    a target grid — the classic spatial-analytics surface estimator
    (Shepard 1968, power 2). For each center, samples within
    ``radius_m`` contribute weight 1/d^2 and the estimate is the
    weighted mean of their values.

    INTEGER-EXACT formulation (the module's engine-neutral
    discipline): distances floor to centimeters (clamped at
    ``min_d_cm`` so coincident points can't blow the weight up),
    weights are ``scale DIV d_cm^2`` BIGINTs, values floor to cents —
    so the weighted sums are associative integer adds, immune to
    float summation order in any engine, and the estimate is one
    deterministic integer division with TRUNCATION-TOWARD-ZERO
    semantics (Spark DIV == DuckDB integer division; for negative
    value sums this differs from Python's flooring ``//`` by at most
    one cent — pinned by test_idw_negative_values). With the defaults
    a 300 km radius
    keeps d_cm^2 <= 9e14 < scale (weights >= 1, never all-zero) and
    w * v_cents <= ~5e13 per pair — 1e5 overflow headroom on the sum.

    Plan: one filter-refine radius join (radius_join_df — per-center
    cell cover, broadcast of the exploded centers, exact haversine
    refine) followed by one partial-agg shuffle keyed by center. Returns
    (query_id, n_samples, den_w, est_cents); est_cents = NULL is
    impossible (den_w >= n_samples >= 1 by the weight floor).

    Reference analogue: Q2 in_radius_with_distance
    (src/point_rtree.cc:21-36) feeding a weighted aggregate instead
    of a sorted candidate list."""
    from geospark.joins import radius_join_df

    pairs = radius_join_df(points, centers, radius_m, broadcast_centers=True)
    d_cm = F.greatest(
        F.floor(F.col("dist_m") * 100.0).cast("long"),
        F.lit(int(min_d_cm)).cast("long"),
    )
    return (
        pairs.withColumn("_d_cm", d_cm)
        .withColumn("_w", F.expr(f"{int(scale)}L DIV (_d_cm * _d_cm)"))
        .withColumn("_v", F.floor(F.col(value_col) * 100.0).cast("long"))
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_samples"),
            F.sum("_w").alias("den_w"),
            F.sum(F.col("_w") * F.col("_v")).alias("_num"),
        )
        .select(
            "query_id", "n_samples", "den_w",
            F.expr("_num DIV den_w").alias("est_cents"),
        )
    )
