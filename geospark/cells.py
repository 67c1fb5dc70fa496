"""Cell & tile assignment over point DataFrames, plus tile-range
relations (reference: tile.h / src/tile.cc; SURVEY §2.2 P11-P15).

The quadkey Morton cell (S10, ``src/latlng.cc:75-96``) is the engine's
spatial index: cell-keyed layout + hash joins replace the reference's
R-trees. Everything here is pure Column expressions inside whole-stage
codegen — zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geospark.functions import kernels as K

CELL_ZOOM = 16  # tile_hash_32's fixed zoom (src/latlng.cc:78)


def with_cell_at_zoom(df: DataFrame, zoom: int, lat: str = "lat",
                      lng: str = "lng", col: str = "cell") -> DataFrame:
    """Append the Morton cell at ``zoom`` — STAGED: the z=16 pixel
    coords materialize as intermediate columns before the bit-spread.

    Why staging matters: the Morton spread references its input ~5x
    per step; as one Column tree that duplicates the trig-heavy
    webmercator projection exponentially, and once the expression
    lands in a join stage it can fall out of codegen/CSE and cost
    ~100x (measured: 54s -> 0.5s per 12M rows). As named columns,
    CollapseProject keeps the projection separate (non-cheap expr
    referenced multiple times) and the spread reads a LongType column.
    """
    px = K.merc_to_pixel_x(K.latlng_to_merc_x(F.col(lng)), 16, tile_size=1)
    py = K.merc_to_pixel_y(K.latlng_to_merc_y(F.col(lat)), 16, tile_size=1)
    staged = df.withColumn("__px16", px).withColumn("__py16", py)
    cell = K._morton_spread_16(F.col("__px16")).bitwiseOR(
        F.shiftleft(K._morton_spread_16(F.col("__py16")), 1)
    )
    if zoom < CELL_ZOOM:
        cell = F.shiftright(cell, 2 * (CELL_ZOOM - zoom))
    return staged.withColumn(col, cell).drop("__px16", "__py16")


def with_linear_cell_at_zoom(df: DataFrame, zoom: int, lat: str = "lat",
                             lng: str = "lng", col: str = "cell") -> DataFrame:
    """Append the LINEAR cell id ``ty*2^z + tx`` at ``zoom`` (same
    tiling as the Morton cell — identical (tx, ty) in z=16-prefix
    space — just a different bijective numbering).

    This is the id the JOIN plans use: join-key evaluation inside
    BroadcastHashJoin does no subexpression elimination, so the key
    expression gets fully inlined per row — the Morton spread
    references its input ~32x (measured 40s/12M rows inlined in a join
    key) while this references each pixel coordinate exactly once
    (~2s/12M). Morton (S10 parity, prefix algebra) stays the public
    cell; linear is the physical join key.

    ``zoom`` <= 16 derives from the z=16 pixel (bit-compatible with the
    S10 quadkey prefix space); zoom > 16 projects directly at the
    requested zoom — a finer uniform grid for sub-cell-size
    neighborhood joins (tiny cluster radii), not a quadkey level.

    The row is clamped to 2^z - 1: latitudes at or below -85.0511 (and
    the half pixel above) round to row 2^z, which no cover reaches.
    ``joins.cell_tile_of_latlng``, the numpy twin, clamps the same way;
    the Morton cell keeps S10's unclamped row."""
    pz = max(zoom, CELL_ZOOM)  # projection zoom
    px = K.merc_to_pixel_x(K.latlng_to_merc_x(F.col(lng)), pz, tile_size=1)
    py = F.least(K.merc_to_pixel_y(K.latlng_to_merc_y(F.col(lat)), pz, tile_size=1),
                 F.lit((1 << pz) - 1))
    if zoom <= CELL_ZOOM:
        d = CELL_ZOOM - zoom
        cell = F.shiftleft(F.shiftright(py, d), zoom) + F.shiftright(px, d)
    else:
        cell = F.shiftleft(py, zoom) + px
    return df.withColumn(col, cell)


def with_tile(df: DataFrame, zoom: int, lat: str = "lat", lng: str = "lng",
              tile_size: int = 4096, prefix: str = "tile_") -> DataFrame:
    """Append tile_x / tile_y / zoom columns (P3 + tile.h:162-172)."""
    return (
        df.withColumn(prefix + "x", K.latlng_to_tile_x(F.col(lng), zoom, tile_size))
        .withColumn(prefix + "y", K.latlng_to_tile_y(F.col(lat), zoom, tile_size))
        .withColumn("zoom", F.lit(zoom))
    )


# ---------------------------------------------------------------------------
# Tile ranges as *relations* (P11-P15): the reference's lazy iterators
# become generated DataFrames — `sequence()` + `explode` produce the
# rectangle lazily on executors, so a whole-level range at z=20 is a
# plan, not a driver-side list.
# ---------------------------------------------------------------------------
def tile_range(spark: SparkSession, x1: int, y1: int, x2: int, y2: int,
               z: int) -> DataFrame:
    """Inclusive tile rectangle at zoom z, row-major y-then-x order
    (src/tile.cc:44-52; iterator order tile.h:45-137)."""
    return (
        spark.range(1)
        .select(
            F.explode(F.sequence(F.lit(int(y1)), F.lit(int(y2)))).alias("tile_y")
        )
        .select(
            "tile_y",
            F.explode(F.sequence(F.lit(int(x1)), F.lit(int(x2)))).alias("tile_x"),
        )
        .select("tile_x", "tile_y", F.lit(int(z)).alias("zoom"))
    )


def tile_range_of_box(spark: SparkSession, lat_min: float, lng_min: float,
                      lat_max: float, lng_max: float, z: int,
                      tile_size: int = 4096) -> DataFrame:
    """Geo-rect -> tile rectangle at z (P12, tile.h:162-172)."""
    from geospark.functions import numpy_kernels as NK

    px1, py1 = NK.latlng_to_pixel(lat_max, lng_min, z, tile_size)  # top-left
    px2, py2 = NK.latlng_to_pixel(lat_min, lng_max, z, tile_size)  # bottom-right
    return tile_range(
        spark,
        int(px1) // tile_size,
        int(py1) // tile_size,
        int(px2) // tile_size,
        int(py2) // tile_size,
        z,
    )


def tile_pyramid(spark: SparkSession, max_zoom: int = 20) -> DataFrame:
    """All tiles for z in [0, max_zoom] (P15, tile.h:174-177): a lazy
    generated relation — 2^(2z) rows per level, never driver-side."""
    return (
        spark.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(int(max_zoom)))).alias("zoom"))
        .select(
            "zoom",
            F.explode(
                F.sequence(F.lit(0), F.expr("shiftleft(1, zoom) - 1"))
            ).alias("tile_y"),
        )
        .select(
            "zoom",
            "tile_y",
            F.explode(
                F.sequence(F.lit(0), F.expr("shiftleft(1, zoom) - 1"))
            ).alias("tile_x"),
        )
        .select("tile_x", "tile_y", "zoom")
    )


def tile_relevel(tiles: DataFrame, from_zoom: int, to_zoom: int,
                 tx: str = "tile_x", ty: str = "tile_y") -> DataFrame:
    """P13 ``tile::range_on_z`` as a relation (src/tile.cc:9-23,
    tested tile_test.cc:38-117): project each input tile's extent to
    ``to_zoom`` — DOWNWARD each tile explodes to its 4^dz descendants
    (axis range ``x<<dz .. ((x+1)<<dz)-1``), UPWARD each tile maps to
    its single ancestor (``x>>dz``). Non-tile columns pass through, so
    a per-tile aggregate can be re-leveled and re-grouped."""
    other = [c for c in tiles.columns if c not in (tx, ty, "zoom")]
    if to_zoom >= from_zoom:
        dz = to_zoom - from_zoom
        out = (
            tiles.select(*other, F.col(tx).alias("_px"), F.col(ty).alias("_py"))
            .select(
                *other, "_px",
                F.explode(F.sequence(
                    F.shiftleft(F.col("_py"), dz),
                    F.shiftleft(F.col("_py") + 1, dz) - 1,
                )).alias(ty),
            )
            .select(
                *other, ty,
                F.explode(F.sequence(
                    F.shiftleft(F.col("_px"), dz),
                    F.shiftleft(F.col("_px") + 1, dz) - 1,
                )).alias(tx),
            )
        )
    else:
        dz = from_zoom - to_zoom
        out = tiles.select(
            *other,
            F.shiftright(F.col(tx), dz).alias(tx),
            F.shiftright(F.col(ty), dz).alias(ty),
        )
    return out.select(*other, tx, ty, F.lit(int(to_zoom)).alias("zoom"))


def direct_children(tiles: DataFrame, from_zoom: int,
                    tx: str = "tile_x", ty: str = "tile_y") -> DataFrame:
    """``tile::direct_children`` (tile.h:21-23, src/tile.cc:7; tested
    tile_test.cc:15-36): 4 rows per input tile at from_zoom+1."""
    return tile_relevel(tiles, from_zoom, from_zoom + 1, tx, ty)


def tile_range_relevel(spark: SparkSession, x1: int, y1: int, x2: int,
                       y2: int, z: int, to_zoom: int) -> DataFrame:
    """P14 ``tile_range_on_z`` (src/tile.cc:54-76, tested
    tile_test.cc:170-186): re-level an INCLUSIVE rectangle with the
    reference's [min,max)-bounds care — down: ``((max+1)<<dz)-1``;
    up: ``max>>dz`` (== ``(bounds.max-1)>>dz``)."""
    if z < to_zoom:
        dz = to_zoom - z
        nx1, ny1 = x1 << dz, y1 << dz
        nx2, ny2 = ((x2 + 1) << dz) - 1, ((y2 + 1) << dz) - 1
    else:
        dz = z - to_zoom
        nx1, ny1 = x1 >> dz, y1 >> dz
        nx2, ny2 = x2 >> dz, y2 >> dz
    return tile_range(spark, nx1, ny1, nx2, ny2, to_zoom)


def tile_rollup(tiles: DataFrame, agg_exprs: list[Column], to_zoom: int,
                from_zoom: int, tx: str = "tile_x", ty: str = "tile_y") -> DataFrame:
    """Roll a per-tile aggregate up the pyramid (P9 parent chaining):
    shiftright the tile coords by Δz and re-aggregate. Map-side partial
    aggregation makes this one cheap shuffle per rollup level."""
    dz = from_zoom - to_zoom
    if dz < 0:
        raise ValueError("to_zoom must be <= from_zoom")
    return (
        tiles.groupBy(
            K.tile_parent_x(F.col(tx), dz).alias(tx),
            K.tile_parent_y(F.col(ty), dz).alias(ty),
        )
        .agg(*agg_exprs)
        .withColumn("zoom", F.lit(int(to_zoom)))
    )


def ctile_x(lng, zoom: int) -> Column:
    """Continuous (fractional) tile-x at ``zoom``: 0 .. 2^z over the
    mercator world. SQL twin: geodata.ctile_x_sql."""
    return (
        (K.latlng_to_merc_x(lng) + F.lit(K.MERC_ORIGIN_SHIFT))
        / F.lit(2.0 * K.MERC_ORIGIN_SHIFT) * F.lit(float(1 << zoom))
    )


def ctile_y(lat, zoom: int) -> Column:
    return (
        (F.lit(K.MERC_ORIGIN_SHIFT) - K.latlng_to_merc_y(lat))
        / F.lit(2.0 * K.MERC_ORIGIN_SHIFT) * F.lit(float(1 << zoom))
    )


def segment_tile_cover(df: DataFrame, zoom: int,
                       lat0: str = "lat0", lng0: str = "lng0",
                       lat1: str = "lat1", lng1: str = "lng1") -> DataFrame:
    """Explode each row's segment into the (tile_x, tile_y) tiles it
    crosses at ``zoom`` — vector->raster line rasterization, the
    missing half of the raster<->vector pair (tile_rollup is the
    raster side). Scanline supercover:

      1. project endpoints to CONTINUOUS tile coords (no pixel
         rounding), swap so y ascends;
      2. one row per integer y-row the segment passes
         (``sequence(floor(y0), floor(y1))`` — O(Δy), NOT the O(Δx·Δy)
         bbox explosion a cover-by-rectangle would cost on long
         segments);
      3. per row, the crossed x-range is contiguous (x is linear in
         y): inverse-lerp the row's clamped y-interval, floor both
         ends, ``sequence`` again — total output rows == supercover
         size, so the explode factor is exactly the answer size.

    Everything is JVM Column math (codegen; no UDF); rows and tiles
    derive term-by-term like the DuckDB twin (geodata.ctile_*_sql).
    Boundary rule: intervals are CLOSED on both ends, so a segment
    passing exactly through a tile edge/corner (measure-zero except
    at lat=0 / lng=0 lattice points) reports both adjacent tiles.
    Antimeridian: segments are straight lines in mercator space (no
    lng wrap) — same convention as the reference's polylines."""
    staged = df.withColumns({
        "_px0": ctile_x(F.col(lng0), zoom), "_py0": ctile_y(F.col(lat0), zoom),
        "_px1": ctile_x(F.col(lng1), zoom), "_py1": ctile_y(F.col(lat1), zoom),
    })
    asc = F.col("_py0") <= F.col("_py1")
    staged = staged.withColumns({
        "_px0s": F.when(asc, F.col("_px0")).otherwise(F.col("_px1")),
        "_py0s": F.when(asc, F.col("_py0")).otherwise(F.col("_py1")),
        "_px1s": F.when(asc, F.col("_px1")).otherwise(F.col("_px0")),
        "_py1s": F.when(asc, F.col("_py1")).otherwise(F.col("_py0")),
    }).drop("_px0", "_py0", "_px1", "_py1")
    rows = staged.withColumn(
        "tile_y", F.explode(F.sequence(F.floor("_py0s"), F.floor("_py1s")))
    )
    rows = rows.withColumns({
        "_ylo": F.greatest(F.col("_py0s"), F.col("tile_y").cast("double")),
        "_yhi": F.least(F.col("_py1s"),
                        (F.col("tile_y") + F.lit(1)).cast("double")),
    })
    flat = F.col("_py1s") == F.col("_py0s")
    dy = F.col("_py1s") - F.col("_py0s")
    rows = rows.withColumns({
        "_t0": F.when(flat, F.lit(0.0))
                .otherwise((F.col("_ylo") - F.col("_py0s")) / dy),
        "_t1": F.when(flat, F.lit(1.0))
                .otherwise((F.col("_yhi") - F.col("_py0s")) / dy),
    })
    dx = F.col("_px1s") - F.col("_px0s")
    rows = rows.withColumns({
        "_x0": F.col("_px0s") + dx * F.col("_t0"),
        "_x1": F.col("_px0s") + dx * F.col("_t1"),
    })
    rows = rows.withColumn(
        "tile_x",
        F.explode(F.sequence(F.floor(F.least("_x0", "_x1")),
                             F.floor(F.greatest("_x0", "_x1")))),
    )
    return rows.drop("_px0s", "_py0s", "_px1s", "_py1s", "_ylo", "_yhi",
                     "_t0", "_t1", "_x0", "_x1")
