"""Driver contract for the spark-graft builder (PySpark target).

Spark queries live in geospark/ (SURVEY.md §2 operator inventory);
each entry here pairs a DataFrame plan with a DuckDB oracle that
evaluates the *same formulas* (generated term-by-term by
geospark.geodata) over the same parquet tables. Coordinates are
derived deterministically from event ids with pure integer/rational
arithmetic so both engines see bit-identical doubles.
"""

from __future__ import annotations

import functools
import math
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geospark import geodata as G
from geospark import cells as Ce
from geospark.cells import tile_rollup, with_tile
from geospark.functions import kernels as K
from geospark.joins import box_query, knn_join_df, pip_join, radius_join_df


def _round_half_up(v: float, nd: int) -> float:
    """Golden-row rounding twin of Spark's F.round on DOUBLE:
    BigDecimal.valueOf (shortest decimal repr — Python's repr matches)
    then setScale HALF_UP. Python's builtin round() is half-to-even and
    would flake the exact-match harness on a .5 tie."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(v)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )

SF0001 = "/root/testdata/sf0.001"

# demo box chosen off the 0.01° event lattice (strict vs non-strict agree)
BOX = (10.005, -20.005, 60.015, 40.015)  # lat_min, lng_min, lat_max, lng_max
RADIUS_M = 750_000.0
KNN_K = 20
TILE_Z = 8
ROLLUP_Z = 5


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events->points -> PIP join vs 3-area polygon layer ->
    webmercator tile assignment -> per-(area, tile) counts."""
    pts = G.events_points(spark, SF0001)
    hits = pip_join(pts, G.demo_layer())
    tiled = with_tile(hits, TILE_Z)
    return (
        tiled.groupBy("area_id", "tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
        .orderBy("area_id", "tile_x", "tile_y")
    )


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------
def _q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir)
    return (
        with_tile(pts, TILE_Z)
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_points"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
    )


def _q_tile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8/P4 as one oracle-checked relation: the distinct z10 tiles
    of the events points, each with its mercator AABB
    (kernels.tile_bounds_merc — google-flipped y), its pixel AABB
    (kernels.tile_bounds_pixel), and the P4 pixel->merc->lat/lng
    roundtrip of the tile's NW pixel corner (merc_to_lat is atan/exp —
    rounded to 7 dp to absorb cross-libm ulps; everything else is
    exact double arithmetic, unrounded)."""
    z = 10
    pts = G.events_points(spark, sf_dir)
    tiles = with_tile(pts, z).select("tile_x", "tile_y").distinct()
    mn_x, mn_y, mx_x, mx_y = K.tile_bounds_merc(
        F.col("tile_x"), F.col("tile_y"), z
    )
    px1, py1, px2, py2 = K.tile_bounds_pixel(F.col("tile_x"), F.col("tile_y"))
    nw_mx = K.pixel_to_merc_x(px1, z)
    nw_my = K.pixel_to_merc_y(py1, z)
    return tiles.select(
        "tile_x",
        "tile_y",
        mn_x.alias("merc_min_x"),
        mn_y.alias("merc_min_y"),
        mx_x.alias("merc_max_x"),
        mx_y.alias("merc_max_y"),
        px1.alias("px_min_x"),
        py1.alias("px_min_y"),
        px2.alias("px_max_x"),
        py2.alias("px_max_y"),
        F.round(K.merc_to_lat(nw_my), 7).alias("nw_lat"),
        F.round(K.merc_to_lng(nw_mx), 7).alias("nw_lng"),
    )


def _q_cell_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geospark.cells import with_cell_at_zoom

    pts = G.events_points(spark, sf_dir)
    # staged px/py columns: the Morton spread must not inline the trig
    # projection into the groupBy hash key (see cells.with_cell_at_zoom)
    return (
        with_cell_at_zoom(pts, TILE_Z)
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
    )


def _q_min_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 min_haversine_distance as a grouped min-aggregate: nearest
    event to the Mensa center per event_type."""
    qlat, qlng = G.DEMO_CENTERS[0][1], G.DEMO_CENTERS[0][2]
    pts = G.events_points(spark, sf_dir)
    d = K.distance(F.lit(qlat), F.lit(qlng), F.col("lat"), F.col("lng"))
    return (
        pts.withColumn("dist_m", d)
        .groupBy("event_type")
        .agg(F.floor(F.min("dist_m")).alias("min_dist_floor"))
    )


def _q_bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir)
    return pts.groupBy("event_type").agg(
        F.min("lat").alias("min_lat"),
        F.min("lng").alias("min_lng"),
        F.max("lat").alias("max_lat"),
        F.max("lng").alias("max_lng"),
        F.count("*").alias("n_points"),
    )


def _q_haversine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qlat, qlng = G.DEMO_CENTERS[0][1], G.DEMO_CENTERS[0][2]
    pts = G.events_points(spark, sf_dir)
    d = K.distance(F.lit(qlat), F.lit(qlng), F.col("lat"), F.col("lng"))
    return (
        pts.withColumn("dist_m", d)
        .orderBy("dist_m", "event_id")
        .limit(200)
        .select("event_id", F.floor("dist_m").alias("dist_floor_m"))
    )


def _demo_centers(spark: SparkSession) -> DataFrame:
    """The 4 demo query centers as a (query_id, q_lat, q_lng) relation."""
    return spark.createDataFrame(
        G.DEMO_CENTERS, "query_id long, q_lat double, q_lng double")


def _q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir).select("event_id", "lat", "lng")
    out = radius_join_df(pts, _demo_centers(spark), max_m=RADIUS_M)
    return out.select(
        "query_id", "event_id", F.floor("dist_m").alias("dist_floor_m")
    )


def _q_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir).select("event_id", "lat", "lng")
    return box_query(pts, *BOX)


def _q_box_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 semi/anti joins (free from Spark, absent in the reference):
    per-user event totals split by whether the user has >=1 point in
    the demo box — LeftSemi and LeftAnti joins against the box query."""
    pts = G.events_points(spark, sf_dir).select("user_id", "event_id", "lat", "lng")
    inside = box_query(pts, *BOX).select(F.col("user_id").alias("b_user"))
    parts = []
    for how, side in (("left_semi", "semi"), ("left_anti", "anti")):
        j = pts.join(
            inside, F.col("user_id") == F.col("b_user"), how
        )
        parts.append(
            j.groupBy("user_id")
            .agg(F.count("*").alias("n_events"))
            .withColumn("side", F.lit(side))
        )
    return parts[0].unionByName(parts[1])


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir).select("event_id", "lat", "lng")
    out = knn_join_df(pts, _demo_centers(spark), k=KNN_K, id_col="event_id")
    return out.select(
        "query_id", "event_id", F.floor("dist_m").alias("dist_floor_m")
    )


def _q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification (joins.knn_classify): each
    demo center takes the modal event_type of its 25 nearest event
    points — exact-haversine neighbors via the two-phase kNN join
    (cell-count radius bound, then a bounded radius join), votes as
    one partial-agg shuffle, winner by
    (-votes, label) min-struct (vote ties to the smaller label). The
    DuckDB oracle is the brute-force window derivation: rank all
    points per center by (dist, event_id) — the kNN tie rule — take
    25, count labels, argmax by (n DESC, label ASC)."""
    from geospark.joins import knn_classify

    pts = G.events_points(spark, sf_dir).select(
        "event_id", "lat", "lng", "event_type")
    return knn_classify(pts, _demo_centers(spark), k=KNN_CLS_K,
                        label_col="event_type", id_col="event_id")


KNN_CLS_K = 25


def _q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir).select("event_id", "lat", "lng")
    return pip_join(pts, G.demo_layer()).select("area_id", "event_id")


def _q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir)
    z8 = (
        with_tile(pts, TILE_Z)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )
    return tile_rollup(
        z8, [F.sum("n_points").alias("n_points")], to_zoom=ROLLUP_Z, from_zoom=TILE_Z
    ).select("tile_x", "tile_y", "n_points")


def _q_tile_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/P13 pyramid rollup for zooms 5..8 in ONE shuffle: explode the
    zoom delta, group by (zoom, shifted coords) — the GROUPING-SETS
    shape of a multi-level rollup (each point feeds every ancestor
    level; partial aggregation still applies)."""
    pts = G.events_points(spark, sf_dir)
    z8 = with_tile(pts, TILE_Z).select("tile_x", "tile_y")
    lev = z8.select(
        "tile_x", "tile_y",
        F.explode(F.sequence(F.lit(0), F.lit(TILE_Z - ROLLUP_Z))).alias("dz"),
    )
    return (
        lev.groupBy(
            (F.lit(TILE_Z) - F.col("dz")).cast("int").alias("zoom"),
            F.expr("shiftright(tile_x, dz)").alias("tile_x"),
            F.expr("shiftright(tile_y, dz)").alias("tile_y"),
        )
        .agg(F.count("*").alias("n_points"))
    )


def _q_tile_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster x time rollup (the batch hypertable shape): per-(day,
    z6 tile) point counts. The day bucket is integer epoch arithmetic
    (engine-neutral, timezone-free); partial aggregation applies."""
    pts = G.events_points(spark, sf_dir)
    tiled = with_tile(pts, 6)
    return (
        tiled.groupBy(
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
            "tile_x", "tile_y",
        )
        .agg(F.count("*").alias("n_points"))
    )


def _q_bearing_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = pts.withColumn("p_lat", F.lag("lat").over(w)).withColumn(
        "p_lng", F.lag("lng").over(w)
    )
    b = K.bearing(F.col("p_lat"), F.col("p_lng"), F.col("lat"), F.col("lng"))
    return (
        seq.filter(F.col("p_lat").isNotNull())
        .select("event_id", F.round(b, 4).alias("bearing_r"))
    )


def _q_box_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir)
    a, b, c, d = K.box_extend_by_meters(
        F.col("lat"), F.col("lng"), F.col("lat"), F.col("lng"), F.lit(50_000.0)
    )
    return pts.select(
        "event_id",
        F.round(a, 4).alias("bmin_lat"),
        F.round(b, 4).alias("bmin_lng"),
        F.round(c, 4).alias("bmax_lat"),
        F.round(d, 4).alias("bmax_lng"),
    )


def _qbox_grid() -> list[tuple[int, float, float, float, float]]:
    """Deterministic 12x12 overlapping grid of query windows over the
    demo BOX, plus one continent-scale window (id 144) that exercises
    box_overlap_join's broadcast big-box branch. Host-side floats are
    shared verbatim with the oracle's VALUES relation."""
    lat_min, lng_min, lat_max, lng_max = BOX
    n = 12
    dlat = (lat_max - lat_min) / n
    dlng = (lng_max - lng_min) / n
    out = []
    for i in range(n):
        for j in range(n):
            out.append((
                i * n + j,
                lat_min + i * dlat - 0.3 * dlat,
                lng_min + j * dlng - 0.3 * dlng,
                lat_min + (i + 1) * dlat + 0.3 * dlat,
                lng_min + (j + 1) * dlng + 0.3 * dlng,
            ))
    out.append((n * n, lat_min - 5.0, lng_min - 5.0,
                lat_max + 5.0, lng_max + 5.0))
    return out


def _q_box_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 as a distributed JOIN: the bboxes of every road-network
    segment against a grid of query windows (plus one continent-scale
    window), via joins.box_overlap_join — small boxes cover-explode to
    z6 tiles JVM-side and equi-join; the oversized window broadcasts
    through the nested-loop branch. Output carries both containment
    flags (box_contains_box in each direction)."""
    from geospark.joins import box_overlap_join

    segs = G.events_segments(spark, sf_dir)
    seg_boxes = segs.select(
        F.col("seg_idx").cast("long").alias("box_id"),
        F.least("f_lat", "t_lat").alias("min_lat"),
        F.least("f_lng", "t_lng").alias("min_lng"),
        F.greatest("f_lat", "t_lat").alias("max_lat"),
        F.greatest("f_lng", "t_lng").alias("max_lng"),
    )
    grid = spark.createDataFrame(
        _qbox_grid(),
        "box_id long, min_lat double, min_lng double, "
        "max_lat double, max_lng double",
    )
    return box_overlap_join(seg_boxes, grid, zoom=6)


_SEG_STRETCH = 150  # corridor factor: ~450 m links -> ~60 km corridors


def _corridor_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long 'corridor' segments inside the demo BOX: the road-network
    delta stretched x150 so crossings actually occur at driver scale
    (the raw ~450 m links are too sparse to intersect at sf<=0.1)."""
    pts = G.events_points(spark, sf_dir)
    dlat = ((F.col("event_id") * 131) % 800) / 100000.0 - 0.004
    dlng = ((F.col("event_id") * 137) % 800) / 100000.0 - 0.004
    lat_min, lng_min, lat_max, lng_max = BOX
    return (
        pts.filter(
            (F.col("lat") > lat_min) & (F.col("lat") < lat_max)
            & (F.col("lng") > lng_min) & (F.col("lng") < lng_max)
        )
        .select(
            F.col("event_id").alias("seg_id"),
            F.col("lat").alias("f_lat"),
            F.col("lng").alias("f_lng"),
            (F.col("lat") + dlat * _SEG_STRETCH).alias("t_lat"),
            (F.col("lng") + dlng * _SEG_STRETCH).alias("t_lng"),
        )
    )


def _q_seg_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact segment-crossing self-join over corridor segments in the
    demo BOX (joins.segment_intersection_join): scanline supercover to
    z9 tiles, tile equi-join, dedup, then the exact orientation
    predicate — all JVM codegen. The oracle is a DuckDB nested-loop
    with the term-identical predicate, so green certifies the cover
    join's recall, not just its plan."""
    from geospark.joins import segment_intersection_join

    rel = _corridor_segments(spark, sf_dir)
    return segment_intersection_join(rel, rel, zoom=9).filter(
        F.col("id_a") < F.col("id_b")
    )


def _user_lines(pts: DataFrame) -> DataFrame:
    """(user_id, line) — each user's trajectory as an array<struct
    lat,lng> ordered by the engine-wide (ts, event_id) sort contract.
    SINGLE source of truth for the ordering: _oracle_trajectories()
    and every polyline query derive from this exact key, so a change
    here must land in goldens too (they assert parity)."""
    return (
        pts.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "lat", "lng"))
            ).alias("seq")
        )
        .withColumn(
            "line", F.expr("transform(seq, p -> struct(p.lat AS lat, p.lng AS lng))")
        )
        .drop("seq")
    )


def _q_polyline_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 via the engine's array-expression length operator: build the
    per-user trajectory (deterministic (ts, event_id) order), then
    aggregate-fold haversine segments JVM-side."""
    from geospark import lines as L

    traj = _user_lines(G.events_points(spark, sf_dir))
    return traj.select(
        "user_id",
        F.size("line").alias("n_points"),
        F.floor(L.length("line")).alias("len_floor_m"),
    )


def _q_destination_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir)
    dist = (F.col("event_id") % 900) * 1000.0 + 500.0
    brg = (F.col("event_id") % 360) + 0.5
    dlat, dlng = K.destination_point(F.col("lat"), F.col("lng"), dist, brg)
    return pts.select(
        "event_id",
        F.round(dlat, 5).alias("dest_lat"),
        F.round(dlng, 5).alias("dest_lng"),
    )


def _q_midpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = G.events_points(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = pts.withColumn("p_lat", F.lag("lat").over(w)).withColumn(
        "p_lng", F.lag("lng").over(w)
    )
    mlat, mlng = K.midpoint(
        F.col("p_lat"), F.col("p_lng"), F.col("lat"), F.col("lng")
    )
    return (
        seq.filter(F.col("p_lat").isNotNull())
        .select(
            "event_id",
            F.round(mlat, 5).alias("mid_lat"),
            F.round(mlng, 5).alias("mid_lng"),
        )
    )


def _q_simplify_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-VALUES oracle: 21-level DP masks over per-user trajectories."""
    from geospark import lines as L

    traj = (
        _user_lines(G.events_points(spark, sf_dir))
        .filter(F.size("line") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)  # fan out the DP UDF
        .withColumn("mask", L.make_simplify_mask_udf()(F.col("line")))
    )
    z0 = L.apply_simplify_mask_udf(0)(F.col("mask"), F.col("line"))
    z10 = L.apply_simplify_mask_udf(10)(F.col("mask"), F.col("line"))
    return traj.select(
        "user_id",
        F.size("line").alias("n_points"),
        F.size(z0).alias("n_z0"),
        F.size(z10).alias("n_z10"),
        F.length("mask").alias("mask_bytes"),
    )


def _q_polyline_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-VALUES oracle: Google polyline encode/decode roundtrip stats."""
    from geospark import lines as L

    traj = (
        _user_lines(G.events_points(spark, sf_dir))
        .repartition(spark.sparkContext.defaultParallelism)  # fan out the codec UDF
        .withColumn("enc", L.encode_polyline_udf(5)(F.col("line")))
        .withColumn("dec", L.decode_polyline_udf(5)(F.col("enc")))
        .withColumn(
            "nz", L.encode_polyline_nonzero_udf(5, NZ_SIMPLIFICATION)(F.col("line"))
        )
    )
    return traj.select(
        "user_id",
        F.length("enc").alias("enc_len"),
        F.size("dec").alias("n_roundtrip"),
        F.size("line").alias("n_points"),
        F.length("nz.enc").alias("nz_len"),
        F.col("nz.n_kept").alias("n_kept"),
    )


def _q_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-VALUES oracle: two-stage geo clustering (C1), 5 km threshold.
    The event lattice is percolation-supercritical above ~12 km (avg
    degree 4 at 25 km) — a giant component whose complete-linkage
    refinement is quadratic in the reference too; 5 km keeps the SL
    components small and the refinement exact."""
    from geospark.cluster import cluster_nearby

    pts = G.events_points(spark, sf_dir).select(
        F.col("event_id").alias("point_id"), "lat", "lng"
    )
    labels = cluster_nearby(pts, 5_000.0)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        sizes.groupBy("n_members")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("n_members")
    )


# ---------------------------------------------------------------------------
# Training-data ops: documents + embeddings
# ---------------------------------------------------------------------------
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the testdata ships one small file per table -> one input split;
    # spread the docs so the explode-heavy stages use every core (real
    # corpora arrive in many splits and skip this)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file table -> one input split; spread for the array-fold
    # heavy similarity stages (see _docs)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


EMB_QUERY_IDS = [3, 57, 111, 222, 404]
JACCARD_T = 0.1
MINHASH_T = 0.25
NZ_SIMPLIFICATION = 10_000  # G2 threshold in quantized units (~0.1 deg at p=5)


def _q_doc_dedup_exact(spark, sf_dir):
    from geospark.textops import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_doc_incremental_dedup(spark, sf_dir):
    """Incremental corpus ingest: docs with doc_id < 200 play the
    EXISTING training set (their content hashes are the 'seen'
    relation); the rest are the new crawl, kept only if their text
    bytes are unseen — textops.incremental_dedup's LEFT ANTI on the
    content hash (AQE inserts a runtime bloom filter ahead of the
    shuffle on real clusters)."""
    from geospark.textops import incremental_dedup

    docs = _docs(spark, sf_dir)
    # the prior corpus holds the first 200 docs; the "new crawl"
    # re-ingests EVERYTHING (a re-crawl), so exactly those 200 texts
    # must be recognized and dropped by the hash anti-join
    seen = docs.filter(F.col("doc_id") < 200).select(
        F.md5("text").alias("content_md5")
    )
    return incremental_dedup(docs, seen)


def _q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every 50th doc (doc_id % 50 == 7)
    donates its first 20 tokens as an eval-set 'question'; each
    training doc reports how many of its distinct 5-grams appear in
    that eval set (textops.decontaminate — map-side distinct n-grams,
    broadcast eval join, one partial-aggregatable shuffle). Donor
    docs self-hit; small-vocabulary collisions give partial hits."""
    from geospark.textops import decontaminate

    docs = _docs(spark, sf_dir)
    eval_texts = docs.filter(F.col("doc_id") % 50 == 7).select(
        F.expr(
            r"concat_ws(' ', slice(split(text, '\\s+'), 1, 20))"
        ).alias("text")
    )
    return decontaminate(docs, eval_texts, n=5)


def _q_doc_dup_spans(spark, sf_dir):
    """Cross-document duplicated spans (textops.dup_span_stats): per
    doc, the fraction of 10-token windows whose n-gram also appears
    in ANOTHER document — the exact-substring-dedup signal. md5-60
    gram hashing keeps the oracle engine-neutral; min!=max doc_id per
    gram is the cross-doc test (no count_distinct expansion)."""
    from geospark.textops import dup_span_stats

    return dup_span_stats(_docs(spark, sf_dir), n=10)


def _q_doc_span_scrub(spark, sf_dir):
    """Exact-substring scrubbing (textops.scrub_dup_spans): every
    duplicated 10-token window is REMOVED from all but the lowest
    doc_id holding its gram — dup_span_stats' signal turned into the
    actual training-data cut (Lee et al., ACL 2022). Covered-position
    explode is bounded by n x duplicated windows; reconstruction is a
    token-relation anti-join + per-doc array_sort rollup, all JVM."""
    from geospark.textops import scrub_dup_spans

    return scrub_dup_spans(_docs(spark, sf_dir), n=10)


def _q_doc_cap_per_lang(spark, sf_dir):
    """Language balancing: keep the 50 longest docs per language
    (deterministic doc_id tie-break) — textops.cap_per_group, one
    window shuffle on the group key."""
    from geospark.textops import cap_per_group

    return cap_per_group(_docs(spark, sf_dir), 50)


def _q_doc_token_stats(spark, sf_dir):
    from geospark.textops import token_stats

    return token_stats(_docs(spark, sf_dir))


def _q_doc_quality(spark, sf_dir):
    from geospark.textops import quality_score

    return quality_score(_docs(spark, sf_dir))


def _q_doc_lang_id(spark, sf_dir):
    from geospark.textops import lang_id

    return lang_id(_docs(spark, sf_dir))


def _q_doc_jaccard_pairs(spark, sf_dir):
    from geospark.textops import jaccard_pairs

    return jaccard_pairs(_docs(spark, sf_dir), threshold=JACCARD_T)


def _q_doc_minhash_lsh(spark, sf_dir):
    from geospark.textops import minhash_neardup_pairs

    return minhash_neardup_pairs(_docs(spark, sf_dir), threshold=MINHASH_T)


def _q_doc_simhash_pairs(spark, sf_dir):
    from geospark.textops import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), max_hamming=8)


def _q_doc_dedup_neardup(spark, sf_dir):
    """Keep-one near-dup dedup: minhash LSH pairs -> exact-Jaccard
    refine -> large/small-star connected components -> canonical id
    per duplicate CLUSTER (transitive closure, not just pairs)."""
    from geospark.graph import neardup_dedup
    from geospark.textops import minhash_neardup_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_neardup_pairs(docs, threshold=MINHASH_T)
    return neardup_dedup(docs, pairs)


def _q_doc_split(spark, sf_dir):
    """Deterministic train/val/test split: a pure function of the doc
    id (md5-60 mod 100), so membership survives re-sharding/appends.
    Narrow plan — no shuffle at all."""
    from geospark.textops import split_assign

    return split_assign(_docs(spark, sf_dir)).select(
        "doc_id", "bucket", "split"
    )


# deterministic PII injection shared by the Spark query and the DuckDB
# oracle: the synthetic docs contain no emails/phones, so both sides
# append one of each (a pure function of doc_id) and the scrub kernel
# is then measured doing real redaction work
from geospark.textops import PII_EMAIL_RE as _PII_EMAIL_RE  # noqa: E402
from geospark.textops import PII_PHONE_RE as _PII_PHONE_RE  # noqa: E402

_PII_INJECT_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), "
    "'@example.com or +1-555-', "
    "lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-0199')"
)


def _q_doc_pii_scrub(spark, sf_dir):
    """PII scrubbing ahead of training: redact emails + E.164-style
    phone numbers (textops.pii_scrub — two codegen'd regexp passes,
    zero shuffles; a pure map at 10^12 docs). The corpus is synthetic,
    so a deterministic email+phone is first injected per doc (same
    expression in the oracle) and the query reports match counts,
    scrubbed length and an md5 of the scrubbed text."""
    from geospark.textops import pii_scrub

    d2 = _docs(spark, sf_dir).withColumn("text", F.expr(_PII_INJECT_SPARK))
    return pii_scrub(d2)


def _q_multimodal_resize(spark, sf_dir):
    """Multimodal RESIZE plumbing (the stubbed-decoder stage family's
    third member, after feature-extract and frame-sample): binary
    payloads block-mean pooled to a 4x4 grid of integer values inside
    one Arrow-batched mapInArrow pass — same schema/batch/partitioning
    shape a real image resize has, deterministic integer math so the
    oracle is an independent pure-python twin (goldens.resize_blocks_py)
    embedded as golden VALUES."""
    from geospark.multimodal import resize_media

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    out = resize_media(media, out_w=4, out_h=4)
    return out.select(
        "media_id", "n_bytes_in", "width", "height",
        F.col("blocks")[0].alias("b0"),
        F.col("blocks")[5].alias("b5"),
        F.col("blocks")[15].alias("b15"),
        F.expr("aggregate(blocks, 0, (a, x) -> a + x)").alias("block_sum"),
        F.length("payload").cast("int").alias("n_bytes_out"),
    )


def _q_multimodal_frames(spark, sf_dir):
    """Multimodal FRAME-SAMPLE plumbing (the fourth stubbed-decoder
    stage, alongside feature-extract and resize): slice each binary
    payload into fixed-size frame chunks inside one Arrow-batched
    mapInArrow pass, one output row per frame — the schema/fan-out
    shape of real keyframe extraction. Unlike multimodal_resize's
    golden-VALUES twin, the oracle here is a fully independent DuckDB
    relational replay: the docs are filtered to ASCII (so byte slices
    == char slices by construction), and DuckDB re-derives every
    frame's length and md5 from substring arithmetic."""
    from geospark.multimodal import frame_sample

    media = (
        _docs(spark, sf_dir)
        .where(F.expr("octet_length(text) = char_length(text)"))
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "utf-8").alias("payload"),
        )
    )
    out = frame_sample(media, every_n_bytes=64, max_frames=4)
    return out.select(
        "media_id",
        "frame_idx",
        F.length("frame_bytes").cast("int").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


def _q_doc_train_pipeline(spark, sf_dir):
    """The END-TO-END training-data rehearsal as ONE oracle-checked
    relational chain (geospark.training's stage semantics, minus the
    snapshot commits the driver can't observe): exact-dedup keep-one →
    decontaminate against an eval set (every 50th doc's first 20
    tokens; keep only zero-overlap docs) → deterministic PII inject +
    scrub → id-hash train/val/test split → per-split aggregate
    (doc count, scrubbed chars, redaction counts, and a content
    checksum folding every scrubbed text's md5-60 into one BIGINT).
    Every stage is engine-neutral integer/md5 arithmetic, so the whole
    chain replays exactly in DuckDB."""
    from geospark.textops import (
        decontaminate,
        exact_dedup,
        hash60_sql,
        pii_scrub,
        split_assign,
    )

    docs = _docs(spark, sf_dir)
    dd = exact_dedup(docs)
    kept = docs.join(
        dd.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id"),
        "doc_id",
    )
    eval_texts = docs.filter(F.col("doc_id") % 50 == 7).select(
        F.expr(
            r"concat_ws(' ', slice(split(text, '\\s+'), 1, 20))"
        ).alias("text")
    )
    flags = decontaminate(kept, eval_texts, n=5)
    kept2 = kept.join(
        flags.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
    )
    injected = kept2.withColumn("text", F.expr(_PII_INJECT_SPARK))
    scrubbed = pii_scrub(injected, with_text=True)
    sp = split_assign(scrubbed)
    check = F.expr(
        f"pmod({hash60_sql('scrub_hash', 'md5')}, 2147483647)"
    )
    return sp.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars_scrubbed").alias("sum_chars"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_phones").alias("n_phones"),
        F.sum(check).alias("content_check"),
    )


def _q_doc_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling for training-mix construction:
    exactly min(60, |lang|) docs per language, chosen by md5 order of
    the id (textops.stratified_sample) — stable under re-sharding, one
    bounded-cardinality window shuffle."""
    from geospark.textops import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), 60)


DSIR_K = 40


def _q_doc_importance_resample(spark, sf_dir):
    """DSIR importance resampling (textops.importance_resample, Xie
    et al. 2023): score every doc by the integer-quantized
    log-likelihood ratio of its hashed token buckets under the
    lang='en' target vs the raw corpus, keep the top-40. Two
    partial-agg shuffles (bucket model, per-doc score) + a broadcast
    B-row delta relation + a TakeOrdered heap; each ln floors to its
    own milli-grid so BIGINT weights replay exactly in DuckDB."""
    from geospark.textops import importance_resample

    return importance_resample(_docs(spark, sf_dir), DSIR_K)


def _q_doc_importance_sample(spark, sf_dir):
    """DSIR's actual SAMPLING step (textops.importance_resample with
    sample=True): Gumbel-top-k over the integer log-ratio weights —
    Gumbel-max draws k docs ~ softmax(w) without replacement, with
    the deterministic md5-derived uniforms the weighted_sample family
    uses, so the draw is re-shard/append-stable and engine-neutral
    (the float Gumbel key only ORDERS; returned columns stay
    integer)."""
    from geospark.textops import importance_resample

    return importance_resample(_docs(spark, sf_dir), DSIR_K, sample=True)


def _q_doc_weighted_sample(spark, sf_dir):
    """Quality-weighted corpus downsampling: Efraimidis–Spirakis order
    sampling with deterministic hash-derived randomness (textops.
    weighted_sample) — longer docs proportionally likelier, the sample
    a pure function of the ids. TakeOrderedAndProject plan: per-
    partition top-k heaps, no global sort."""
    from geospark.textops import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), 60).select(
        "doc_id", "lang", "n_chars"
    )


def _q_doc_len_quantiles(spark, sf_dir):
    """Per-language corpus length distribution: EXACT interpolated
    p50/p90/p99 of n_chars. Spark's exact percentile buffers a
    counts-map keyed by DISTINCT value — memory is O(distinct
    lengths), naturally bounded for document lengths, so the exact
    form is scale-safe here (approx_percentile is the fallback for
    unbounded domains). One partial-aggregatable shuffle on lang."""
    docs = _docs(spark, sf_dir)
    q = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))")
        .alias("_qs"),
    )
    return q.select(
        "lang", "n_docs",
        F.round(q._qs[0], 4).alias("p50"),
        F.round(q._qs[1], 4).alias("p90"),
        F.round(q._qs[2], 4).alias("p99"),
    )


def _q_doc_mix_epochs(spark, sf_dir):
    """Mixture-weighted epoch expansion: each doc appears floor(w)
    times plus one more with probability frac(w) decided by a per-doc
    hash (textops.mixture_epochs) — E[copies] = w exactly, zero RNG
    state, narrow posexplode plan. The per-source weight here is the
    self-contained default (stable hash of the source name into
    [0.5, 3.5))."""
    from geospark.textops import mixture_epochs

    return mixture_epochs(_docs(spark, sf_dir))


def _q_doc_fingerprint(spark, sf_dir):
    from geospark.textops import fingerprint

    return fingerprint(_docs(spark, sf_dir))


CHUNK_SIZE, CHUNK_STRIDE = 32, 24
TFIDF_K = 5


def _q_doc_chunk(spark, sf_dir):
    """Sliding-window training-sample chunking: zero-shuffle map over
    the corpus (split + sequence + posexplode + slice, all codegen)."""
    from geospark.textops import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )


PACK_L = 128


def _q_doc_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing (textops.pack_sequences):
    the zero-padding step that turns the corpus into fixed-length
    training sequences — docs laid end-to-end in doc_id order, one
    span row per (doc, 128-token sequence) overlap.  The global
    stream offset is a TWO-LEVEL prefix sum (range-sharded local
    window cumsums in parallel + broadcast shard offsets; only
    n_shards totals touch the driver), vs the oracle's sequential
    single-window cumsum in DuckDB — green certifies the scalable
    scan == the sequential definition, span math included."""
    from geospark.textops import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=PACK_L)


def _q_doc_tfidf(spark, sf_dir):
    """Per-doc top-k TF-IDF terms; N via broadcast 1-row cross join,
    ties broken on token so ranking is engine-deterministic."""
    from geospark.textops import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=TFIDF_K)


BM25_QUERIES = [
    (1, ["spark", "join", "fast"]),
    (2, ["window", "agg", "sort"]),
    (3, ["customer", "stream", "vector"]),
]
BM25_K = 10


def _q_doc_bm25(spark, sf_dir):
    """BM25 top-k retrieval (textops.bm25_topk): three fixed term
    probes against the documents corpus. Per-term contributions are
    floor-quantized to integer micro-units BEFORE the per-(query,doc)
    sum, so scores are BIGINTs and the ranking is float-summation-
    order-proof; the corpus explode is filtered to the query
    vocabulary before the tf shuffle (matched hits only, never the
    corpus)."""
    from geospark.textops import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_QUERIES, k=BM25_K)


LM_REF_LANG = "en"
BPE_MERGES = 12


def _q_doc_bpe(spark, sf_dir):
    """BPE tokenizer-merge training (textops.bpe_train): 12 merge
    rounds over the documents corpus. The corpus is touched by ONE
    word-count shuffle; every round then pair-counts the vocab-sized
    symbol relation (partial-agg), moves exactly one argmax row to
    the driver, and merges via a codegen'd aggregate() fold. Oracle
    is the classic dict-based BPE (goldens.bpe_merges) — a different
    algorithm, so green certifies the merge-table semantics."""
    from geospark.textops import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=BPE_MERGES)


def _q_doc_bpe_encode(spark, sf_dir):
    """Train-then-APPLY BPE (textops.bpe_train -> bpe_encode): the 12
    learned merge rules replayed over the corpus vocabulary, rolled up
    to the token frequency relation (token, n_words, count) — the
    encode half of the tokenizer lifecycle. The corpus is touched by
    one word-count shuffle; the merge replay is a chain of codegen
    folds with the rules as literals on the vocab-sized relation.
    Oracle: the classic dict-based twin (goldens.bpe_merges to learn +
    goldens.bpe_encode_py to apply) — an independent algorithm over
    DuckDB-derived word counts."""
    from geospark.textops import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(docs, n_merges=BPE_MERGES)
        .orderBy("rank").collect()
    ]
    return bpe_encode(docs, merges)


def _oracle_word_freqs() -> list[tuple[str, int]]:
    """(word, freq) over the oracle-SF documents — input of the BPE
    golden twin."""
    import duckdb

    con = duckdb.connect()
    pdf = con.sql(
        f"SELECT w, count(*) AS f FROM ("
        f"SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w "
        f"FROM read_parquet('{_oracle_sf_dir()}/documents.parquet')"
        f") WHERE w <> '' GROUP BY 1 ORDER BY 1"
    ).df()
    return [(str(w), int(f)) for w, f in zip(pdf["w"], pdf["f"])]


def _q_doc_lm_ppl(spark, sf_dir):
    """Bigram-LM perplexity quality scoring (textops.lm_score): the
    CCNet-style filter — train an add-alpha bigram LM on the 'en'
    slice, score EVERY document's negative log likelihood as integer
    micro-nats (BIGINT; float-summation-order-proof like BM25). The
    model relations are vocab-sized, so scoring is two hash joins +
    one rollup regardless of corpus size."""
    from geospark.textops import lm_score

    return lm_score(_docs(spark, sf_dir), LM_REF_LANG)


def _q_doc_lm_kn(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (textops.lm_score_kn):
    the KenLM-family smoothing CCNet actually ships — continuation
    probability counts DISTINCT left contexts, absolute discount D
    reserves mass per seen bigram, add-beta floors the continuation
    distribution so every probability is positive before the single
    ln. Same vocab-sized-model plan shape as doc_lm_ppl."""
    from geospark.textops import lm_score_kn

    return lm_score_kn(_docs(spark, sf_dir), LM_REF_LANG)


def _lm_kn_oracle() -> str:
    """DuckDB twin of textops.lm_score_kn — term-identical KN
    expression tree (left-assoc float ops, pc inlined in both the
    unseen-context branch and the interpolation term, one ln inside
    the 1e6 floor)."""
    from geospark.textops import KN_BETA, KN_DISCOUNT

    D, b = repr(float(KN_DISCOUNT)), repr(float(KN_BETA))
    pc = (f"((CAST(COALESCE(co.n1bw, 0) AS DOUBLE) + {b}) "
          f"/ (CAST(na.n_all AS DOUBLE) + {b} * (vo.v + 1.0)))")
    seen = (
        f"(CASE WHEN bi.c12 IS NULL THEN 0.0 "
        f"ELSE (CAST(bi.c12 AS DOUBLE) - {D}) / CAST(cx.c1b AS DOUBLE) "
        f"END + {D} * CAST(cx.n1fw AS DOUBLE) "
        f"/ CAST(cx.c1b AS DOUBLE) * {pc})"
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(text), '\\s+') AS t
            FROM documents
        ),
        vo AS (
            SELECT count(DISTINCT w) AS v FROM (
                SELECT unnest(t) AS w FROM toks
                WHERE lang = '{LM_REF_LANG}'
            )
        ),
        bi AS (
            SELECT w1, w2, count(*) AS c12 FROM (
                SELECT unnest(t[1:len(t)-1]) AS w1,
                       unnest(t[2:]) AS w2
                FROM toks WHERE lang = '{LM_REF_LANG}'
            ) GROUP BY 1, 2
        ),
        cx AS (
            SELECT w1, CAST(sum(c12) AS BIGINT) AS c1b,
                   count(*) AS n1fw
            FROM bi GROUP BY 1
        ),
        co AS (SELECT w2, count(*) AS n1bw FROM bi GROUP BY 1),
        na AS (SELECT count(*) AS n_all FROM bi),
        stream AS (
            SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
                   unnest(t[2:]) AS w2
            FROM toks
        ),
        terms AS (
            SELECT s.doc_id,
                   CAST(floor((0.0 - ln(
                       CASE WHEN cx.c1b IS NULL THEN {pc}
                       ELSE {seen} END
                   )) * 1000000.0) AS BIGINT) AS nll
            FROM stream s
            LEFT JOIN bi ON s.w1 = bi.w1 AND s.w2 = bi.w2
            LEFT JOIN cx ON s.w1 = cx.w1
            LEFT JOIN co ON s.w2 = co.w2
            CROSS JOIN na CROSS JOIN vo
        ),
        rolled AS (
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(nll) AS BIGINT) AS nll_micro
            FROM terms GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(r.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(r.nll_micro, 0) AS BIGINT) AS nll_micro
        FROM documents d LEFT JOIN rolled r USING (doc_id)
    """


def _lm_ppl_oracle() -> str:
    """DuckDB twin of textops.lm_score: same token split, same
    add-0.5 smoothing, term-identical floor((0-ln(p))*1e6)
    quantization; <2-token docs recovered by the outer join from
    documents with 0/0."""
    from geospark.textops import LM_ALPHA

    a = repr(LM_ALPHA)
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(text), '\\s+') AS t
            FROM documents
        ),
        uni AS (
            SELECT w, count(*) AS c1 FROM (
                SELECT unnest(t) AS w FROM toks
                WHERE lang = '{LM_REF_LANG}'
            ) GROUP BY 1
        ),
        vocab AS (SELECT count(*) AS v FROM uni),
        bi AS (
            SELECT w1, w2, count(*) AS c12 FROM (
                SELECT unnest(t[1:len(t)-1]) AS w1,
                       unnest(t[2:]) AS w2
                FROM toks WHERE lang = '{LM_REF_LANG}'
            ) GROUP BY 1, 2
        ),
        stream AS (
            SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
                   unnest(t[2:]) AS w2
            FROM toks
        ),
        terms AS (
            SELECT s.doc_id,
                   CAST(floor((0.0 - ln(
                       (COALESCE(b.c12, 0) + {a})
                       / (COALESCE(u.c1, 0) + {a} * v.v)
                   )) * 1000000.0) AS BIGINT) AS nll
            FROM stream s
            LEFT JOIN bi b ON s.w1 = b.w1 AND s.w2 = b.w2
            LEFT JOIN uni u ON s.w1 = u.w
            CROSS JOIN vocab v
        ),
        rolled AS (
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(nll) AS BIGINT) AS nll_micro
            FROM terms GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(r.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(r.nll_micro, 0) AS BIGINT) AS nll_micro
        FROM documents d LEFT JOIN rolled r USING (doc_id)
    """


def _bm25_oracle() -> str:
    """DuckDB twin of textops.bm25_topk over BM25_QUERIES — identical
    expression tree (left-assoc float ops; idf and norm each floor-
    quantized to integer milli-units SEPARATELY, then multiplied as
    BIGINTs, so the one libm call (ln) sits inside its own coarse
    1e-3 floor and a 1-ulp engine disagreement cannot straddle a
    boundary) so BIGINT scores match bit-exactly."""
    from geospark.textops import BM25_B, BM25_K1

    terms = sorted({t for _, ts in BM25_QUERIES for t in ts})
    in_list = ", ".join(f"'{t}'" for t in terms)
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25_QUERIES for t in ts
    )
    k1, b = BM25_K1, BM25_B
    idf = "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    norm = (f"(tf * {k1 + 1.0!r}) / "
            f"(tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl))")
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM documents
        ),
        base AS (
            SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
        ),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM base
            WHERE term IN ({in_list})
            GROUP BY 1, 2, 3
        ),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        stats AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl
            FROM toks
        ),
        q(query_id, term) AS (VALUES {qvals}),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(sum(CAST(floor(1000.0 * {idf}) AS BIGINT)
                       * CAST(floor(1000.0 * {norm}) AS BIGINT))
                       AS BIGINT) AS score_q
            FROM tf JOIN q USING (term) JOIN dfr USING (term)
            CROSS JOIN stats
            GROUP BY 1, 2
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rn AS BIGINT) AS rn, doc_id, score_q
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score_q DESC, doc_id
            ) AS rn FROM scored
        ) WHERE rn <= {BM25_K}
    """


def _q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition signals, zero-shuffle (sorted-array
    run-length folds instead of per-doc groupBy)."""
    from geospark.textops import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_doc_line_dedup(spark, sf_dir):
    """CCNet-style corpus-wide keep-first line dedup (8-token chunk
    lines): groupBy(line) min-struct winner — one partial-aggregated
    shuffle, no join back (survivors counted from the winner
    relation)."""
    from geospark.textops import line_dedup_stats

    return line_dedup_stats(_docs(spark, sf_dir), line_tokens=8)


def _q_emb_quantize(spark, sf_dir):
    """Symmetric int8 quantization, reported as per-vector code stats
    (arrays folded to scalars so the compare hashes cleanly)."""
    from geospark.embeddings import quantize_int8

    q = quantize_int8(_emb(spark, sf_dir))
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.expr("size(q)").alias("n_dims"),
        F.expr("array_min(q)").alias("q_min"),
        F.expr("array_max(q)").alias("q_max"),
        F.expr("aggregate(q, 0L, (a, x) -> a + abs(x))").alias("q_l1"),
    )


def _q_emb_cosine_topk(spark, sf_dir):
    from geospark.embeddings import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), EMB_QUERY_IDS, k=10)


def _q_emb_ann_lsh(spark, sf_dir):
    from geospark.embeddings import ann_topk

    # 8 planes (256 buckets) + 1-bit multi-probe: candidates ~
    # n*(1+8)/256 per query — selective at any n, no recall cliff
    return ann_topk(
        _emb(spark, sf_dir), EMB_QUERY_IDS, k=10, n_planes=8, probe_radius=1
    )


def _q_emb_ivf(spark, sf_dir):
    from geospark.embeddings import ivf_topk

    # IVF-flat: 16 deterministic centroid lists, probe the 4 nearest
    return ivf_topk(
        _emb(spark, sf_dir), EMB_QUERY_IDS, k=10, n_centroids=16, n_probe=4
    )


def _q_emb_neardup(spark, sf_dir):
    from geospark.embeddings import embedding_neardup_pairs

    # max pairwise cosine in the synthetic embeddings is ~0.51 — 0.35
    # marks the top ~0.1% of pairs as "near-dups". 4 tables x 8 planes:
    # each self-join is 256-bucketed (~L*n^2/256 candidate pairs).
    # Buckets come from the one-scan BLAS bucketer (all L*k plane
    # signs in one matmul per batch). The SQL-expression lsh_bucket
    # computes bit-identical buckets (test_arrow_bucketer_matches_sql)
    # but embeds L*k*dim plane literals in the plan (~120 KB ->
    # seconds of codegen compile); the DuckDB oracle is that literal
    # twin, so green here certifies the arrow path against an
    # independent engine.
    return embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=0.35, n_planes=8, n_tables=4,
    )


def _q_multimodal_features(spark, sf_dir):
    """Binary-column pipeline plumbing: docs' utf-8 bytes as payload,
    Arrow-batched feature extraction (decode stubbed — see
    geospark.multimodal)."""
    from geospark.multimodal import extract_features

    media = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    out = extract_features(media, decode_fake=True)
    # cast the float32 feature to double BEFORE rounding so the oracle
    # (double round of an exact float32) matches bit-for-bit
    return out.select(
        "media_id", "n_bytes",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
        F.round(F.element_at("features", 7).cast("double"), 6).alias("f6"),
    )


def _q_approx_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3/S4: equirectangular approx distance (with the Mensa-scale
    factor), conservative + exact m/deg-lng scales."""
    qlat, qlng = G.DEMO_CENTERS[0][1], G.DEMO_CENTERS[0][2]
    pts = G.events_points(spark, sf_dir)
    scale = K.approx_distance_lng_degrees(F.lit(qlat), F.lit(qlng))
    sq = K.approx_squared_distance(
        F.lit(qlat), F.lit(qlng), F.col("lat"), F.col("lng"), scale
    )
    return pts.select(
        "event_id",
        F.floor(F.sqrt(sq)).alias("approx_floor_m"),
        F.floor(K.lower_bound_distance_lng_degrees(F.col("lat"))).alias(
            "lb_lng_floor"
        ),
        F.floor(
            K.approx_distance_lng_degrees(F.col("lat"), F.col("lng"))
        ).alias("scale_floor"),
    )


def _q_xyz_chord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: unit-half-sphere chord distance (== haversine)."""
    qlat, qlng = G.DEMO_CENTERS[0][1], G.DEMO_CENTERS[0][2]
    pts = G.events_points(spark, sf_dir)
    x1, y1, z1 = K.xyz(F.lit(qlat), F.lit(qlng))
    x2, y2, z2 = K.xyz(F.col("lat"), F.col("lng"))
    d = K.haversine_distance_xyz(x1, y1, z1, x2, y2, z2)
    return pts.select("event_id", F.floor(d).alias("chord_floor_m"))


def _q_fixed_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: fixed-point 1e7 codec roundtrip."""
    pts = G.events_points(spark, sf_dir)
    return pts.select(
        "event_id",
        K.double_to_fix(F.col("lat")).alias("lat_fix"),
        K.double_to_fix(F.col("lng")).alias("lng_fix"),
        F.round(K.fix_to_double(K.double_to_fix(F.col("lat"))), 7).alias("lat_rt"),
    )


def _q_approx_polyline_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7/S9: approx squared distance to per-user trajectories from the
    demo centers — argmin over segments, first-segment tie-break.
    Lag-window segment derivation (see _q_polyline_dist); the
    array-column API (lines.approx_distance_to_polyline) is
    parity-tested in tests/test_lines_spark.py."""
    pts = G.events_points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.select("user_id", "ts", "event_id", "lat", "lng")
        .withColumn("f_lat", F.lag("lat").over(w))
        .withColumn("f_lng", F.lag("lng").over(w))
        .withColumn("seg_idx", (F.row_number().over(w) - 2).cast("int"))
        .filter(F.col("f_lat").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism)  # see _q_polyline_dist
    )
    centers = _demo_centers(spark).withColumn(
        "scale", K.approx_distance_lng_degrees(F.col("q_lat"), F.col("q_lng"))
    )
    pairs = seg.crossJoin(F.broadcast(centers))
    _, _, c_sq = K.approx_closest_on_segment(
        F.col("q_lat"), F.col("q_lng"),
        F.col("f_lat"), F.col("f_lng"), F.col("lat"), F.col("lng"),
        F.col("scale"),
    )
    scored = pairs.withColumn("approx_sq", c_sq)
    best = F.min(F.struct("approx_sq", "seg_idx")).alias("_b")
    return (
        scored.groupBy("query_id", "user_id").agg(best)
        .select(
            "query_id", "user_id",
            F.col("_b.seg_idx").alias("seg_idx"),
            F.floor("_b.approx_sq").alias("sq_floor"),
        )
    )


def _q_polyline_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6/S8: EXACT distance to per-user trajectories from the demo
    centers — merc-projected closest-on-segment (angle tests + law of
    sines), min-struct argmin, first-segment tie-break.

    Plan shape: segments come straight from a lag() window over the
    event order — no collect_list array build, no posexplode; the
    array-column API (lines.distance_to_polyline) computes the same
    thing for stored polylines and is parity-tested in
    tests/test_lines_spark.py."""
    pts = G.events_points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.select("user_id", "ts", "event_id", "lat", "lng")
        .withColumn("f_lat", F.lag("lat").over(w))
        .withColumn("f_lng", F.lag("lng").over(w))
        .withColumn("seg_idx", (F.row_number().over(w) - 2).cast("int"))
        .filter(F.col("f_lat").isNotNull())
        # AQE coalesces the tiny window shuffle to ~2 partitions; the
        # 5x-amplified transcendental scoring below must fan out
        .repartition(spark.sparkContext.defaultParallelism)
    )
    centers = _demo_centers(spark)
    pairs = seg.crossJoin(F.broadcast(centers))
    scored = K.with_closest_on_segment(
        pairs, "q_lat", "q_lng", "f_lat", "f_lng", "lat", "lng",
        "closest_lat", "closest_lng",
    ).withColumn("dist_m", K.distance(
        F.col("q_lat"), F.col("q_lng"),
        F.col("closest_lat"), F.col("closest_lng")))
    best = F.min(
        F.struct("dist_m", "seg_idx", "closest_lat", "closest_lng")
    ).alias("_b")
    return (
        scored.groupBy("query_id", "user_id").agg(best)
        .select(
            "query_id", "user_id",
            F.col("_b.seg_idx").alias("seg_idx"),
            F.floor("_b.dist_m").alias("dist_floor_m"),
            F.round("_b.closest_lat", 6).alias("c_lat"),
            F.round("_b.closest_lng", 6).alias("c_lng"),
        )
    )


MAP_MATCH_MAX_M = 250.0


def _q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: every 10th event point, nudged off its own
    network link (+0.0003 lat, -0.0002 lng ~= 40 m), snapped to the
    nearest segment of ANY line within 250 m — the distributed
    GPS-probe -> road-network join (cell-cover filter + S8/S1 refine +
    min-struct argmin). The network is geodata.events_segments: one
    deterministic <=~450 m link per event (realistic link lengths;
    consecutive-random-point lag segments are transcontinental and
    degenerate the cover join toward a cross product at scale).
    Golden-VALUES oracle from the brute-force twin
    goldens.map_match_segments."""
    from geospark.joins import match_points_to_segments

    pts = G.events_points(spark, sf_dir)
    seg = G.events_segments(spark, sf_dir)
    probes = (
        pts.filter(F.col("event_id") % 10 == 0)
        .select(
            F.col("event_id").alias("point_id"),
            (F.col("lat") + F.lit(0.0003)).alias("lat"),
            (F.col("lng") - F.lit(0.0002)).alias("lng"),
        )
    )
    res = match_points_to_segments(probes, seg, MAP_MATCH_MAX_M)
    return res.select(
        "point_id",
        F.col("line_id").cast("long").alias("line_id"),
        "seg_idx",
        F.floor("dist_m").alias("dist_floor_m"),
        F.round("c_lat", 6).alias("c_lat"),
        F.round("c_lng", 6).alias("c_lng"),
    )


HMM_MAX_M = 2000.0
HMM_K = 3
HMM_TW = 100


def _q_hmm_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM (Viterbi) map matching (hmm.viterbi_map_match): every 10th
    event point per user, nudged ~40 m off-network, matched as an
    ORDERED TRAJECTORY against the events_segments network — road
    candidates from the distributed corridor join (top-3 lines within
    2 km), integer meter-floored emission/transition costs, Viterbi
    DP per user in one Arrow-batched grouped kernel. Continuity beats
    per-point greed: the jointly most plausible road sequence, not the
    nearest road per point (Newson & Krumm 2009; map_match is the
    greedy baseline). Golden-VALUES oracle from the plain-Python twin
    goldens.viterbi_match_py — an independent trellis construction and
    DP, bit-identical because every cost is an integer."""
    from geospark.hmm import viterbi_map_match

    pts = G.events_points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("point_id")
    probes = (
        pts.filter(F.col("event_id") % 10 == 0)
        .select(
            "user_id",
            F.col("event_id").alias("point_id"),
            (F.col("lat") + F.lit(0.0003)).alias("lat"),
            (F.col("lng") - F.lit(0.0002)).alias("lng"),
        )
        .withColumn("seq", F.row_number().over(w).cast("long"))
    )
    seg = G.events_segments(spark, sf_dir)
    res = viterbi_map_match(probes, seg, HMM_MAX_M, k=HMM_K,
                            trans_weight=HMM_TW)
    return res.select("user_id", "seq", "point_id",
                      F.col("line_id").cast("long").alias("line_id"),
                      "seg_idx")


CORRIDOR_MAX_M = 50000.0


def _q_corridor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corridor join (joins.corridor_join): every 50th event point
    (nudged ~40 m off-network like map_match) against the
    events_segments network, keeping EVERY line within 50 km — the
    "routes passing near this point" primitive (L6 distance-to-
    polyline lifted to an all-pairs join; map_match is its global
    argmin). The 50 km radius spans city clusters, so most probes
    keep SEVERAL lines (the multiplicity map_match collapses — the
    semantics this query certifies). Same multi-zoom cover + S8/S1
    refine plan, aggregate keyed by (point, line). Golden-VALUES
    oracle from the brute-force twin goldens.corridor_pairs."""
    from geospark.joins import corridor_join

    pts = G.events_points(spark, sf_dir)
    seg = G.events_segments(spark, sf_dir)
    probes = (
        pts.filter(F.col("event_id") % 50 == 0)
        .select(
            F.col("event_id").alias("point_id"),
            (F.col("lat") + F.lit(0.0003)).alias("lat"),
            (F.col("lng") - F.lit(0.0002)).alias("lng"),
        )
    )
    res = corridor_join(probes, seg, CORRIDOR_MAX_M)
    return res.select(
        "point_id",
        F.col("line_id").cast("long").alias("line_id"),
        "seg_idx",
        F.floor("dist_m").alias("dist_floor_m"),
        F.round("c_lat", 6).alias("c_lat"),
        F.round("c_lng", 6).alias("c_lng"),
    )


def _q_tile_relevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13/P14: re-level the demo-box tile rectangle DOWN one zoom
    (z9 -> z10 descendants, 4x rows) and UP three zooms (z9 -> z6
    ancestors, deduped) — both directions of tile::range_on_z."""
    from geospark.cells import tile_range_of_box, tile_relevel

    lat_min, lng_min, lat_max, lng_max = BOX
    r9 = tile_range_of_box(
        spark, lat_min, lng_min, lat_max, lng_max, 9
    ).select("tile_x", "tile_y")
    down = tile_relevel(r9, 9, 10)
    up = tile_relevel(r9, 9, 6).distinct()
    return down.unionByName(up).select(
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("zoom").cast("int").alias("zoom"),
    )


def _q_tile_range_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/P12: the tile rectangle of the demo box at z=9 as a
    generated relation."""
    from geospark.cells import tile_range_of_box

    lat_min, lng_min, lat_max, lng_max = BOX
    return tile_range_of_box(
        spark, lat_min, lng_min, lat_max, lng_max, 9
    ).select("tile_x", "tile_y")


IDW_Z = 6
IDW_RADIUS_M = 300_000.0


@functools.lru_cache(maxsize=1)
def _idw_targets() -> list[tuple[int, float, float]]:
    """(query_id, c_lat, c_lng) tile-CENTER targets of the demo box at
    z6 — computed once on the driver (P4 pixel->merc->latlng numpy
    kernels) and inlined as identical double literals into BOTH the
    Spark plan and the DuckDB oracle, so the grid itself can't be a
    parity variable. query_id = (tile_x << 32) | tile_y."""
    import numpy as np

    from geospark.functions import numpy_kernels as NK

    lat_min, lng_min, lat_max, lng_max = BOX
    ts = 4096
    px1, py1 = NK.latlng_to_pixel(lat_max, lng_min, IDW_Z, ts)
    px2, py2 = NK.latlng_to_pixel(lat_min, lng_max, IDW_Z, ts)
    res = NK.resolution(IDW_Z, ts)
    msz = NK.map_size(IDW_Z, ts)
    out = []
    for ty in range(int(py1) // ts, int(py2) // ts + 1):
        for tx in range(int(px1) // ts, int(px2) // ts + 1):
            mx = (tx + 0.5) * ts * res - NK.MERC_ORIGIN_SHIFT
            my = (msz - (ty + 0.5) * ts) * res - NK.MERC_ORIGIN_SHIFT
            la, ln = NK.merc_to_latlng(np.float64(mx), np.float64(my))
            out.append(((tx << 32) | ty, float(la), float(ln)))
    return out


def _q_idw_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW surface interpolation (raster.idw_interpolate): the event
    ``value`` measure interpolated onto the z6 tile-center grid of the
    demo box, 300 km inverse-square radius — integer-exact (cm-floored
    distances, BIGINT weights scale DIV d_cm^2, cent-floored values),
    so the DuckDB oracle replays it from the same inlined grid with a
    brute-force cross join + identical integer formulas (a different
    JOIN ALGORITHM — cover-join vs cross — certifying the estimator,
    not the plan). Returns (tile_x, tile_y, n_samples, den_w,
    est_cents)."""
    from geospark.raster import idw_interpolate

    centers = spark.createDataFrame(
        _idw_targets(), "query_id long, q_lat double, q_lng double")
    res = idw_interpolate(
        G.events_points(spark, sf_dir), centers, IDW_RADIUS_M)
    return res.select(
        F.shiftright("query_id", 32).alias("tile_x"),
        (F.col("query_id") % (1 << 32)).alias("tile_y"),
        "n_samples", "den_w", "est_cents",
    )


def _q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15: per-level tile counts of the pyramid, z 0..7."""
    from geospark.cells import tile_pyramid

    return (
        tile_pyramid(spark, 7)
        .groupBy("zoom")
        .agg(F.count("*").alias("n_tiles"))
    )


def _pages_spool(spark: SparkSession, n_pages: int, partitions: int) -> str:
    """Cached deterministic pages parquet for the contract queries.
    The cache key includes a content hash of the generator source: if
    synth_pages changes, the key changes and the spool regenerates
    (a stale spool vs a fresh golden oracle is a confusing red).
    Writes land in a private dir renamed atomically — concurrent runs
    never observe a half-written spool."""
    import hashlib
    import inspect
    import uuid

    from geospark import pages as _pages_mod
    from geospark.pages import synth_pages

    gen_ver = hashlib.md5(
        inspect.getsource(_pages_mod).encode()
    ).hexdigest()[:10]
    spool = f"/tmp/geospark_stream_spool_{n_pages}_{partitions}_{gen_ver}"
    if not os.path.exists(f"{spool}/_SUCCESS"):
        stage_dir = f"{spool}.stage-{uuid.uuid4().hex[:8]}"
        synth_pages(spark, n_pages, partitions=partitions).write.mode(
            "overwrite"
        ).parquet(stage_dir)
        try:
            os.rename(stage_dir, spool)
        except OSError:
            if not os.path.exists(f"{spool}/_SUCCESS"):
                raise  # lost a race AND the winner's spool is absent
            import shutil

            shutil.rmtree(stage_dir, ignore_errors=True)
    return spool


def _q_pages_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-pipeline query: canonical host (lowercased authority from
    the url) -> page count + distinct langs over the deterministic
    2000-page spool. Golden-VALUES oracle from the independent twin
    goldens.page_host_stats. At warehouse scale this is the classic
    per-host crawl-health aggregation: one shuffle on host, map-side
    partial aggregation."""
    pages = spark.read.parquet(_pages_spool(spark, 2000, 2))
    host = F.lower(F.regexp_extract("url", "^https?://([^/]+)", 1))
    return pages.groupBy(host.alias("host")).agg(
        F.count("*").alias("n_pages"),
        F.count_distinct("lang").alias("n_langs"),
    )


def _q_pages_crawl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-pipeline query: keep-latest re-crawl dedup. Pages whose
    numeric id divides by 3 are re-crawled 7 days later with the text
    revised; keep-latest per url (max-struct on warc_ts — the classic
    Common-Crawl canonical-snapshot rule) reports the re-crawled urls.
    One shuffle on url with map-side partial aggregation; golden
    VALUES oracle from the independent twin goldens.crawl_dedup."""
    pages = spark.read.parquet(_pages_spool(spark, 2000, 2))
    pid = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    recrawl = (
        pages.filter(pid % 3 == 0)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 7 DAYS"))
        .withColumn("text", F.concat(F.col("text"), F.lit(" (recrawl)")))
    )
    allc = pages.unionByName(recrawl)
    latest = F.max(
        F.struct(
            F.col("warc_ts").cast("long").alias("kept_ts"),
            F.length("text").alias("kept_len"),
        )
    ).alias("_l")
    return (
        allc.groupBy("url")
        .agg(F.count("*").alias("n_crawls"), latest)
        .filter(F.col("n_crawls") > 1)
        .select(
            "url",
            F.col("n_crawls").cast("int").alias("n_crawls"),
            F.col("_l.kept_ts").alias("kept_ts"),
            F.col("_l.kept_len").alias("kept_len"),
        )
    )


def _q_pages_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-pipeline query: URL canonicalization (urls.url_normalize —
    lowercase scheme/host, default-port strip, fragment drop,
    tracking-param drop + param sort, path tidy) demonstrated as the
    crawl-dedup join key. Pages with id % 3 == 0 get a deterministic
    cosmetic messy variant (urls.messy_variant, branch = id // 3);
    clean + messy rows grouped by canonical url report
    (url_norm, n_raw, n_distinct_raw). The whole normalizer is one
    codegen'd Column tree — no UDF, no extra shuffle beyond the final
    groupBy. Golden-VALUES oracle from the INDEPENDENT urllib.parse
    twin goldens.url_normalize_py (different parser family)."""
    from geospark.urls import messy_variant, url_normalize

    pages = spark.read.parquet(_pages_spool(spark, 2000, 2))
    pid = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    subset = pages.filter(pid % 3 == 0).select("url", pid.alias("pid"))
    messy = subset.select(
        messy_variant(F.col("url"), (F.col("pid") / 3).cast("long")).alias("url")
    )
    raw = subset.select("url").unionByName(messy)
    return (
        raw.groupBy(url_normalize(F.col("url")).alias("url_norm"))
        .agg(
            F.count("*").cast("int").alias("n_raw"),
            F.count_distinct("url").cast("int").alias("n_distinct_raw"),
        )
    )


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity timeout) over the
    events table — per (user, session): count, start/end, dwell, and
    the value sum in integer cents. ONE shuffle: the windows cluster
    on user_id and HashPartitioning(user_id) already satisfies the
    session rollup's ClusteredDistribution (test_sessions asserts a
    single Exchange). All arithmetic is integer microseconds/cents,
    so the DuckDB twin (sessions.sessionize_sql) is engine-exact."""
    from geospark.sessions import sessionize

    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


SESSION_OVERLAP_BUCKET_US = 3_600_000_000  # 1 h
SESSION_OVERLAP_GAP_US = 300_000_000       # 5 min (short, sparse sessions)


def _q_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-active session pairs (asof.interval_join): sessionize the
    events table, then interval x interval OVERLAP self-join — every
    cross-user pair of sessions whose closed [start_us, end_us]
    intervals intersect, rolled up per (user_lo, user_hi) with the
    exact integer overlap sum. The temporal-range join Spark lacks
    natively, re-expressed as 1-hour time-bucket chunking with the
    each-pair-exactly-once bucket rule (bucket == floor(max(starts)/W)
    in the join condition — no distinct pass). The DuckDB oracle is a
    brute-force O(n^2) range join over the same sessionize_sql
    relation — an independent join algorithm, so green certifies the
    chunking's recall, not a plan echo. The 5-min gap (vs the default
    30-min) keeps sessions short: with the synthetic ~26-min mean
    inter-event spacing a 30-min gap chains most users into multi-day
    sessions and the overlap graph degenerates toward all-pairs."""
    from geospark.asof import interval_join
    from geospark.sessions import sessionize

    s = sessionize(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        gap_us=SESSION_OVERLAP_GAP_US,
    ).select("user_id", "session_idx", "start_us", "end_us")
    pairs = interval_join(s, s, SESSION_OVERLAP_BUCKET_US)
    return (
        pairs.filter(F.col("l_user_id") < F.col("r_user_id"))
        .groupBy(
            F.col("l_user_id").alias("user_lo"),
            F.col("r_user_id").alias("user_hi"),
        )
        .agg(
            F.count("*").alias("n_session_pairs"),
            F.sum("overlap_us").alias("overlap_us_sum"),
        )
    )


def _q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click attribution: each purchase matched to the user's
    most recent click at-or-before the purchase timestamp — the as-of
    join (geospark.asof), ONE shuffle on user_id via union + window,
    no range self-join. The DuckDB oracle uses the engine's NATIVE
    ASOF JOIN, i.e. a genuinely independent algorithm for the same
    semantics. Tie rule both sides: several clicks at one (user, ts)
    resolve to the max event_id; unmatched purchases carry -1."""
    from geospark.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(purchases, clicks, by="user_id")
    return out.select(
        "purchase_id",
        "user_id",
        F.coalesce("click_id_r", F.lit(-1)).alias("click_id"),
        F.coalesce(
            F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
            - F.floor(
                F.unix_micros(F.col("ts_r").cast("timestamp")) / 1_000_000
            ),
            F.lit(-1),
        ).alias("gap_s"),
    )


TRAJ_COVER_Z = 5


def _q_traj_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector->raster: rasterize every user trajectory's segments into
    the zoom-5 tiles they cross (cells.segment_tile_cover — scanline
    supercover, output-linear explode, all JVM codegen) and aggregate
    per tile. One shuffle (user window) + one shuffle (tile agg)."""
    from geospark.cells import segment_tile_cover

    pts = G.events_points(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        pts.select("user_id", "ts", "event_id", "lat", "lng")
        .withColumn("lat0", F.lag("lat").over(w))
        .withColumn("lng0", F.lag("lng").over(w))
        .filter(F.col("lat0").isNotNull())
        .select("user_id", "lat0", "lng0",
                F.col("lat").alias("lat1"), F.col("lng").alias("lng1"))
    )
    cov = segment_tile_cover(seg, TRAJ_COVER_Z)
    return cov.groupBy("tile_x", "tile_y").agg(
        F.count("*").alias("n_segs"),
        F.countDistinct("user_id").alias("n_users"),
    )


POLY_RASTER_Z = 6


def _demo_rings_rows() -> list[tuple[int, list[tuple[float, float]]]]:
    """All demo rings (outers + holes) as (area_id, vertex list)."""
    rows = []
    for aid, spec in G.DEMO_RINGS.items():
        rings = list(spec["outers"]) + [
            r for holes in spec["inners"] for r in holes
        ]
        for ring in rings:
            rows.append(
                (aid, [(float(la), float(ln)) for la, ln in ring])
            )
    return rows


def _q_polygon_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon -> tile cover with boundary/interior classification
    (raster.polygon_tile_cover): ring-edge supercover plus scanline
    parity fill at tile centers — fully relational, holes handled by
    parity. Rasterizes the demo layer (hole included) at zoom 6."""
    from geospark.raster import polygon_tile_cover

    rings = spark.createDataFrame(
        _demo_rings_rows(),
        "area_id long, ring array<struct<lat: double, lng: double>>",
    )
    return polygon_tile_cover(rings, POLY_RASTER_Z)


def _q_tile_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector: greedy rectangle decomposition
    (raster.vectorize_tiles — two gaps-and-islands window passes) of
    the demo layer's z-6 rasterization. Chained on polygon_tile_cover
    so the round trip polygon -> tiles -> rectangles is exercised
    end-to-end; the oracle recomputes BOTH halves in DuckDB."""
    from geospark.raster import polygon_tile_cover, vectorize_tiles

    rings = spark.createDataFrame(
        _demo_rings_rows(),
        "area_id long, ring array<struct<lat: double, lng: double>>",
    )
    return vectorize_tiles(polygon_tile_cover(rings, POLY_RASTER_Z))


def _event_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bid, ring): 101 deterministic quads anchored at each event-id
    bucket's min event point — exact integer-derived doubles, so the
    DuckDB oracle reproduces every vertex bit-for-bit."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    anch = ev.groupBy((F.col("event_id") % 101).alias("bid")).agg(
        F.min("event_id").alias("eid")
    )
    clat = ((F.col("eid") * 7919) % 16000) / 100.0 - 80.0
    clng = ((F.col("eid") * 104729) % 36000) / 100.0 - 180.0
    hl = 2.0 + (F.col("bid") % 7).cast("double")
    hg = 3.0 + (F.col("bid") % 11).cast("double")

    def v(latc, lngc):
        return F.struct(latc.alias("lat"), lngc.alias("lng"))

    return anch.select(
        "bid",
        F.array(
            v(clat - hl, clng - hg), v(clat - hl, clng + hg),
            v(clat + hl, clng + hg), v(clat + hl, clng - hg),
        ).alias("ring"),
    )


def _q_polygon_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon x polygon overlay join (joins.polygon_overlap_join):
    the demo admin layer (hole included) against 101 deterministic
    quads anchored at each event-id bucket's min event point (exact
    integer-derived doubles — both engines reproduce them bit-for-
    bit). Candidates via tile-cover equi-join, exact refine =
    orientation edge-cross + even-odd ring-rep containment. The
    oracle is an independent NL derivation: interval logic for
    rep-in-quad, unrolled ring parity for rep-in-area."""
    from geospark.joins import polygon_overlap_join

    rings_a = spark.createDataFrame(
        _demo_rings_rows(),
        "area_id long, ring array<struct<lat: double, lng: double>>",
    )
    return polygon_overlap_join(
        rings_a, _event_quads(spark, sf_dir),
        zoom=POLY_RASTER_Z, area_b="bid",
    )


def _q_polygon_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIS dissolve (joins.polygon_dissolve): the 101 event quads
    labeled by transitive-overlap component — overlap self-join for
    the edge relation, large/small-star connected components for the
    contraction. Oracle: independent closed-interval rect overlap +
    recursive-CTE label flooding (a different closure algorithm)."""
    from geospark.joins import polygon_dissolve

    return polygon_dissolve(
        _event_quads(spark, sf_dir), zoom=POLY_RASTER_Z, area="bid"
    )


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the raster<->vector aggregation: event
    points binned to z-6 tiles, joined against each demo area's
    rasterized tile set (broadcast — the polygon raster is the small
    side), per-area point count / tile occupancy / value sum. The
    raster join makes 'points in polygon-shaped zone' one broadcast
    hash join on integer tile keys at tile precision."""
    from geospark.cells import with_tile
    from geospark.raster import polygon_tile_cover

    rings = spark.createDataFrame(
        _demo_rings_rows(),
        "area_id long, ring array<struct<lat: double, lng: double>>",
    )
    cover = polygon_tile_cover(rings, POLY_RASTER_Z).select(
        "area_id", "tile_x", "tile_y"
    )
    # bin points in the raster's OWN grid (floor of the continuous
    # tile — P3's pixel tile rounds y half a pixel differently, which
    # would disagree with the cover at hairline tile edges)
    pts = G.events_points(spark, sf_dir).select(
        F.floor(Ce.ctile_x(F.col("lng"), POLY_RASTER_Z)).alias("tile_x"),
        F.floor(Ce.ctile_y(F.col("lat"), POLY_RASTER_Z)).alias("tile_y"),
        "value",
    )
    return (
        pts.join(F.broadcast(cover), ["tile_x", "tile_y"])
        .groupBy("area_id")
        .agg(
            F.count("*").alias("n_points"),
            F.count_distinct("tile_x", "tile_y").alias("n_tiles_hit"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .alias("value_cents"),
        )
    )


TILE_PAYLOAD_Z = 4


def _tile_payload_rect() -> tuple[int, int, int, int]:
    """The z-4 continuous-tile rectangle of the demo BOX, computed
    host-side with the golden ctile twin so the Spark filter literals
    and the oracle use identical ints (the cover uses the continuous
    grid, not P3's rounded pixel tiles)."""
    import math as _math

    from geospark import goldens as GO

    lat_min, lng_min, lat_max, lng_max = BOX
    tx1 = _math.floor(GO.ctile(lat_min, lng_min, TILE_PAYLOAD_Z)[0])
    tx2 = _math.floor(GO.ctile(lat_min, lng_max, TILE_PAYLOAD_Z)[0])
    ty1 = _math.floor(GO.ctile(lat_max, lng_min, TILE_PAYLOAD_Z)[1])
    ty2 = _math.floor(GO.ctile(lat_min, lng_min, TILE_PAYLOAD_Z)[1])
    return tx1, ty1, tx2, ty2


def _q_tile_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile simplified geometry payloads — the tile-server leg of
    the raster<->vector story (SURVEY §7 item 7): per-user
    trajectories are DP-mask-simplified AT the payload zoom (M4),
    their segments supercover-rasterized to z-4 tiles (scanline,
    output-linear), and each tile in the demo-box rectangle gets its
    users' per-tile segment chains polyline-encoded (G1) and digested
    (md5 over the sorted 'uid:enc' strings — hash-strong but compact).
    Golden-VALUES oracle from goldens.tile_payload (independent mask,
    supercover and codec twins)."""
    from geospark import lines as L
    from geospark.cells import segment_tile_cover

    tx1, ty1, tx2, ty2 = _tile_payload_rect()
    # every 4th user: the query demos the composition (mask ->
    # supercover -> encode -> digest); the DP mask is the same
    # Python-bound kernel simplify_mask already times over ALL users
    pts = G.events_points(spark, sf_dir).filter(
        F.col("user_id") % 4 == 0
    )
    traj = (
        _user_lines(pts)
        .filter(F.size("line") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("mask", L.make_simplify_mask_udf()(F.col("line")))
        .withColumn(
            "sl",
            L.apply_simplify_mask_udf(TILE_PAYLOAD_Z)(
                F.col("mask"), F.col("line")
            ),
        )
        .filter(F.size("sl") >= 2)
    )
    segs = traj.select(
        "user_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(sl) - 2), i -> struct("
                "sl[i].lat AS lat0, sl[i].lng AS lng0, "
                "sl[i + 1].lat AS lat1, sl[i + 1].lng AS lng1))"
            )
        ).alias("seg_idx", "s"),
    ).select("user_id", "seg_idx", "s.lat0", "s.lng0", "s.lat1", "s.lng1")
    cover = segment_tile_cover(segs, TILE_PAYLOAD_Z).filter(
        (F.col("tile_x") >= tx1) & (F.col("tile_x") <= tx2)
        & (F.col("tile_y") >= ty1) & (F.col("tile_y") <= ty2)
    )
    per_user = (
        cover.groupBy("tile_x", "tile_y", "user_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.array_sort(
                F.collect_list(
                    F.struct("seg_idx", "lat0", "lng0", "lat1", "lng1")
                )
            ).alias("ss"),
        )
        .withColumn(
            "pts",
            F.expr(
                "flatten(transform(ss, s -> array("
                "struct(s.lat0 AS lat, s.lng0 AS lng), "
                "struct(s.lat1 AS lat, s.lng1 AS lng))))"
            ),
        )
        .withColumn("enc", L.encode_polyline_udf(5)(F.col("pts")))
    )
    return (
        per_user.groupBy("tile_x", "tile_y")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.sum("n_segs").alias("n_segs"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.array_sort(
                        F.collect_list(
                            F.concat_ws(":", F.col("user_id"), F.col("enc"))
                        )
                    ),
                )
            ).alias("payload_md5"),
        )
    )


S2_CHECK_MOD = 97003
S2_AGG_LEVEL, S2_AGG_PARENT = 3, 1
S2_JOIN_LEVEL = 3


HEX_RES = 7        # circumradius ~4.4 km in mercator meters
HEX_ROLLUP_RES = 3  # ~216 km — coarse enough that parents aggregate
HEX_RING_RES = 4   # ~82 km — k=2 ring spans a metro region
HEX_RING_K = 2


def _q_hex_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style hex binning (functions/hexgrid.py): aperture-7
    mercator hex index, pure JVM Column arithmetic (codegen, no UDF),
    closed-form DuckDB twin. One shuffle on the cell id,
    partial-aggregatable."""
    from geospark.functions import hexgrid as HX

    pts = G.events_points(spark, sf_dir)
    return (
        HX.with_hex_cell(pts, "lat", "lng", HEX_RES, "hex")
        .groupBy("hex")
        .agg(
            F.count("*").alias("n_points"),
            F.min("event_id").alias("min_event"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def _q_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aperture-7 rollup: child-level counts re-keyed by the ALGEBRAIC
    parent (inverse sublattice basis — trig-free integer math, no
    re-projection), then re-aggregated. The two-stage shape is the
    100-TB plan: the child agg is the expensive shuffle, the rollup
    rides on ~7x fewer rows."""
    from geospark.functions import hexgrid as HX

    pts = G.events_points(spark, sf_dir)
    child = (
        HX.with_hex_cell(pts, "lat", "lng", HEX_ROLLUP_RES, "hex")
        .groupBy("hex").agg(F.count("*").alias("n"))
    )
    return (
        child.withColumn("hex_parent", HX.hex_parent("hex"))
        .groupBy("hex_parent")
        .agg(
            F.sum("n").alias("n_points"),
            F.count("*").alias("n_children"),
        )
    )


def _q_hex_kring_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring neighbor join: each center's k=2 ring (19 cells) comes
    from pure integer shifts on the packed id — the join stays a
    broadcastable equi-join on the cell id, no geometry at join time.
    Per center: total points and non-empty cells within the ring."""
    from geospark.functions import hexgrid as HX

    pts = G.events_points(spark, sf_dir)
    cells = (
        HX.with_hex_cell(pts, "lat", "lng", HEX_RING_RES, "hex")
        .groupBy("hex").agg(F.count("*").alias("n"))
    )
    centers = HX.with_hex_cell(
        pts.filter(F.col("event_id") < 40), "lat", "lng", HEX_RING_RES,
        "c_hex",
    ).select("event_id", "c_hex")
    probes = centers.select(
        "event_id",
        F.explode(F.array(*[
            HX.hex_shift("c_hex", dq, dr)
            for dq, dr in HX.kring_offsets(HEX_RING_K)
        ])).alias("hex"),
    )
    # inner broadcast join (build side = tiny probe list; the big
    # cell relation streams), then a broadcast fill-join so centers
    # with an empty ring still report zeros
    hits = (
        cells.join(F.broadcast(probes), "hex")
        .groupBy("event_id")
        .agg(
            F.sum("n").alias("_n_in_ring"),
            F.count("n").alias("_n_cells_hit"),
        )
    )
    return centers.select("event_id").join(
        F.broadcast(hits), "event_id", "left"
    ).select(
        "event_id",
        F.coalesce("_n_in_ring", F.lit(0)).alias("n_in_ring"),
        F.coalesce("_n_cells_hit", F.lit(0)).alias("n_cells_hit"),
    )


OD_ZOOM = 4


def _q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix: each user's FIRST and LAST
    event (deterministic (ts, event_id) order via min_by/max_by on a
    struct key — no window, no sort), binned to z4 webmercator tiles,
    aggregated into per-(from, to) flows with user counts and mean
    trip value. Two shuffles total (user agg + flow agg), both
    partial-aggregatable — the mobility-analytics staple at any
    scale."""
    pts = G.events_points(spark, sf_dir)
    key = F.struct("ts", "event_id")
    ends = pts.groupBy("user_id").agg(
        F.min_by(F.struct("lat", "lng"), key).alias("o"),
        F.max_by(F.struct("lat", "lng"), key).alias("d"),
        F.count("*").alias("n_ev"),
        # integer cents: exact, immune to cross-engine float-sum order
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .alias("value_cents"),
    )
    ends = ends.select(
        "user_id", "n_ev", "value_cents",
        K.latlng_to_tile_x(F.col("o.lng"), OD_ZOOM).alias("from_x"),
        K.latlng_to_tile_y(F.col("o.lat"), OD_ZOOM).alias("from_y"),
        K.latlng_to_tile_x(F.col("d.lng"), OD_ZOOM).alias("to_x"),
        K.latlng_to_tile_y(F.col("d.lat"), OD_ZOOM).alias("to_y"),
    )
    return ends.groupBy("from_x", "from_y", "to_x", "to_y").agg(
        F.count("*").alias("n_users"),
        F.sum("n_ev").alias("n_events"),
        F.sum("value_cents").alias("value_cents"),
    )


RESAMPLE_STEP_M = 2_000_000.0  # 2000 km ticks over transcontinental demo trajectories


def _q_traj_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-interval trajectory resampling (lines.resample): one
    window shuffle (lag + integer-centimeter cumsum share the (user,
    ts, event_id) partitioning) + a per-segment sequence() explode —
    tick-linear output, no Python. The cm quantization makes the
    running arc length exact integer math, so the DuckDB twin's
    window sum cannot drift by a float-summation-order ulp."""
    from geospark import lines as L

    pts = G.events_points(spark, sf_dir)
    out = L.resample(pts, RESAMPLE_STEP_M)
    return out.select(
        "user_id", "tick_idx",
        F.round("r_lat", 7).alias("r_lat"),
        F.round("r_lng", 7).alias("r_lng"),
    )


DBSCAN_EPS, DBSCAN_MIN_PTS = 250_000.0, 4


def _q_density_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core/border/noise labeling (geospark/density.py): the
    eps-pair relation reuses cluster_nearby's latitude-aware cell-cover
    self-join (density-bounded candidates, never O(n^2)); the labels
    are one count aggregate + one semi-join against the core set. The
    oracle is a brute-force all-pairs haversine join (lat-band
    prefiltered), so green certifies the cover's recall, the exact
    <= eps predicate, and both label rules."""
    from geospark.density import density_classify

    pts = G.events_points(spark, sf_dir)
    return density_classify(pts, DBSCAN_EPS, DBSCAN_MIN_PTS,
                            id_col="event_id")


GEOHASH_CHARS = 6    # ~1.2 km x 0.6 km cells
GEOHASH_PREFIX = 2   # parent rollup ~1250 km x 625 km (real fan-in)
HLL_GH_CHARS = 1     # 32 world cells: NDV/cell straddles m, so BOTH
HLL_P = 6            # HLL branches (raw + linear counting) execute


def _q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash index family (functions/geohash.py): flat bit-interleave
    encode (depth-2 codegen plan, no Morton-spread chains), prefix
    rollup (parent = substring — zero math), and cell-center decode on
    the ~39 km parents AFTER the aggregate, so the 100-TB scan does
    one narrow JVM map + one shuffle and the trig-free decode runs on
    cell-count rows. Per 4-char parent: point count, distinct 6-char
    children, decoded parent center."""
    from geospark.functions import geohash as GH

    pts = G.events_points(spark, sf_dir)
    d = GH.with_geohash(pts, "lat", "lng", GEOHASH_CHARS, out="gh",
                        keep_code=True)
    cells = (
        d.groupBy(F.substring("gh", 1, GEOHASH_PREFIX).alias("gh_parent"))
        .agg(
            F.count("*").alias("n_points"),
            F.count_distinct("gh").alias("n_cells"),
            F.min("gh_code").alias("_min_code"),
        )
    )
    # parent integer code = any child code >> 5*(chars-prefix): the
    # prefix property in bit form. Decoding after the aggregate keeps
    # the deinterleave off the full scan AND gives the optimizer an
    # Aggregate boundary (encode->decode in one projection chain would
    # re-inline the interleave per reference under predicate pushdown).
    cells = cells.withColumn(
        "_pcode",
        F.shiftright("_min_code", 5 * (GEOHASH_CHARS - GEOHASH_PREFIX)),
    )
    cells = GH.with_geohash_center(cells, "_pcode", GEOHASH_PREFIX,
                                   "c_lat", "c_lng")
    return cells.select(
        "gh_parent", "n_points", "n_cells",
        F.round("c_lat", 6).alias("c_lat"),
        F.round("c_lng", 6).alias("c_lng"),
    )


def _q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-users-per-cell (geospark/sketch.py): the
    register relation is ~2^p rows per cell and MERGEABLE (max is the
    sketch union), so day/tile rollups at 100 TB reuse persisted
    sketches instead of rescanning raw events. Engine-neutral md5-60
    hash + exact-integer Z accumulator make the estimate bit-stable
    across Spark and the DuckDB oracle; the exact NDV rides along
    (item->register is a function) as the ground-truth column."""
    from geospark import sketch as SK
    from geospark.functions import geohash as GH

    pts = G.events_points(spark, sf_dir)
    d = GH.with_geohash(pts, "lat", "lng", HLL_GH_CHARS, out="gh")
    out = SK.hll_sketch(d.select("gh", "user_id"), ["gh"], "user_id",
                        p=HLL_P)
    return out.select(
        "gh", "regs_hit",
        F.round("est_users", 3).alias("est_users"),
        "exact_users",
    )


GH_RING_CHARS = 4    # ~39 km cells; 3x3 ring ~ a metro region


def _q_geohash_kring_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash k=1 ring neighbor join: neighbors are ±1 integer steps
    on the QUANTIZED AXES (wrapping in longitude, NULL past a pole) —
    never string munging on the base-32 form — re-interleaved to cell
    codes, so the join is a broadcastable equi-join on a long key with
    no geometry at join time. Per center: points and non-empty cells
    in its 3x3 block."""
    from geospark.functions import geohash as GH

    pts = G.events_points(spark, sf_dir)
    binned = GH.with_geohash_int(pts, "lat", "lng", GH_RING_CHARS, "cell")
    cells = binned.groupBy("cell").agg(F.count("*").alias("n"))
    centers = GH.with_geohash_axes(
        pts.filter(F.col("event_id") < 40), "lat", "lng", GH_RING_CHARS,
        "ilng", "ilat",
    ).select("event_id", "ilng", "ilat")
    probes = centers.select(
        "event_id",
        F.explode(F.array(*[
            GH.neighbor_code(F.col("ilng"), F.col("ilat"), GH_RING_CHARS,
                             dq, dr)
            for dq, dr in GH.kring_offsets(1)
        ])).alias("cell"),
    ).filter(F.col("cell").isNotNull())
    hits = (
        cells.join(F.broadcast(probes), "cell")
        .groupBy("event_id")
        .agg(
            F.sum("n").alias("_n_in_ring"),
            F.count("n").alias("_n_cells_hit"),
        )
    )
    return centers.select("event_id").join(
        F.broadcast(hits), "event_id", "left"
    ).select(
        "event_id",
        F.coalesce("_n_in_ring", F.lit(0)).alias("n_in_ring"),
        F.coalesce("_n_cells_hit", F.lit(0)).alias("n_cells_hit"),
    )


def _q_hll_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL MERGEABILITY contract as a driver query: per-child-cell
    register relations (2-char geohash) are merged to the 1-char
    parent with groupBy-max — the 100-TB rollup path that never
    rescans raw events — and the estimates are checked against an
    oracle that sketches the PARENT DIRECTLY from raw rows. Green ==
    merge(children) is bit-identical to sketch(union), the associativity
    that makes persisted sketches reusable across days/tiles/zooms."""
    from geospark import sketch as SK
    from geospark.functions import geohash as GH

    pts = G.events_points(spark, sf_dir)
    d = GH.with_geohash_int(pts, "lat", "lng", 2, out="cell2")
    child = SK.hll_registers(d.select("cell2", "user_id"), ["cell2"],
                             "user_id", p=HLL_P)
    merged = SK.hll_merge(
        child.withColumn("cell1", F.shiftright("cell2", 5)), ["cell1"]
    )
    est = SK.hll_estimate(merged, ["cell1"], p=HLL_P, exact=False)
    n_children = (
        child.select(F.shiftright("cell2", 5).alias("cell1"), "cell2")
        .groupBy("cell1")
        .agg(F.count_distinct("cell2").alias("n_child_cells"))
    )
    return est.join(n_children, "cell1").select(
        "cell1", "n_child_cells", "regs_hit",
        F.round("est_users", 3).alias("est_users"),
    )


CMS_D, CMS_W = 4, 1024   # 4 rows x 1024 buckets: 4096-cell sketch state
CMS_PHI = 1000           # heavy hitter = estimate >= N/1000 occurrences
BLOOM_K, BLOOM_M = 7, 1 << 14


def _bigram_occurrences(docs: DataFrame) -> DataFrame:
    """One row per token-bigram OCCURRENCE (single-space tokenizer,
    matching the DuckDB twin's string_split).  The token array is
    staged once; docs under 2 tokens contribute nothing (same as the
    oracle's empty range(1, len))."""
    base = docs.select(F.split(F.col("text"), " ").alias("_t")) \
        .filter(F.size("_t") >= 2)
    return base.select(
        F.explode(F.expr(
            "transform(sequence(0, size(_t) - 2),"
            " i -> concat_ws(' ', _t[i], _t[i + 1]))"
        )).alias("bigram")
    )


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter bigrams (geospark/sketch.py): the sketch
    is a <= d*w-row relation no matter the corpus size — map-side
    partial aggregation compresses each task to <= 4096 cells before
    the one tiny shuffle, and sketches MERGE by sum (per-day /
    per-partition sketches roll up without rescanning text).  CMS
    never underestimates, so every true heavy hitter (count >= N/1000)
    survives the estimate filter; the exact count rides along as the
    oracle's ground-truth column.  Engine-neutral row-salted md5-60
    buckets + integer sum/min keep Spark and DuckDB bit-identical."""
    from geospark import sketch as SK

    bg = _bigram_occurrences(_docs(spark, sf_dir))
    sk = SK.cms_table(bg, [], "bigram", d=CMS_D, w=CMS_W)
    est = SK.cms_lookup(sk, bg.distinct(), [], "bigram", d=CMS_D, w=CMS_W)
    exact = bg.groupBy("bigram").agg(F.count("*").alias("exact_cnt"))
    total = bg.agg(F.count("*").alias("_n"))
    return (
        est.join(exact, "bigram")
        .crossJoin(F.broadcast(total))
        .filter(F.col("est_cnt") >= F.col("_n") / F.lit(float(CMS_PHI)))
        .select("bigram", "est_cnt", "exact_cnt")
    )


def _q_bloom_crawl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter crawl membership (geospark/sketch.py): docs with
    doc_id % 3 == 0 play the already-ingested corpus; its filter state
    is the DISTINCT lit-bit relation (<= 2^14 longs — broadcastable,
    union-mergeable, incrementally extensible), probed by every
    re-crawled doc's content hash.  A present text is ALWAYS maybe
    (no false negatives — the property that makes the filter a safe
    pre-join pass at 100 TB); `present` is the exact membership the
    oracle checks the maybe-bit against."""
    from geospark import sketch as SK

    docs = _docs(spark, sf_dir)
    probes = docs.select("doc_id", F.md5("text").alias("h"))
    prior = docs.filter(F.col("doc_id") % 3 == 0) \
        .select(F.md5("text").alias("h"))
    bits = SK.bloom_bits(prior, "h", k=BLOOM_K, mbits=BLOOM_M)
    maybe = SK.bloom_probe(bits, probes, "h", k=BLOOM_K, mbits=BLOOM_M)
    seen = prior.distinct().withColumn("_p", F.lit(1))
    return (
        probes.join(F.broadcast(maybe), "h")
        .join(F.broadcast(seen), "h", "left")
        .select(
            "doc_id",
            F.col("bloom_maybe").cast("long").alias("bloom_maybe"),
            F.coalesce("_p", F.lit(0)).cast("long").alias("present"),
        )
    )


STAY_D_MAX_M = 5_000_000          # synthetic pings are continent-scale
STAY_MIN_DWELL_US = 3_600_000_000  # 1 h


def _q_staypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (lines.staypoints): maximal consecutive
    runs whose step distance stays <= d_max, kept at dwell >= 1 h —
    GPS streams -> visit records, ONE exchange on user_id (lag/cumsum
    windows + segment rollup + stay re-numbering all cluster on the
    user key).  Integer-exact determinism: floor(haversine) meters for
    the step test, integer-microsecond dwell, floor-divided x1e7
    fixed-point centroid."""
    from geospark import lines as L

    pts = G.events_points(spark, sf_dir)
    return L.staypoints(pts, STAY_D_MAX_M, STAY_MIN_DWELL_US)


COLOC_D_M = 300_000                # continent-scale synthetic pings
COLOC_T_US = 6 * 3_600_000_000     # 6 h


def _q_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal co-location (geospark/colocate.py): user pairs
    within 300 km AND 6 h of each other — encounter mining as ONE
    (cell, time-bucket) hash equi-join instead of a quadratic range
    self-join.  The left side explodes the latitude-aware d-disk cover
    x two time replicas; every qualifying pair matches exactly one
    join key, so no dedup pass.  The DuckDB oracle is the NAIVE range
    join (a genuinely independent algorithm) — green certifies the
    bucketed plan finds exactly the brute-force pair set."""
    from geospark.colocate import colocate_pairs

    pts = G.events_points(spark, sf_dir)
    return colocate_pairs(pts, COLOC_D_M, COLOC_T_US)


def _demo_ring_rows() -> list[tuple]:
    """The demo polygon layer's rings as a vertex relation — shared
    verbatim by the Spark query and the oracle's VALUES twin."""
    rows = []
    for aid, spec in G.DEMO_RINGS.items():
        for ri, ring in enumerate(spec["outers"]):
            for vi, (la, ln) in enumerate(ring):
                rows.append((aid, "outer", ri, vi, float(la), float(ln)))
        k = 0
        for inner_list in spec["inners"]:
            for ring in inner_list:
                for vi, (la, ln) in enumerate(ring):
                    rows.append((aid, "inner", k, vi, float(la),
                                 float(ln)))
                k += 1
    return rows


def _q_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact signed ring areas (lines.ring_shoelace) over the demo
    polygon layer: twice the shoelace area in (1e-5 deg)^2 units as an
    exact BIGINT (quantized vertices, integer cross products — no
    float summation), plus the winding sign.  ONE shuffle on the ring
    key; the oracle runs the identical window algebra in DuckDB over
    the same VALUES geometry."""
    from geospark.lines import ring_shoelace

    v = spark.createDataFrame(
        _demo_ring_rows(),
        "area_id long, ring_kind string, ring_idx long, vtx_idx long, "
        "lat double, lng double",
    )
    return ring_shoelace(v, ["area_id", "ring_kind", "ring_idx"])


FRECHET_REF = [(la, ln) for _i, la, ln in G.DEMO_CENTERS]


def _q_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fréchet distance (lines.frechet_to_ref) of every
    user's trajectory against the 4-city demo reference path — the
    trajectory-similarity operator.  The distance matrix floors to
    integer meters BEFORE the int64 max/min DP; the oracle twin
    (goldens.frechet_to_ref_py) is a recursive-memo implementation of
    the same coupling, so green means two algorithms agree exactly."""
    from geospark.lines import frechet_to_ref

    return frechet_to_ref(G.events_points(spark, sf_dir), FRECHET_REF)


def _q_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric Hausdorff distance (lines.hausdorff_to_ref) of every
    user's point set against the 4-city demo reference — the
    order-insensitive similarity that complements frechet (a user who
    visits the cities BACKWARD scores the same here but pays the full
    path under frechet).  Pure relational plan: literal-array explode
    + two partial-aggregatable min/max trees over floor-int meters, no
    join and no Python; the oracle is an independent SQL derivation of
    the same max-min semantics."""
    from geospark.lines import hausdorff_to_ref

    return hausdorff_to_ref(G.events_points(spark, sf_dir), FRECHET_REF)


def _q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user convex hull (geospark/hull.py): exact x1e7 fixed-point
    monotone chain in one Arrow-batched grouped kernel — integer cross
    products, no epsilon, canonical CCW order.  The oracle is a JARVIS
    MARCH (goldens.convex_hull_jarvis) — a different algorithm that
    must reproduce every vertex exactly."""
    from geospark.hull import convex_hull

    return convex_hull(G.events_points(spark, sf_dir))


PR_EDGE_SALTS = [(1, 7919), (2, 104729), (3, 999983)]
PR_ITERS = 5


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (graph.pagerank) over a deterministic
    3-out-regular link graph on the event ids — crawl/link-authority
    scoring whose fixed-point arithmetic (BIGINT floor divisions only)
    makes every rank bit-reproducible in any engine: the DuckDB oracle
    re-runs all 5 iterations as unrolled CTEs and must match every
    rank EXACTLY, not approximately."""
    from geospark.graph import pagerank

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("node"))
    nn = ev.agg(F.count("*").alias("_n"))
    edges = ev.crossJoin(F.broadcast(nn)).select(
        F.col("node").alias("src"),
        F.explode(F.array(*[
            (F.col("node") * F.lit(p) + F.lit(j)) % F.col("_n")
            for j, p in PR_EDGE_SALTS
        ])).alias("dst"),
    )
    return pagerank(ev, edges, iters=PR_ITERS)


PQ_M = 4
PQ_CODES = 16


def _q_emb_pq(spark, sf_dir):
    """Integer-exact product quantization + ADC top-k
    (embeddings.pq_topk): components quantized to floor(x*1e6)
    BIGINTs so every code assignment and ADC distance is a pure
    integer sum — deterministic in any engine. Corpus compresses to
    m codes/vector MAP-SIDE (codebook inlined as literal arrays, no
    join/shuffle); per query the ADC distance is m integer array
    lookups ending in a TakeOrdered top-k heap. Oracle = an
    independent plain-Python PQ (goldens.pq_topk_py)."""
    from geospark.embeddings import pq_topk

    return pq_topk(_emb(spark, sf_dir), EMB_QUERY_IDS, k=10,
                   m=PQ_M, n_codes=PQ_CODES, arrow=True)


KM_K, KM_ITERS = 8, 3


def _q_emb_kmeans(spark, sf_dir):
    """Integer-exact k-means codebook training (embeddings.kmeans_fit)
    — the trainer that feeds ivf_assign/pq_codebook real centroids.
    All executor math is exact integer arithmetic on floor(x*1e6)
    BIGINT components; each Lloyd iteration is ONE mapInArrow pass
    (numpy assignment + per-centroid sums per partition, at most k
    rows per task, no shuffle); only model-sized (sum, count) rows
    reach the driver.  Output certifies the trained model per centroid:
    assignment count, exact BIGINT inertia, and component
    sum/min/max of the final centroid.  Oracle = an
    independent-algorithm plain-Python Lloyd (goldens.kmeans_py)."""
    from geospark.embeddings import kmeans_fit

    a, cents = kmeans_fit(_emb(spark, sf_dir), k=KM_K, iters=KM_ITERS)
    per = a.groupBy("centroid_id").agg(
        F.count("*").alias("n"), F.sum("d2").alias("inertia"))
    cstats = spark.createDataFrame(
        [(int(i), int(sum(c)), int(min(c)), int(max(c)))
         for i, c in enumerate(cents)],
        "centroid_id int, c_sum long, c_min long, c_max long")
    return per.join(F.broadcast(cstats), "centroid_id").select(
        "centroid_id", "n", "inertia", "c_sum", "c_min", "c_max")


IVF_T_PROBE = 3
IVFPQ_PROBE = 3
PQ_RERANK = 40


def _q_emb_semdedup(spark, sf_dir):
    """SemDeDup (embeddings.semdedup, Abbas et al. 2023): k-means
    clusters bound the pairwise cosine comparison (the paper's n^2 ->
    sum(|cluster|^2) trick); one grouped-map numpy kernel per
    cluster tests every pair on exact int64 Gram tiles and closes the
    duplicates transitively by min-id label propagation, canonical =
    min vec_id. Integer-exact (the trained 1e6 quantization
    floor-divided to 1e3, integer cosine predicate
    400*dot^2 > 49*|a|^2*|b|^2), so the independent twin
    goldens.semdedup_py (union-find, brute pairs) replays it
    bit-identically."""
    from geospark.embeddings import semdedup

    return semdedup(_emb(spark, sf_dir), n_centroids=KM_K, iters=KM_ITERS)


def _q_emb_pq_rerank(spark, sf_dir):
    """PQ-ADC shortlist + exact rerank (embeddings.pq_topk_rerank) —
    the production two-stage ANN read path: codes-only ADC prunes to
    40 candidates/query, exact integer L2 re-scores only that
    broadcast shortlist. Zero corpus shuffles; the float corpus is
    read once for quantization. Oracle: the plain-Python twin
    goldens.pq_rerank_py (ADC + exact rerank, bit-identical)."""
    from geospark.embeddings import pq_topk_rerank

    return pq_topk_rerank(
        _emb(spark, sf_dir), EMB_QUERY_IDS, k=10, rerank=PQ_RERANK,
        m=PQ_M, n_codes=PQ_CODES, arrow=True,
    )


def _q_emb_ivfpq(spark, sf_dir):
    """IVF-PQ composed ANN (embeddings.ivfpq_topk): kmeans-trained
    coarse quantizer prunes to n_probe inverted lists, candidates
    scored by residual-PQ ADC — the canonical billion-vector layout
    (IVFADC). Integer-exact throughout (floor(x*1e6) BIGINT sums), so
    the plain-Python twin goldens.ivfpq_py replays it bit-identically.
    Plan: map-side assignment + residual + encode (centroids and the
    residual codebook are literal arrays — zero corpus joins), the
    corpus persists as an m-byte codes relation, probe LUTs broadcast
    as a |Q|*n_probe-row relation, ADC = m array lookups in codegen,
    per-query top-k over only the probed lists."""
    from geospark.embeddings import ivfpq_topk

    return ivfpq_topk(
        _emb(spark, sf_dir), EMB_QUERY_IDS, k=10,
        n_centroids=KM_K, iters=KM_ITERS, n_probe=IVFPQ_PROBE,
        m=PQ_M, n_codes=PQ_CODES, arrow=True,
    )


def _q_emb_ivf_trained(spark, sf_dir):
    """IVF-flat ANN over kmeans_fit-TRAINED centroids
    (embeddings.ivf_topk_trained) — the trainer wired to the index
    (VERDICT r03 task #4). Integer-exact end to end: coarse quantizer
    = Lloyd-trained floor(x*1e6) centroids, probe selection and
    candidate re-rank are exact integer L2, so the top-k replays
    bit-identically in the plain-Python twin (goldens.ivf_trained_py).
    Plan: map-side probe projection on a broadcast |Q|-row relation,
    ONE broadcast join against the assignment (corpus never
    shuffles), codegen zip_with/aggregate re-rank fold."""
    from geospark.embeddings import ivf_topk_trained

    return ivf_topk_trained(
        _emb(spark, sf_dir), EMB_QUERY_IDS, k=10,
        n_centroids=KM_K, iters=KM_ITERS, n_probe=IVF_T_PROBE,
    )


def _oracle_vecs() -> list[tuple[int, list[float]]]:
    """(vec_id, embedding) at the oracle SF ordered by vec_id."""
    import duckdb

    con = duckdb.connect()
    pdf = con.sql(
        f"SELECT vec_id, embedding FROM read_parquet("
        f"'{_oracle_sf_dir()}/embeddings.parquet') ORDER BY vec_id"
    ).df()
    return [(int(i), [float(x) for x in v])
            for i, v in zip(pdf["vec_id"], pdf["embedding"])]


TRI_EDGE_SALTS = PR_EDGE_SALTS + [(4, 31337), (5, 6700417), (6, 179424673)]


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (graph.triangle_count) over a denser
    6-salt deterministic link graph on the event ids. The engine uses
    DEGREE-ordered orientation (out-degree O(sqrt m) — no celebrity
    hot vertex); the oracle closes wedges with plain NODE-order
    orientation — a different intermediate relation, so green
    certifies the triangle semantics, not the plan."""
    from geospark.graph import triangle_count

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("node"))
    nn = ev.agg(F.count("*").alias("_n"))
    edges = ev.crossJoin(F.broadcast(nn)).select(
        F.col("node").alias("src"),
        F.explode(F.array(*[
            (F.col("node") * F.lit(p) + F.lit(j)) % F.col("_n")
            for j, p in TRI_EDGE_SALTS
        ])).alias("dst"),
    )
    return triangle_count(edges)


GCC_CHAIN = 5       # chain edges i -> i+1 except every 5th (chains of 5)
GCC_MERGE_MOD = 37  # every 37th node gets one long-range merge edge
GCC_MERGE_MUL = 13
GCC_MERGE_ADD = 5


SSSP_SOURCES = [0, 1, 2]          # hub nodes; hub_mod = 3
SSSP_HOPS = 6                     # exact over paths of <= 6 edges
SSSP_WA, SSSP_WB, SSSP_WMOD = 2654435761, 40503, 1000


def _q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest paths (graph.sssp): the routing
    primitive — Bellman-Ford over the deterministic 3-out-regular
    event graph with hash-derived BIGINT edge weights, every reached
    node labeled (dist, nearest hub, ties to the smaller hub).
    Bounded at 6 relaxation rounds so the result is a pure function
    of the graph: the oracle re-runs all 6 rounds as unrolled CTEs on
    the single min-merged BIGINT key (dist * 3 + hub) and must match
    every distance and hub EXACTLY.  Spark side is frontier-pruned
    (only improved nodes join the edge relation each round) with the
    pluggable spool between rounds — same answer, a fraction of the
    shuffle volume once the frontier collapses."""
    from geospark.graph import sssp

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("node"))
    nn = ev.agg(F.count("*").alias("_n"))
    edges = ev.crossJoin(F.broadcast(nn)).select(
        F.col("node").alias("src"),
        F.explode(F.array(*[
            (F.col("node") * F.lit(p) + F.lit(j)) % F.col("_n")
            for j, p in PR_EDGE_SALTS
        ])).alias("dst"),
    ).select(
        "src", "dst",
        (F.lit(1) + (F.col("src") * F.lit(SSSP_WA)
                     + F.col("dst") * F.lit(SSSP_WB)) % F.lit(SSSP_WMOD)
         ).alias("w"),
    )
    return sssp(edges, SSSP_SOURCES, hops=SSSP_HOPS)


def _q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (graph.connected_components — the
    alternating large-star/small-star contraction, the primitive
    behind polygon_dissolve, near-dup doc clustering, and
    cluster_nearby) exposed as a first-class query: a deterministic
    chains-of-5 + sparse long-range-merge graph on the event ids,
    each node labeled with its min-id component and the component
    size. Isolated nodes (possible when n % 5 == 1 strands the last
    node) keep their own label via the left-join contract the
    function documents. The oracle floods labels through a recursive
    CTE — a different closure algorithm entirely, so green certifies
    component semantics, not the star-contraction plan."""
    from geospark.graph import connected_components

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("node"))
    nn = ev.agg(F.count("*").alias("_n"))
    base = ev.crossJoin(F.broadcast(nn))
    chain = base.filter(
        (F.col("node") % GCC_CHAIN != GCC_CHAIN - 1)
        & (F.col("node") + 1 < F.col("_n"))
    ).select(F.col("node").alias("src"), (F.col("node") + 1).alias("dst"))
    mrg = base.filter(F.col("node") % GCC_MERGE_MOD == 0).select(
        F.col("node").alias("src"),
        ((F.col("node") * GCC_MERGE_MUL + GCC_MERGE_ADD) % F.col("_n"))
        .alias("dst"),
    )
    cc = connected_components(chain.unionByName(mrg), "src", "dst")
    lab = ev.join(cc, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
    sizes = lab.groupBy("component").agg(F.count("*").alias("comp_size"))
    return lab.join(sizes, "component").select("node", "component",
                                               "comp_size")


def _graph_cc_oracle() -> str:
    """DuckDB twin of _q_graph_cc: recursive-CTE label flooding (the
    same independent-closure strategy as the polygon_dissolve
    oracle) over the identical deterministic edge list."""
    c, m, mu, ad = GCC_CHAIN, GCC_MERGE_MOD, GCC_MERGE_MUL, GCC_MERGE_ADD
    return f"""
        WITH RECURSIVE nodes AS (SELECT event_id AS node FROM events),
        nn AS (SELECT count(*) AS n FROM nodes),
        chain AS (
            SELECT node AS a, node + 1 AS b FROM nodes, nn
            WHERE node % {c} <> {c - 1} AND node + 1 < n
        ),
        mrg AS (
            SELECT node AS a, (node * {mu} + {ad}) % n AS b FROM nodes, nn
            WHERE node % {m} = 0 AND (node * {mu} + {ad}) % n <> node
        ),
        und AS (
            SELECT a, b FROM chain UNION ALL SELECT b, a FROM chain
            UNION ALL
            SELECT a, b FROM mrg UNION ALL SELECT b, a FROM mrg
        ),
        reach(node, lbl) AS (
            SELECT a, a FROM und
            UNION
            SELECT u.a, r.lbl FROM und u JOIN reach r ON r.node = u.b
        ),
        comp AS (SELECT node, min(lbl) AS component FROM reach
                 GROUP BY node),
        lab AS (
            SELECT n.node, coalesce(c.component, n.node) AS component
            FROM nodes n LEFT JOIN comp c ON n.node = c.node
        ),
        sz AS (SELECT component, count(*) AS comp_size FROM lab
               GROUP BY component)
        SELECT l.node, l.component, s.comp_size
        FROM lab l JOIN sz s ON l.component = s.component
    """


def _triangles_oracle() -> str:
    """DuckDB twin of _q_triangles using node-id orientation (e1.a <
    e1.b < e2.b) instead of the engine's degree orientation."""
    jp = ", ".join(f"({j}, {p})" for j, p in TRI_EDGE_SALTS)
    return f"""
        WITH nodes AS (SELECT event_id AS node FROM events),
        nn AS (SELECT count(*) AS n FROM nodes),
        jp(j, p) AS (VALUES {jp}),
        edges AS (SELECT node AS src,
                         (node * p + j) % (SELECT n FROM nn) AS dst
                  FROM nodes CROSS JOIN jp),
        e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM edges WHERE src <> dst),
        tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT node, count(*) AS n_tri FROM (
            SELECT unnest([x, y, z]) AS node FROM tri
        ) GROUP BY 1
    """


KMV_K = 128


def _q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-overlap sketch (geospark/sketch.py): the question HLL
    can't answer — how much do two crawl snapshots OVERLAP (train/eval
    contamination at 100 TB).  Each snapshot's sketch is its k=128
    smallest distinct md5-60 text hashes; union = k smallest of the
    concatenation, Jaccard = fraction of the union sketch present in
    both sides — pure integer set algebra on <= 3k rows once the
    per-snapshot sketches exist (and they PERSIST, so snapshot-pair
    queries never rescan text).  Exact NDV/Jaccard ride along as the
    oracle's ground truth."""
    from geospark import sketch as SK

    docs = _docs(spark, sf_dir)
    a = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    b = docs.filter(F.col("doc_id") % 2 == 1).select("text")
    ska, skb = (SK.kmv_sketch(s, [], "text", KMV_K) for s in (a, b))
    est_a = SK.kmv_estimate(ska, [], KMV_K) \
        .select(F.col("est_ndv").alias("est_ndv_a"))
    est_b = SK.kmv_estimate(skb, [], KMV_K) \
        .select(F.col("est_ndv").alias("est_ndv_b"))
    jac = SK.kmv_jaccard(ska, skb, KMV_K).select("k_both", "est_jaccard")
    da, db = a.distinct(), b.distinct()
    exact = (
        da.agg(F.count("*").alias("exact_ndv_a"))
        .crossJoin(db.agg(F.count("*").alias("exact_ndv_b")))
        .crossJoin(da.join(db, "text", "left_semi")
                   .agg(F.count("*").alias("_inter")))
    )
    return (
        est_a.crossJoin(est_b).crossJoin(jac).crossJoin(exact)
        .select(
            "est_ndv_a", "exact_ndv_a", "est_ndv_b", "exact_ndv_b",
            "k_both", "est_jaccard",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("exact_ndv_a") + F.col("exact_ndv_b")
                   - F.col("_inter")).cast("double"), 6,
            ).alias("exact_jaccard"),
        )
    )


HDR_B = 5                          # top-5-bit buckets: rel. err < 6.25%
HDR_QS = [500000, 900000, 990000]  # p50/p90/p99 as ppm integer ranks


def _q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantile sketch (geospark/sketch.py): the
    MERGEABILITY contract as a driver query — per-(lang, shard) child
    sketches of n_chars (shard = doc_id % 3, standing in for
    day/partition shards) are merged to per-lang with groupBy-sum,
    then p50/p90/p99 bucket lower bounds are read off cumulative
    counts with exact integer ppm ranks.  The oracle sketches each
    lang DIRECTLY from raw rows, so green == merge(children) ==
    sketch(union) (n_buckets certifies the bucket SET, n/cnt the
    counts) AND bit-identical quantile extraction.  Unlike the exact
    `doc_len_quantiles` (O(distinct values) agg buffer), sketch state
    is <= 16 buckets/octave per key — broadcastable, persistable,
    rolls up across days without rescanning raw text.  Plan: one
    partial-aggregatable shuffle on (lang, shard, b); everything else
    windows over the tiny sketch relation."""
    from geospark import sketch as SK

    docs = _docs(spark, sf_dir)
    child = SK.hdr_sketch(
        docs.withColumn("shard", (F.col("doc_id") % 3).cast("int")),
        ["lang", "shard"], "n_chars", sig_bits=HDR_B)
    merged = SK.hdr_merge(child.drop("shard"), ["lang"])
    q = SK.hdr_quantiles(merged, ["lang"], HDR_QS)
    return q.select(
        "lang", "n", "n_buckets",
        F.col(f"q_{HDR_QS[0]}").alias("p50_lb"),
        F.col(f"q_{HDR_QS[1]}").alias("p90_lb"),
        F.col(f"q_{HDR_QS[2]}").alias("p99_lb"),
    )


def _q_s2_cell_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 cell index (functions/s2cell.py): leaf encode once in ONE
    Arrow-batched pandas UDF pass, then every re-level is a pure
    Column bit-op (JVM, codegen) — per level-3 cell: count, event-id
    extrema, and a mod-sum checksum over the LEAF ids (so the oracle
    verifies every 64-bit leaf id without embedding 10k rows).
    Golden-VALUES oracle from the independent scalar twin
    goldens.s2_cell_agg. At warehouse scale: one Arrow pass + one
    shuffle on the coarse cell, partial-aggregatable."""
    from geospark.functions import s2cell as S2

    pts = G.events_points(spark, sf_dir)
    df = pts.withColumn("leaf", S2.s2_cell_udf(30)("lat", "lng"))
    return (
        df.withColumn("cell_l3", S2.s2_parent_col("leaf", S2_AGG_LEVEL))
        .withColumn("cell_l1", S2.s2_parent_col("leaf", S2_AGG_PARENT))
        .groupBy("cell_l3", "cell_l1")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.pmod(F.sum(F.pmod("leaf", F.lit(S2_CHECK_MOD))),
                   F.lit(S2_CHECK_MOD)).alias("leaf_check"),
        )
    )


def _q_s2_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 containment as a broadcast RANGE join: each demo center's
    level-3 cell becomes ONE [range_min, range_max] leaf-id interval
    (the S2 hierarchy property) — no cover explosion, no hash shuffle
    on an exploded key. Per center: matched-event count, min event_id,
    xor of the leaf ids' low 32 bits. Oracle: independent scalar twin
    goldens.s2_range_join."""
    import numpy as np

    from geospark.functions import s2cell as S2

    pts = G.events_points(spark, sf_dir)
    df = pts.withColumn("leaf", S2.s2_cell_udf(30)("lat", "lng"))
    rows = []
    for cid, cla, cln in G.DEMO_CENTERS:
        cell = S2.s2_cell_np(np.array([cla]), np.array([cln]), S2_JOIN_LEVEL)
        lo, hi = S2.s2_range_np(cell)
        rows.append((cid, int(S2.as_int64(lo)[0]), int(S2.as_int64(hi)[0])))
    centers = spark.createDataFrame(rows, "center_id long, lo long, hi long")
    joined = df.join(
        F.broadcast(centers),
        (F.col("leaf") >= F.col("lo")) & (F.col("leaf") <= F.col("hi")),
    )
    return joined.groupBy("center_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.bit_xor(F.col("leaf").bitwiseAND(F.lit(0xFFFFFFFF)))
        .alias("leaf_xor_low32"),
    )


def _q_s2_radius_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact radius join THROUGH the S2 index: cover_cap's mixed-level
    cell cover of each center's cap -> merged [lo, hi] leaf intervals
    (broadcast, ~40 per center, no explosion of the point side) ->
    BETWEEN range join -> exact haversine refine. The oracle is the
    PLAIN haversine cross-join filter — a true semantic oracle (the
    cover must be complete or rows go missing), not a plan echo."""
    from geospark.functions import s2cell as S2

    # single-file testdata -> one input split; spread so the Arrow
    # leaf encode and the refine use every core (real tables arrive
    # in many splits and skip this)
    pts = (G.events_points(spark, sf_dir)
           .select("event_id", "lat", "lng")
           .repartition(spark.sparkContext.defaultParallelism))
    pts = pts.withColumn("leaf", S2.s2_cell_udf(30)("lat", "lng"))
    out = S2.s2_radius_join(pts, G.DEMO_CENTERS, max_m=RADIUS_M)
    return out.select(
        "query_id", "event_id", F.floor("dist_m").alias("dist_floor_m")
    )


TREND_Z = 4
TREND_WIN_US = 2 * 86_400_000_000   # 2 days
TREND_SLIDE_US = 86_400_000_000     # 1 day


def _q_trending_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window trending tiles (streaming.sliding_tile_counts):
    the events GPS stream replayed as 3 time-sliced micro-batches, a
    2-day window sliding by 1 day over z4 tiles, APPEND mode — every
    event lands in two overlapping windows and a window row is emitted
    exactly once, when the watermark (0 s delay) passes its end. The
    DuckDB oracle derives the same finalized set independently: each
    event explodes to its two slide-aligned window starts, and a
    window survives iff end <= the ms-floored global max timestamp —
    Spark's watermark arithmetic (the geofence_stream precedent). The
    overlap (window > slide) is the semantics the tumbling
    streaming_tiles query cannot express."""
    import shutil
    import tempfile
    import uuid

    from geospark.streaming import sliding_tile_counts

    # unique per-invocation sink name + cleaned-up checkpoint: a fixed
    # queryName collides with the live query of a previous invocation
    # in the same session, and mkdtemp without cleanup leaks one dir
    # per run (ADVICE r4)
    sink = f"geospark_trending_tiles_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="geospark_trend_ckpt_")
    stream = (
        spark.readStream
        .schema("user_id long, ts timestamp, lat double, lng double")
        .option("maxFilesPerTrigger", 1)
        .parquet(_geofence_spool(spark, sf_dir))
    )
    out = sliding_tile_counts(stream, zoom=TREND_Z, window="2 days",
                              slide="1 day", watermark="0 seconds")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("trending_tiles: stream did not "
                               "terminate within 300s — refusing to "
                               "return a partial result")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(
        "SELECT unix_micros(win_start) AS win_start_us, tile_x, tile_y, "
        f"n_points FROM {sink}"
    )


def _q_streaming_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-VALUES oracle: Structured Streaming ingest — synthetic pages spool
    -> watermarked windowed tile aggregation (availableNow trigger) —
    returned as the materialized batch result. Equality with the batch
    plan is asserted in tests/test_runtime.py."""
    import shutil
    import tempfile
    import uuid

    from geospark.pages import synth_pages
    from geospark.streaming import (
        read_pages_stream,
        run_to_memory,
        streaming_tile_counts,
    )

    sink = f"geospark_stream_tiles_{uuid.uuid4().hex[:12]}"
    tmp = tempfile.mkdtemp(prefix="geospark_stream_")
    ckpt = f"{tmp}/ckpt"
    # the spool content is a pure function of (n, partitions) — cache it
    # across runs (the checkpoint dir stays fresh per run); 2 files / 2
    # per trigger = one micro-batch, so the contract query pays trigger
    # latency once; multi-batch watermark semantics are covered by
    # tests/test_runtime.py
    spool = _pages_spool(spark, 2000, 2)
    stream = read_pages_stream(spark, spool, max_files_per_trigger=2)
    agg = streaming_tile_counts(stream, zoom=6, window="60 minutes")
    # the stateful agg creates one state-store instance PER shuffle
    # partition per batch — size state partitions to the (tiny) contract
    # stream, then restore the session default
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = run_to_memory(agg, sink, ckpt)
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("streaming_tiles: stream did not "
                               "terminate within 300s — refusing to "
                               "return a partial aggregate")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.sql(
        "SELECT tile_x, tile_y, sum(n_points) AS n_points "
        f"FROM {sink} GROUP BY 1, 2"
    )


_DEDUP_DROPS = [(0, 1400), (1000, 2400)]  # 400 overlapping page ids


def _overlap_spool(spark: SparkSession) -> str:
    """Cached spool of OVERLAPPING crawl drops (one parquet file per
    drop, mtimes pinned in drop order — the file stream source orders
    batches by modification time). Same generator-hash cache key and
    atomic-rename discipline as _pages_spool."""
    import hashlib
    import inspect
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geospark import pages as _pages_mod
    from geospark.pages import synth_pages_batch

    gen_ver = hashlib.md5(
        inspect.getsource(_pages_mod).encode()
    ).hexdigest()[:10]
    spool = f"/tmp/geospark_dedup_spool_{gen_ver}"
    if not os.path.exists(f"{spool}/_DONE"):
        stage = f"{spool}.stage-{uuid.uuid4().hex[:8]}"
        os.makedirs(stage)
        for i, (a, b) in enumerate(_DEDUP_DROPS):
            f = f"{stage}/drop{i}.parquet"
            pq.write_table(
                pa.Table.from_batches(
                    [synth_pages_batch(np.arange(a, b, dtype=np.int64))]
                ),
                f,
            )
            os.utime(f, (1_700_000_000 + i * 60,) * 2)
        open(f"{stage}/_DONE", "w").close()
        try:
            os.rename(stage, spool)
        except OSError:
            if not os.path.exists(f"{spool}/_DONE"):
                raise
            import shutil

            shutil.rmtree(stage, ignore_errors=True)
    return spool


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact crawl dedup: two overlapping drops (400 shared
    urls) through dropDuplicatesWithinWatermark, one micro-batch per
    drop, then a per-lang rollup of the survivors. Golden-VALUES
    oracle from the independent twin goldens.dedup_lang_stats (the
    distinct-id union). The 45-day horizon exceeds the generator's
    30-day warc_ts span so nothing is dropped as LATE — horizon
    semantics themselves are pinned in tests/test_incremental_tiles."""
    import shutil
    import tempfile
    import uuid

    from geospark.streaming import dedup_pages_stream, read_pages_stream

    sink = f"geospark_stream_dedup_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="geospark_dedup_ckpt_")
    stream = read_pages_stream(spark, _overlap_spool(spark),
                               max_files_per_trigger=1)
    out = dedup_pages_stream(stream, watermark="45 days")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("streaming_dedup: stream did not "
                               "terminate within 300s — refusing to "
                               "return a partial result")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(
        "SELECT lang, count(*) AS n_pages, "
        "count(DISTINCT lower(regexp_extract(url, '^https?://([^/]+)', 1)))"
        " AS n_hosts "
        f"FROM {sink} GROUP BY lang"
    )


_GEOFENCE_FILES = 3


def _geofence_spool(spark: SparkSession, sf_dir: str) -> str:
    """Cached ts-sliced parquet drops of the events GPS stream
    (user_id, ts, lat, lng) for the geofence contract query. Each file
    is a TIME SLICE (slice = pure function of ts, so equal timestamps
    never straddle a boundary) with mtimes pinned in slice order — the
    file source replays them as in-order micro-batches and the
    0-second watermark never drops a row as late. The only rows the
    stream withholds are the final-millisecond ones its own watermark
    can never pass; the oracle replicates exactly that predicate.
    Same generator-hash cache key and atomic-rename discipline as
    _pages_spool."""
    import hashlib
    import inspect
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from geospark import geodata as _geo_mod

    gen_ver = hashlib.md5(
        (inspect.getsource(_geo_mod) + inspect.getsource(_geofence_spool)
         + sf_dir).encode()
    ).hexdigest()[:10]
    spool = f"/tmp/geospark_geofence_spool_{_GEOFENCE_FILES}_{gen_ver}"
    if not os.path.exists(f"{spool}/_DONE"):
        stage = f"{spool}.stage-{uuid.uuid4().hex[:8]}"
        os.makedirs(stage)
        pdf = (
            G.events_points(spark, sf_dir)
            .select("user_id", "ts", "lat", "lng")
            .toPandas()
        )
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        lo, hi = int(ts_us.min()), int(ts_us.max())
        span = max(hi - lo + 1, 1)
        bucket = ((ts_us - lo) * _GEOFENCE_FILES // span).clip(
            upper=_GEOFENCE_FILES - 1
        )
        for i in range(_GEOFENCE_FILES):
            f = f"{stage}/slice{i}.parquet"
            tbl = pa.Table.from_pandas(pdf[bucket == i],
                                       preserve_index=False)
            # Spark's vectorized reader rejects TIMESTAMP(NANOS)
            tbl = tbl.set_column(
                tbl.schema.get_field_index("ts"), "ts",
                tbl["ts"].cast(pa.timestamp("us")),
            )
            pq.write_table(tbl, f)
            os.utime(f, (1_700_000_000 + i * 60,) * 2)
        open(f"{stage}/_DONE", "w").close()
        try:
            os.rename(stage, spool)
        except OSError:
            if not os.path.exists(f"{spool}/_DONE"):
                raise
            import shutil

            shutil.rmtree(stage, ignore_errors=True)
    return spool


def _q_geofence_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geofence enter/exit transitions
    (geospark/streaming.py geofence_stream): the events GPS stream
    replayed as time-sliced micro-batches through the watermark-exact
    applyInPandasWithState operator against the demo polygon layer
    (holes honored). The DuckDB oracle is a genuinely INDEPENDENT
    derivation — batch lag-window diffs of the per-fence containment
    predicate over the same finalized prefix (ts strictly below the
    ms-floored global max, Spark's watermark arithmetic) — so green
    certifies the stateful stream emits exactly the batch-semantics
    transition set, not a plan echo."""
    import shutil
    import tempfile
    import uuid

    from geospark.streaming import geofence_stream

    sink = f"geospark_geofence_stream_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="geospark_geofence_ckpt_")
    stream = (
        spark.readStream
        .schema("user_id long, ts timestamp, lat double, lng double")
        .option("maxFilesPerTrigger", 1)
        .parquet(_geofence_spool(spark, sf_dir))
    )
    out = geofence_stream(stream, G.demo_layer().areas)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("geofence_stream: stream did not "
                               "terminate within 300s — refusing to "
                               "return a partial result")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(
        "SELECT user AS user_id, ts_us, fence_id, transition "
        f"FROM {sink}"
    )


GEOCODE_NAMES, GEOCODE_PER_NAME = 500, 3


def _q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse geocoding (geocode.reverse_geocode): nearest gazetteer
    place per unnamed point via the WINDOWLESS k=1 join
    (joins.nearest_join_df — a per-point d_1 bound from one count of
    places per cell, then a radius join whose argmin is a
    partial-aggregatable min-struct), exact haversine argmin with
    gaz_id tie-break, attributes rejoined by broadcast. A 1-in-10
    event sample keeps the DuckDB cross-join oracle tractable; the
    Spark plan is the full filter-refine path. Oracle: INDEPENDENT
    brute-force argmin (row_number over the full cross join)."""
    from geospark.geocode import gazetteer, reverse_geocode

    pts = G.events_points(spark, sf_dir).filter(
        F.col("event_id") % 10 == 0
    )
    gaz = gazetteer(spark, GEOCODE_NAMES, GEOCODE_PER_NAME)
    return reverse_geocode(pts, gaz, id_col="event_id")


def _q_geocode_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toponym resolution (geospark/geocode.py): every event becomes a
    NAMED mention ('place_{event_id % 500}') with its point as the
    context coordinate; the deterministic 1500-row ambiguous gazetteer
    (3 candidates per name) broadcasts; candidates score by the
    integer-exact population-prior / distance-damping formula and the
    per-mention argmax is a partial-aggregatable min-struct — one
    broadcast join + one mention-keyed shuffle of per-partition
    minima, the geoparsing staple at any corpus size. Oracle: an
    INDEPENDENT argmax (row_number window over the same scored
    candidates) in DuckDB."""
    from geospark.geocode import gazetteer, resolve_mentions

    pts = G.events_points(spark, sf_dir)
    mentions = pts.select(
        F.col("event_id").alias("mention_id"),
        F.concat(
            F.lit("place_"),
            (F.col("event_id") % GEOCODE_NAMES).cast("string"),
        ).alias("name"),
        "lat", "lng",
    )
    gaz = gazetteer(spark, GEOCODE_NAMES, GEOCODE_PER_NAME)
    return resolve_mentions(mentions, gaz)


PL_UTILS_TOL_DEG = 5.0  # M7 one-shot DP tolerance (degree space)
POLY_FIXTURES = ((1, "area_band.poly"), (2, "area_north.poly"))


def _q_polyline_utils(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline utilities end-to-end: L4 extract incl. the reversed
    direction (src/polyline.cc:22-30), L5 serialize/deserialize
    roundtrip (polyline.h:43-66), and M7 one-shot simplify
    (simplify_mask.h:272-290) over per-user trajectories. All but the
    DP are pure JVM array exprs (slice/flatten/transform — narrow,
    codegen); the DP is one Arrow-batched UDF. Oracle = embedded
    VALUES from independent plain-Python twins (index-loop slicing +
    goldens.simplify_dp_deg_py recursive DP)."""
    from geospark import lines as L

    traj = (
        _user_lines(G.events_points(spark, sf_dir))
        .filter(F.size("line") >= 2)
        .withColumn("n_points", F.size("line"))
        .withColumn("from_idx", F.expr("size(line) div 4").cast("int"))
        .withColumn("to_idx", F.expr("(3 * size(line)) div 4").cast("int"))
        .withColumn("ext", L.extract("line", F.col("from_idx"), F.col("to_idx")))
        .withColumn("rev", L.extract("line", F.col("to_idx"), F.col("from_idx")))
        .withColumn("flat", L.serialize("ext"))
        .withColumn("back", L.deserialize("flat"))
        .repartition(spark.sparkContext.defaultParallelism)  # fan out the DP UDF
        .withColumn("simp", L.simplify_udf(PL_UTILS_TOL_DEG)(F.col("ext")))
    )
    return traj.select(
        "user_id",
        F.col("n_points").cast("int").alias("n_points"),
        "from_idx", "to_idx",
        F.size("ext").alias("n_extract"),
        (F.reverse(F.col("rev")) == F.col("ext")).cast("int").alias("rev_ok"),
        F.size("flat").alias("flat_len"),
        (F.col("back") == F.col("ext")).cast("int").alias("rt_ok"),
        F.floor(F.element_at("ext", 1).getField("lat") * 1e7)
        .cast("long").alias("p0_lat_e7"),
        F.floor(F.element_at("ext", 1).getField("lng") * 1e7)
        .cast("long").alias("p0_lng_e7"),
        F.size("simp").alias("n_simplified"),
    )


def _poly_fixture_path(fname: str) -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", fname)


def _q_poly_file_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 Osmosis .poly sources (src/polygon.cc:15-36) wired into the
    Q13/Q14 area lookup: parse the committed fixtures with the
    engine's readers (full multi-section format AND the
    reference-exact single-ring reader), build a PolygonLayer
    (densified spherical edges, the Q10 default), PIP-join the event
    points, aggregate per area. n_ring certifies the single-ring
    reader: it must stop at the first ring's END. Oracle: an
    independent inline .poly parse + the same ray-cast SQL generator
    the pip_join oracle uses."""
    from geospark.joins import PolygonLayer, pip_join
    from geospark.sources import read_poly_file, read_poly_file_full

    areas, n_ring_rows = [], []
    for aid, fname in POLY_FIXTURES:
        path = _poly_fixture_path(fname)
        areas.append(read_poly_file_full(path, area_id=aid))
        n_ring_rows.append((aid, len(read_poly_file(path))))
    layer = PolygonLayer(areas, cover_zoom=6)
    pts = G.events_points(spark, sf_dir).select("event_id", "lat", "lng")
    agg = (
        pip_join(pts, layer)
        .groupBy("area_id")
        .agg(
            F.count("*").alias("n_inside"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
    )
    nr = spark.createDataFrame(n_ring_rows, "area_id long, n_ring int")
    return agg.join(F.broadcast(nr), "area_id")


# Keys the driver's round-4 window checked (CORRECTNESS_r04.json):
# these already have fresh green rows, so round 5 rotates them to the
# back of the registry.
_ROUND4_WINDOW = frozenset((
    "doc_incremental_dedup", "doc_decontaminate", "doc_dup_spans",
    "doc_cap_per_lang", "doc_dedup_neardup", "doc_split",
    "doc_pii_scrub", "doc_sample_stratified", "doc_weighted_sample",
    "doc_len_quantiles", "doc_mix_epochs", "doc_chunk",
    "doc_pack", "doc_tfidf", "doc_bm25",
    "doc_lm_ppl", "doc_bpe", "doc_repetition",
    "doc_line_dedup", "emb_pq", "emb_kmeans",
    "emb_quantize", "tile_bounds", "box_join",
    "seg_intersections", "geocode_resolve", "doc_span_scrub",
    "reverse_geocode", "emb_ivf_trained", "emb_ivfpq",
    "corridor_join", "doc_bpe_encode", "idw_tiles",
    "session_overlap", "hmm_map_match", "emb_pq_rerank",
    "trending_tiles", "knn_classify", "doc_train_pipeline",
    "multimodal_resize", "multimodal_frames", "doc_dedup_exact",
    "doc_token_stats", "doc_quality", "doc_lang_id",
    "doc_jaccard_pairs", "doc_minhash_lsh", "doc_simhash_pairs",
    "doc_fingerprint", "emb_cosine_topk",
))

# Round-5 head of the window: brand-new queries, the round-4 red
# (doc_bm25, quantization fixed), the one never-sampled entry, and the
# queries whose implementation changed this round (Arrow-path
# embeddings) — these MUST be re-checked ahead of rotation.
_ROUND5_PRIORITY = (
    "polyline_utils", "poly_file_pip", "doc_importance_resample",
    "emb_semdedup", "doc_lm_kn", "doc_importance_sample",
    "doc_bm25", "pages_url_normalize",
    "emb_pq", "emb_kmeans", "emb_pq_rerank", "emb_ivfpq",
    "emb_ivf_trained", "hmm_map_match", "trending_tiles",
    "streaming_tiles", "streaming_dedup", "geofence_stream",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order matters: the driver's correctness harness checks the
    FIRST 50 entries only.  Round 5 puts _ROUND5_PRIORITY first (new +
    changed + previously-red queries), then every entry NOT in round 4's
    window (oldest driver rows first in practice), then the round-4
    greens. (VERDICT.md round 4, task #3.)"""
    base = _query_registry()
    pri = [k for k in _ROUND5_PRIORITY if k in base]
    mid = [k for k in base if k not in _ROUND4_WINDOW and k not in pri]
    tail = [k for k in base if k in _ROUND4_WINDOW and k not in pri]
    return {k: base[k] for k in pri + mid + tail}


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # -- round 5 priority: new queries, the round-4 red (fixed), the
        # -- never-sampled entry, and the queries whose implementation
        # -- changed this round (Arrow-path embeddings) ----------------------
        "polyline_utils": _q_polyline_utils,
        "poly_file_pip": _q_poly_file_pip,
        "doc_bm25": _q_doc_bm25,
        "pages_url_normalize": _q_pages_url_normalize,
        "emb_pq": _q_emb_pq,
        "emb_kmeans": _q_emb_kmeans,
        "emb_semdedup": _q_emb_semdedup,
        "emb_pq_rerank": _q_emb_pq_rerank,
        "emb_ivfpq": _q_emb_ivfpq,
        "emb_ivf_trained": _q_emb_ivf_trained,
        # -- 26 never driver-checked before round 4 --------------------------
        "doc_incremental_dedup": _q_doc_incremental_dedup,
        "doc_decontaminate": _q_doc_decontaminate,
        "doc_dup_spans": _q_doc_dup_spans,
        "doc_cap_per_lang": _q_doc_cap_per_lang,
        "doc_dedup_neardup": _q_doc_dedup_neardup,
        "doc_split": _q_doc_split,
        "doc_pii_scrub": _q_doc_pii_scrub,
        "doc_sample_stratified": _q_doc_sample_stratified,
        "doc_weighted_sample": _q_doc_weighted_sample,
        "doc_importance_resample": _q_doc_importance_resample,
        "doc_importance_sample": _q_doc_importance_sample,
        "doc_len_quantiles": _q_doc_len_quantiles,
        "doc_mix_epochs": _q_doc_mix_epochs,
        "doc_chunk": _q_doc_chunk,
        "doc_pack": _q_doc_pack,
        "doc_tfidf": _q_doc_tfidf,
        "doc_lm_ppl": _q_doc_lm_ppl,
        "doc_lm_kn": _q_doc_lm_kn,
        "doc_bpe": _q_doc_bpe,
        "doc_repetition": _q_doc_repetition,
        "doc_line_dedup": _q_doc_line_dedup,
        "emb_quantize": _q_emb_quantize,
        "tile_bounds": _q_tile_bounds,
        "box_join": _q_box_join,
        "seg_intersections": _q_seg_intersections,
        "geocode_resolve": _q_geocode_resolve,
        # -- new in round 4 ----------------------------------------------------
        "doc_span_scrub": _q_doc_span_scrub,
        "reverse_geocode": _q_reverse_geocode,
        "corridor_join": _q_corridor_join,
        "doc_bpe_encode": _q_doc_bpe_encode,
        "idw_tiles": _q_idw_tiles,
        "session_overlap": _q_session_overlap,
        "hmm_map_match": _q_hmm_map_match,
        "trending_tiles": _q_trending_tiles,
        "knn_classify": _q_knn_classify,
        "doc_train_pipeline": _q_doc_train_pipeline,
        "multimodal_resize": _q_multimodal_resize,
        "multimodal_frames": _q_multimodal_frames,
        # -- 34 last driver-checked in round 2 --------------------------------
        "doc_dedup_exact": _q_doc_dedup_exact,
        "doc_token_stats": _q_doc_token_stats,
        "doc_quality": _q_doc_quality,
        "doc_lang_id": _q_doc_lang_id,
        "doc_jaccard_pairs": _q_doc_jaccard_pairs,
        "doc_minhash_lsh": _q_doc_minhash_lsh,
        "doc_simhash_pairs": _q_doc_simhash_pairs,
        "doc_fingerprint": _q_doc_fingerprint,
        "emb_cosine_topk": _q_emb_cosine_topk,
        "emb_ann_lsh": _q_emb_ann_lsh,
        "emb_ivf": _q_emb_ivf,
        "emb_neardup": _q_emb_neardup,
        "multimodal_features": _q_multimodal_features,
        "polyline_length": _q_polyline_length,
        "destination_point": _q_destination_point,
        "midpoint": _q_midpoint,
        "simplify_mask": _q_simplify_mask,
        "polyline_codec": _q_polyline_codec,
        "cluster": _q_cluster,
        "tile_assign": _q_tile_assign,
        "cell_morton": _q_cell_morton,
        "min_distance": _q_min_distance,
        "bbox_agg": _q_bbox_agg,
        "haversine_topk": _q_haversine_topk,
        "radius_join": _q_radius_join,
        "box_query": _q_box_query,
        "box_semi_anti": _q_box_semi_anti,
        "knn": _q_knn,
        "pip_join": _q_pip_join,
        "tile_rollup": _q_tile_rollup,
        "tile_multi_rollup": _q_tile_multi_rollup,
        "tile_time_rollup": _q_tile_time_rollup,
        "bearing_seq": _q_bearing_seq,
        "box_buffer": _q_box_buffer,
        # -- green in CORRECTNESS_r03.json -------------------------------------
        "streaming_tiles": _q_streaming_tiles,
        "streaming_dedup": _q_streaming_dedup,
        "geofence_stream": _q_geofence_stream,
        "pages_host_stats": _q_pages_host_stats,
        "pages_crawl_dedup": _q_pages_crawl_dedup,
        "event_sessions": _q_event_sessions,
        "events_attribution": _q_events_attribution,
        "traj_tile_cover": _q_traj_tile_cover,
        "polygon_raster": _q_polygon_raster,
        "polygon_overlap": _q_polygon_overlap,
        "polygon_dissolve": _q_polygon_dissolve,
        "tile_vectorize": _q_tile_vectorize,
        "zonal_stats": _q_zonal_stats,
        "tile_payload": _q_tile_payload,
        "hex_assign": _q_hex_assign,
        "hex_rollup": _q_hex_rollup,
        "hex_kring_join": _q_hex_kring_join,
        "geohash_rollup": _q_geohash_rollup,
        "geohash_kring_join": _q_geohash_kring_join,
        "density_classify": _q_density_classify,
        "traj_resample": _q_traj_resample,
        "od_matrix": _q_od_matrix,
        "hll_users": _q_hll_users,
        "hll_tile_rollup": _q_hll_tile_rollup,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "bloom_crawl_filter": _q_bloom_crawl_filter,
        "kmv_overlap": _q_kmv_overlap,
        "hdr_quantiles": _q_hdr_quantiles,
        "staypoints": _q_staypoints,
        "colocate": _q_colocate,
        "pagerank": _q_pagerank,
        "graph_cc": _q_graph_cc,
        "graph_sssp": _q_graph_sssp,
        "triangles": _q_triangles,
        "convex_hull": _q_convex_hull,
        "polygon_area": _q_polygon_area,
        "frechet": _q_frechet,
        "hausdorff": _q_hausdorff,
        "s2_cell_agg": _q_s2_cell_agg,
        "s2_range_join": _q_s2_range_join,
        "s2_radius_query": _q_s2_radius_query,
        "approx_distance": _q_approx_distance,
        "xyz_chord": _q_xyz_chord,
        "fixed_codec": _q_fixed_codec,
        "approx_polyline_dist": _q_approx_polyline_dist,
        "polyline_dist": _q_polyline_dist,
        "map_match": _q_map_match,
        "tile_range_box": _q_tile_range_box,
        "tile_relevel": _q_tile_relevel,
        "tile_pyramid": _q_tile_pyramid,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles (same formulas, generated by geospark.geodata)
# ---------------------------------------------------------------------------
def _centers_values() -> str:
    # BIGINT query_id: Spark's centers relation types it as long
    rows = ", ".join(
        f"(CAST({qid} AS BIGINT), {repr(lat)}, {repr(lng)})"
        for qid, lat, lng in G.DEMO_CENTERS
    )
    return f"(VALUES {rows}) AS c(query_id, q_lat, q_lng)"


# --- engine-neutral hash / exact-fold helpers (DuckDB side) ----------------
def _duck_md5_60(col: str) -> str:
    """DuckDB twin of textops.md5_60_sql — identical 60-bit integer."""
    return f"('0x' || substr(md5({col}), 1, 15))::BIGINT"


def _duck_dot(a: str, b: str) -> str:
    """Left-fold dot product replicating Spark's aggregate(zip_with(..))
    summation ORDER exactly — bit-identical doubles."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (acc, v) -> acc + v)"
    )


def _duck_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        f"(acc, v) -> acc + v))"
    )


def _duck_plane_literal(w: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in w) + "]"


def _duck_lsh_bucket(vec: str, n_planes: int, dim: int, table: int = 0) -> str:
    """DuckDB twin of embeddings.lsh_bucket: same plane literals, same
    fold order, same sign rule — identical bucket ids."""
    from geospark.embeddings import _plane_weights

    planes = _plane_weights((table + 1) * n_planes, dim)[table * n_planes:]
    terms = []
    for h, w in enumerate(planes):
        d = _duck_dot(_duck_plane_literal(w), vec)
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << h} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _oracle_sf_dir() -> str:
    """The scale factor the driver evaluates oracles at (sf0.01)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@functools.lru_cache(maxsize=1)
def _oracle_trajectories() -> list[tuple[int, list[tuple[float, float]]]]:
    """Per-user trajectories at the oracle SF, ordered by (ts,
    event_id) — the same derivation every polyline query uses, computed
    by DuckDB so the doubles are bit-identical to the Spark side."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{_oracle_sf_dir()}/events.parquet')"
    )
    pdf = con.sql(
        f"WITH pts AS ({G.EVENTS_POINTS_SQL}) "
        f"SELECT user_id, lat, lng FROM pts ORDER BY user_id, ts, event_id"
    ).df()
    con.close()
    out: list[tuple[int, list[tuple[float, float]]]] = []
    for uid, g in pdf.groupby("user_id", sort=True):
        out.append((int(uid), list(zip(g["lat"].tolist(), g["lng"].tolist()))))
    return out


def _oracle_points() -> tuple[list[int], list[float], list[float]]:
    """(event_id, lat, lng) at the oracle SF ordered by event_id."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{_oracle_sf_dir()}/events.parquet')"
    )
    pdf = con.sql(
        f"WITH pts AS ({G.EVENTS_POINTS_SQL}) "
        f"SELECT event_id, lat, lng FROM pts ORDER BY event_id"
    ).df()
    con.close()
    return pdf["event_id"].tolist(), pdf["lat"].tolist(), pdf["lng"].tolist()


def _oracle_event_users() -> dict[int, int]:
    """event_id -> user_id at the oracle SF (for the synthetic road
    network's line ids)."""
    import duckdb

    con = duckdb.connect()
    pdf = con.sql(
        f"SELECT event_id, user_id FROM "
        f"read_parquet('{_oracle_sf_dir()}/events.parquet')"
    ).df()
    con.close()
    return dict(zip(pdf["event_id"].astype(int), pdf["user_id"].astype(int)))


def _sql_lit(v) -> str:
    """SQL literal: strings escape by doubling single quotes (repr()
    would emit a double-quoted form DuckDB parses as an identifier
    whenever the value itself contains a quote)."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if v is None:
        return "NULL"
    return repr(v)


def _values_sql(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    """Embedded-VALUES relation with explicit column types."""
    body = ", ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    names = ", ".join(n for n, _ in cols)
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    return f"SELECT {casts} FROM (VALUES {body}) AS t({names})"


def _polygon_raster_oracle_sql() -> str:
    """DuckDB twin of raster.polygon_tile_cover over the demo rings:
    same edge list (generated from DEMO_RINGS in ring order), same
    continuous-tile projection, same scanline supercover for the
    boundary, same center-line parity fill for the interior —
    term-identical expressions throughout."""
    z = POLY_RASTER_Z
    edges = []
    for aid, ring in _demo_rings_rows():
        n = len(ring)
        for i in range(n):
            la0, ln0 = ring[i]
            la1, ln1 = ring[(i + 1) % n]
            edges.append(f"({aid}, {la0!r}, {ln0!r}, {la1!r}, {ln1!r})")
    vals = ",\n                ".join(edges)
    return f"""
            WITH edges(area_id, lat0, lng0, lat1, lng1) AS (VALUES
                {vals}),
            px AS (
                SELECT area_id,
                       {G.ctile_x_sql('lng0', z)} AS px0,
                       {G.ctile_y_sql('lat0', z)} AS py0,
                       {G.ctile_x_sql('lng1', z)} AS px1,
                       {G.ctile_y_sql('lat1', z)} AS py1
                FROM edges
            ),
            -- boundary: scanline supercover (identical to traj_tile_cover)
            norm AS (
                SELECT area_id,
                       CASE WHEN py0 <= py1 THEN px0 ELSE px1 END AS px0s,
                       CASE WHEN py0 <= py1 THEN py0 ELSE py1 END AS py0s,
                       CASE WHEN py0 <= py1 THEN px1 ELSE px0 END AS px1s,
                       CASE WHEN py0 <= py1 THEN py1 ELSE py0 END AS py1s
                FROM px
            ),
            rows_ AS (
                SELECT area_id, px0s, py0s, px1s, py1s,
                       unnest(generate_series(CAST(floor(py0s) AS BIGINT),
                                              CAST(floor(py1s) AS BIGINT)))
                           AS ty
                FROM norm
            ),
            clamp AS (
                SELECT area_id, px0s, py0s, px1s, py1s, ty,
                       greatest(py0s, CAST(ty AS DOUBLE)) AS ylo,
                       least(py1s, CAST(ty + 1 AS DOUBLE)) AS yhi
                FROM rows_
            ),
            tt AS (
                SELECT area_id, px0s, px1s, ty,
                       CASE WHEN py1s = py0s THEN 0.0
                            ELSE (ylo - py0s) / (py1s - py0s) END AS t0,
                       CASE WHEN py1s = py0s THEN 1.0
                            ELSE (yhi - py0s) / (py1s - py0s) END AS t1
                FROM clamp
            ),
            xx AS (
                SELECT area_id, ty,
                       px0s + (px1s - px0s) * t0 AS x0,
                       px0s + (px1s - px0s) * t1 AS x1
                FROM tt
            ),
            btiles AS (
                SELECT DISTINCT area_id, tx AS tile_x, ty AS tile_y
                FROM (
                    SELECT area_id, ty,
                           unnest(generate_series(
                               CAST(floor(least(x0, x1)) AS BIGINT),
                               CAST(floor(greatest(x0, x1)) AS BIGINT)))
                               AS tx
                    FROM xx
                )
            ),
            -- interior: center-line parity fill
            crows AS (
                SELECT area_id, px0, py0, px1, py1,
                       unnest(generate_series(
                           CAST(floor(least(py0, py1)) AS BIGINT),
                           CAST(floor(greatest(py0, py1)) AS BIGINT)))
                           AS ty
                FROM px
            ),
            cross_ AS (
                SELECT area_id, ty,
                       px0 + (px1 - px0)
                           * ((CAST(ty AS DOUBLE) + 0.5) - py0)
                           / (py1 - py0) AS cx
                FROM crows
                WHERE least(py0, py1) <= CAST(ty AS DOUBLE) + 0.5
                  AND greatest(py0, py1) > CAST(ty AS DOUBLE) + 0.5
            ),
            ranked AS (
                SELECT area_id, ty, cx,
                       row_number() OVER (
                           PARTITION BY area_id, ty ORDER BY cx) AS rn
                FROM cross_
            ),
            prs AS (
                SELECT area_id, ty, (rn - 1) // 2 AS pair,
                       min(cx) AS a, max(cx) AS b
                FROM ranked GROUP BY 1, 2, 3
            ),
            itiles AS (
                SELECT area_id, ty AS tile_y,
                       unnest(generate_series(
                           CAST(floor(a - 0.5) AS BIGINT) + 1,
                           CAST(ceil(b - 0.5) AS BIGINT) - 1)) AS tile_x
                FROM prs
                WHERE CAST(floor(a - 0.5) AS BIGINT) + 1
                      <= CAST(ceil(b - 0.5) AS BIGINT) - 1
            )
            SELECT area_id, tile_x, tile_y, 'boundary' AS kind FROM btiles
            UNION ALL
            SELECT i.area_id, i.tile_x, i.tile_y, 'interior' AS kind
            FROM itiles i LEFT JOIN btiles b
              ON i.area_id = b.area_id AND i.tile_x = b.tile_x
             AND i.tile_y = b.tile_y
            WHERE b.area_id IS NULL
        """


def _od_matrix_oracle() -> str:
    """DuckDB twin of _q_od_matrix — INDEPENDENT derivation: first/
    last rows via row_number windows (the Spark side uses min_by/
    max_by struct argmin), integer-cents value sums (exact both
    sides)."""
    fx = G.tile_x_sql("o_lng", OD_ZOOM)
    fy = G.tile_y_sql("o_lat", OD_ZOOM)
    tx = G.tile_x_sql("d_lng", OD_ZOOM)
    ty = G.tile_y_sql("d_lat", OD_ZOOM)
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        r AS (
            SELECT user_id, lat, lng, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn_d
            FROM pts
        ),
        per_user AS (
            SELECT user_id, count(*) AS n_ev,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM pts GROUP BY 1
        ),
        ends AS (
            SELECT a.user_id, u.n_ev, u.value_cents,
                   a.lat AS o_lat, a.lng AS o_lng,
                   d.lat AS d_lat, d.lng AS d_lng
            FROM r a
            JOIN r d ON a.user_id = d.user_id AND d.rn_d = 1
            JOIN per_user u ON a.user_id = u.user_id
            WHERE a.rn_a = 1
        )
        SELECT {fx} AS from_x, {fy} AS from_y,
               {tx} AS to_x, {ty} AS to_y,
               count(*) AS n_users,
               CAST(sum(n_ev) AS BIGINT) AS n_events,
               CAST(sum(value_cents) AS BIGINT) AS value_cents
        FROM ends GROUP BY 1, 2, 3, 4
    """


def _traj_resample_oracle() -> str:
    """DuckDB twin of lines.resample: identical lag/integer-cumsum
    windows and integer tick ranges; unnest(generate_series) is the
    explode."""
    step_cm = int(round(RESAMPLE_STEP_M * 100))
    hav = G.haversine_sql("plat", "plng", "lat", "lng")
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        seg AS (
            SELECT user_id, ts, event_id, lat, lng,
                   lag(lat) OVER w AS plat, lag(lng) OVER w AS plng
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        len AS (
            SELECT *, CASE WHEN plat IS NULL THEN 0
                           ELSE CAST(floor({hav} * 100.0) AS BIGINT)
                      END AS len_cm
            FROM seg
        ),
        cum AS (
            SELECT *, sum(len_cm) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
            ) AS cum_cm
            FROM len
        ),
        ticks AS (
            SELECT user_id, plat, plng, lat, lng, len_cm,
                   (cum_cm - len_cm) AS cum0,
                   unnest(generate_series(
                       CAST((cum_cm - len_cm + {step_cm} - 1)
                            // {step_cm} AS BIGINT),
                       CAST((cum_cm - 1) // {step_cm} AS BIGINT)
                   )) AS tick_idx
            FROM cum
            WHERE plat IS NOT NULL AND len_cm > 0
        )
        SELECT user_id, tick_idx,
               round(plat + (CAST(tick_idx * {step_cm} - cum0 AS DOUBLE)
                             / CAST(len_cm AS DOUBLE)) * (lat - plat), 7)
                   AS r_lat,
               round(plng + (CAST(tick_idx * {step_cm} - cum0 AS DOUBLE)
                             / CAST(len_cm AS DOUBLE)) * (lng - plng), 7)
                   AS r_lng
        FROM ticks
    """


def _density_oracle() -> str:
    """Brute-force DBSCAN twin: all pairs within eps by exact haversine
    (lat-band prefilter only prunes pairs the distance bound already
    excludes: |dlat_deg| <= eps/111194.9 < eps/111000 * 1.05)."""
    hav = G.haversine_sql("a.lat", "a.lng", "b.lat", "b.lng")
    eps_deg = DBSCAN_EPS / 111000.0 * 1.05
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        e AS (
            SELECT a.event_id AS pid, b.event_id AS qid
            FROM pts a JOIN pts b
              ON a.event_id < b.event_id
             AND abs(a.lat - b.lat) <= {eps_deg!r}
             AND {hav} <= {DBSCAN_EPS!r}
        ),
        sym AS (
            SELECT pid AS id, qid AS nb FROM e
            UNION ALL SELECT qid, pid FROM e
        ),
        counts AS (
            SELECT p.event_id AS id,
                   COALESCE(c.n, 0) AS n_neighbors
            FROM pts p LEFT JOIN (
                SELECT id, count(*) AS n FROM sym GROUP BY 1
            ) c ON p.event_id = c.id
        ),
        core AS (
            SELECT id, n_neighbors,
                   (n_neighbors + 1 >= {DBSCAN_MIN_PTS}) AS is_core
            FROM counts
        ),
        hcn AS (
            SELECT DISTINCT s.id FROM sym s
            JOIN core c ON s.nb = c.id AND c.is_core
        )
        SELECT core.id AS event_id,
               CAST(n_neighbors AS BIGINT) AS n_neighbors,
               CASE WHEN is_core THEN 'core'
                    WHEN hcn.id IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS label
        FROM core LEFT JOIN hcn ON core.id = hcn.id
    """


def _geohash_rollup_oracle() -> str:
    """DuckDB twin of _q_geohash_rollup: same flat interleave formula
    (geospark.functions.geohash SQL generators), staged through CTEs
    so each axis/code is computed once."""
    from geospark.functions import geohash as GH

    ilng, ilat = GH.quantize_axes_sql("lat", "lng", GEOHASH_CHARS)
    code = GH.interleave_sql("ilng", "ilat", GEOHASH_CHARS)
    gh = GH.geohash_chars_sql("code", GEOHASH_CHARS)
    clat, clng = GH.center_sql("pcode", GEOHASH_PREFIX)
    shift = 5 * (GEOHASH_CHARS - GEOHASH_PREFIX)
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        q AS (SELECT {ilng} AS ilng, {ilat} AS ilat FROM pts),
        c AS (SELECT {code} AS code FROM q),
        enc AS (SELECT {gh} AS gh, code FROM c),
        cells AS (
            SELECT substr(gh, 1, {GEOHASH_PREFIX}) AS gh_parent,
                   count(*) AS n_points,
                   count(DISTINCT gh) AS n_cells,
                   min(code) AS mc
            FROM enc GROUP BY 1
        ),
        p AS (
            SELECT gh_parent, n_points, n_cells, (mc >> {shift}) AS pcode
            FROM cells
        )
        SELECT gh_parent, n_points, n_cells,
               round({clat}, 6) AS c_lat,
               round({clng}, 6) AS c_lng
        FROM p
    """


def _hll_users_oracle() -> str:
    """DuckDB twin of _q_hll_users: md5-60 registers, exact-integer Z,
    identical estimator formula (geospark.sketch SQL generators)."""
    from geospark import sketch as SK
    from geospark.functions import geohash as GH

    ilng, ilat = GH.quantize_axes_sql("lat", "lng", HLL_GH_CHARS)
    code = GH.interleave_sql("ilng", "ilat", HLL_GH_CHARS)
    gh = GH.geohash_chars_sql("code", HLL_GH_CHARS)
    reg, rho = SK.hll_register_sql("user_id", HLL_P)
    zint = SK.hll_zint_sql(HLL_P)
    _z, est = SK.hll_estimate_sql(HLL_P)
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        q AS (SELECT user_id, {ilng} AS ilng, {ilat} AS ilat FROM pts),
        c AS (SELECT user_id, {code} AS code FROM q),
        enc AS (SELECT {gh} AS gh, user_id FROM c),
        d AS (SELECT DISTINCT gh, user_id FROM enc),
        r AS (SELECT gh, {reg} AS reg, {rho} AS rho FROM d),
        regs AS (
            SELECT gh, reg, max(rho) AS m_rho, count(*) AS n_items
            FROM r GROUP BY 1, 2
        ),
        sk AS (
            SELECT gh, count(*) AS regs_hit, {zint} AS z_int,
                   CAST(sum(n_items) AS BIGINT) AS exact_users
            FROM regs GROUP BY 1
        )
        SELECT gh, regs_hit, round({est}, 3) AS est_users, exact_users
        FROM sk
    """


def _geohash_kring_oracle() -> str:
    """DuckDB twin of _q_geohash_kring_join: same quantize + wrapped
    ±1 axis steps + flat interleave."""
    from geospark.functions import geohash as GH

    bits, n_lng, n_lat = 5 * GH_RING_CHARS, -(-5 * GH_RING_CHARS // 2), \
        5 * GH_RING_CHARS // 2
    m_lng = 1 << n_lng
    ilng, ilat = GH.quantize_axes_sql("lat", "lng", GH_RING_CHARS)
    cell = GH.interleave_sql("ilng", "ilat", GH_RING_CHARS)
    # wrapped/NULL-guarded neighbor axes (pmod twin of neighbor_code)
    ncell = GH.interleave_sql(
        f"(((ilng + dq) % {m_lng}) + {m_lng}) % {m_lng}", "(ilat + dr)",
        GH_RING_CHARS,
    )
    offs = ", ".join(f"({dq}, {dr})" for dq, dr in GH.kring_offsets(1))
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        q AS (SELECT event_id, {ilng} AS ilng, {ilat} AS ilat FROM pts),
        cells AS (
            SELECT {cell} AS cell, count(*) AS n FROM q GROUP BY 1
        ),
        centers AS (SELECT event_id, ilng, ilat FROM q
                    WHERE event_id < 40),
        offs(dq, dr) AS (VALUES {offs}),
        probes AS (
            SELECT event_id, {ncell} AS cell
            FROM centers CROSS JOIN offs
            WHERE ilat + dr >= 0 AND ilat + dr < {1 << n_lat}
        )
        SELECT event_id,
               CAST(sum(COALESCE(cells.n, 0)) AS BIGINT) AS n_in_ring,
               CAST(count(cells.n) AS BIGINT) AS n_cells_hit
        FROM probes LEFT JOIN cells USING (cell)
        GROUP BY event_id
    """


def _hll_tile_rollup_oracle() -> str:
    """DuckDB twin of _q_hll_tile_rollup — sketches the PARENT cell
    DIRECTLY from raw rows (independent of the Spark side's
    child-merge path), so green certifies merge(children) ==
    sketch(union)."""
    from geospark import sketch as SK
    from geospark.functions import geohash as GH

    ilng, ilat = GH.quantize_axes_sql("lat", "lng", 2)
    cell2 = GH.interleave_sql("ilng", "ilat", 2)
    reg, rho = SK.hll_register_sql("user_id", HLL_P)
    zint = SK.hll_zint_sql(HLL_P)
    _z, est = SK.hll_estimate_sql(HLL_P)
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        q AS (SELECT user_id, {ilng} AS ilng, {ilat} AS ilat FROM pts),
        c AS (SELECT user_id, {cell2} AS cell2 FROM q),
        d AS (SELECT DISTINCT (cell2 >> 5) AS cell1, cell2, user_id
              FROM c),
        r AS (SELECT cell1, cell2, {reg} AS reg, {rho} AS rho FROM d),
        regs AS (
            SELECT cell1, reg, max(rho) AS m_rho
            FROM r GROUP BY 1, 2
        ),
        sk AS (
            SELECT cell1, count(*) AS regs_hit, {zint} AS z_int
            FROM regs GROUP BY 1
        ),
        kids AS (
            SELECT cell1, count(DISTINCT cell2) AS n_child_cells
            FROM r GROUP BY 1
        )
        SELECT cell1, n_child_cells, regs_hit,
               round({est}, 3) AS est_users
        FROM sk JOIN kids USING (cell1)
    """


def _cms_heavy_hitters_oracle() -> str:
    """DuckDB twin of _q_cms_heavy_hitters: same single-space bigrams,
    same row-salted md5-60 buckets, integer sum/min estimator."""
    from geospark import sketch as SK

    rws = ", ".join(f"({r})" for r in range(CMS_D))
    bsk = SK.cms_bucket_sql("bg", "r", CMS_W)
    return f"""
        WITH t AS (SELECT string_split(text, ' ') AS a FROM documents),
        b AS (
            SELECT unnest(list_transform(range(1, len(a)),
                          i -> a[i] || ' ' || a[i + 1])) AS bg
            FROM t
        ),
        rws(r) AS (VALUES {rws}),
        e AS (SELECT bg, r, {bsk} AS bucket FROM b CROSS JOIN rws),
        sk AS (SELECT r, bucket, count(*) AS cnt FROM e GROUP BY 1, 2),
        probes AS (SELECT DISTINCT bg FROM b),
        pe AS (SELECT bg, r, {bsk} AS bucket FROM probes CROSS JOIN rws),
        est AS (
            SELECT bg, min(COALESCE(cnt, 0)) AS est_cnt
            FROM pe LEFT JOIN sk USING (r, bucket) GROUP BY bg
        ),
        exact AS (SELECT bg, count(*) AS exact_cnt FROM b GROUP BY 1),
        n AS (SELECT count(*) AS n_bg FROM b)
        SELECT bg AS bigram, est_cnt, exact_cnt
        FROM est JOIN exact USING (bg) CROSS JOIN n
        WHERE est_cnt >= n_bg / {float(CMS_PHI)!r}
    """


def _bloom_crawl_filter_oracle() -> str:
    """DuckDB twin of _q_bloom_crawl_filter: identical salted-md5 bit
    positions; `present` is the exact seen-set membership."""
    from geospark import sketch as SK

    js = ", ".join(f"({j})" for j in range(BLOOM_K))
    bit = SK.bloom_bit_sql("h", "j", BLOOM_M)
    return f"""
        WITH probes AS (SELECT doc_id, md5(text) AS h FROM documents),
        prior AS (SELECT DISTINCT md5(text) AS h FROM documents
                  WHERE doc_id % 3 = 0),
        js(j) AS (VALUES {js}),
        bits AS (SELECT DISTINCT {bit} AS bit FROM prior CROSS JOIN js),
        pp AS (SELECT DISTINCT h FROM probes),
        pe AS (SELECT h, {bit} AS bit FROM pp CROSS JOIN js),
        hit AS (
            SELECT h, min(CASE WHEN bits.bit IS NOT NULL
                               THEN 1 ELSE 0 END) AS bloom_maybe
            FROM pe LEFT JOIN bits USING (bit) GROUP BY h
        )
        SELECT doc_id, CAST(bloom_maybe AS BIGINT) AS bloom_maybe,
               CAST(CASE WHEN prior.h IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS present
        FROM probes
        JOIN hit USING (h)
        LEFT JOIN prior ON probes.h = prior.h
    """


def _staypoints_oracle() -> str:
    """DuckDB twin of _q_staypoints: same windows, same quantized step
    test, same integer centroid math."""
    hav = G.haversine_sql("plat", "plng", "lat", "lng")
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        q AS (
            SELECT user_id, event_id, epoch_us(ts) AS us, lat, lng,
                   CAST(round(lat * 10000000.0) AS BIGINT) AS lat7,
                   CAST(round(lng * 10000000.0) AS BIGINT) AS lng7
            FROM pts
        ),
        l AS (
            SELECT *, lag(lat) OVER w AS plat, lag(lng) OVER w AS plng
            FROM q
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        b AS (
            SELECT *, CASE WHEN plat IS NULL
                           OR floor({hav}) > {STAY_D_MAX_M}
                      THEN 1 ELSE 0 END AS brk
            FROM l
        ),
        s AS (
            SELECT *, sum(brk) OVER (
                PARTITION BY user_id ORDER BY us, event_id
                ROWS UNBOUNDED PRECEDING) AS seg_id
            FROM b
        ),
        g AS (
            SELECT user_id, seg_id, count(*) AS n_pts,
                   min(us) AS start_us, max(us) AS end_us,
                   sum(lat7) AS slat, sum(lng7) AS slng
            FROM s GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY start_us, seg_id
               ) - 1 AS BIGINT) AS sp_idx,
               n_pts, start_us, end_us,
               (end_us - start_us) AS dwell_us,
               CAST(floor(slat / n_pts) AS BIGINT) AS c_lat7,
               CAST(floor(slng / n_pts) AS BIGINT) AS c_lng7
        FROM g
        WHERE end_us - start_us >= {STAY_MIN_DWELL_US}
    """


def _colocate_oracle() -> str:
    """Brute-force range-join twin of _q_colocate — no cells, no time
    buckets: the independent algorithm that certifies the bucketed
    plan's recall."""
    hav = G.haversine_sql("l.lat", "l.lng", "r.lat", "r.lng")
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        q AS (SELECT user_id AS u, event_id AS eid, epoch_us(ts) AS us,
                     lat, lng
              FROM pts)
        SELECT least(l.u, r.u) AS user_lo,
               greatest(l.u, r.u) AS user_hi,
               count(*) AS n_encounters,
               CAST(sum(CAST(floor({hav}) AS BIGINT)) AS BIGINT)
                   AS sum_step_m
        FROM q l JOIN q r
          ON r.us >= l.us AND r.us <= l.us + {COLOC_T_US}
        WHERE (l.us < r.us OR (l.us = r.us AND l.eid < r.eid))
          AND l.u <> r.u
          AND floor({hav}) <= {COLOC_D_M}
        GROUP BY 1, 2
    """


def _polygon_area_oracle() -> str:
    """DuckDB twin of _q_polygon_area: same VALUES geometry, same
    quantization, same wraparound window shoelace."""
    vals = _values_sql(_demo_ring_rows(), [
        ("area_id", "BIGINT"), ("ring_kind", "VARCHAR"),
        ("ring_idx", "BIGINT"), ("vtx_idx", "BIGINT"),
        ("lat", "DOUBLE"), ("lng", "DOUBLE"),
    ])
    return f"""
        WITH v AS ({vals}),
        q AS (
            SELECT area_id, ring_kind, ring_idx, vtx_idx,
                   CAST(floor(lng * 100000 + 0.5) AS BIGINT) AS x,
                   CAST(floor(lat * 100000 + 0.5) AS BIGINT) AS y
            FROM v
        ),
        l AS (
            SELECT *,
                   COALESCE(lead(x) OVER w, first_value(x) OVER w)
                       AS xn,
                   COALESCE(lead(y) OVER w, first_value(y) OVER w)
                       AS yn
            FROM q
            WINDOW w AS (PARTITION BY area_id, ring_kind, ring_idx
                         ORDER BY vtx_idx)
        )
        SELECT area_id, ring_kind, ring_idx,
               count(*) AS n_vtx,
               CAST(sum(x * yn - xn * y) AS BIGINT) AS area2_q,
               CAST(CASE WHEN sum(x * yn - xn * y) > 0 THEN 1
                         WHEN sum(x * yn - xn * y) < 0 THEN -1
                         ELSE 0 END AS INTEGER) AS winding
        FROM l
        GROUP BY 1, 2, 3
    """


def _frechet_oracle() -> str:
    """Golden-VALUES twin of _q_frechet: recursive-memo coupling over
    the same DuckDB-derived trajectories and reference path."""
    from geospark import goldens as GO

    rows = []
    for uid, line in _oracle_trajectories():
        n, fm = GO.frechet_to_ref_py(line, FRECHET_REF)
        rows.append((uid, n, fm))
    return _values_sql(rows, [
        ("user_id", "BIGINT"), ("n_pts", "BIGINT"),
        ("frechet_m", "BIGINT"),
    ])


def _hausdorff_oracle() -> str:
    """Independent SQL derivation of _q_hausdorff's max-min semantics:
    the same floor-int haversine matrix, reduced by plain GROUP BYs in
    DuckDB — not a golden echo of a Python twin."""
    ref_vals = ", ".join(
        f"({i}, {la!r}, {ln!r})" for i, (la, ln) in enumerate(FRECHET_REF))
    hav = G.haversine_sql("lat", "lng", "rla", "rln")
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        r(i, rla, rln) AS (VALUES {ref_vals}),
        d AS (
            SELECT user_id, event_id, i,
                   CAST(floor({hav}) AS BIGINT) AS dm
            FROM pts CROSS JOIN r
        ),
        fwd AS (
            SELECT user_id, event_id, min(dm) AS near
            FROM d GROUP BY user_id, event_id
        ),
        f2 AS (
            SELECT user_id, count(*) AS n_pts,
                   max(near) AS h_traj_ref_m
            FROM fwd GROUP BY user_id
        ),
        bwd AS (
            SELECT user_id, i, min(dm) AS near
            FROM d GROUP BY user_id, i
        ),
        b2 AS (
            SELECT user_id, max(near) AS h_ref_traj_m
            FROM bwd GROUP BY user_id
        )
        SELECT f2.user_id, n_pts, h_traj_ref_m, h_ref_traj_m,
               greatest(h_traj_ref_m, h_ref_traj_m) AS hausdorff_m
        FROM f2 JOIN b2 USING (user_id)
    """


def _convex_hull_oracle() -> str:
    """Golden-VALUES twin of _q_convex_hull: Jarvis march per user
    over the same DuckDB-derived trajectories."""
    from geospark import goldens as GO

    rows = []
    for uid, line in _oracle_trajectories():
        for i, la7, ln7 in GO.convex_hull_jarvis(line):
            rows.append((uid, i, la7, ln7))
    return _values_sql(rows, [
        ("user_id", "BIGINT"), ("hull_idx", "BIGINT"),
        ("h_lat7", "BIGINT"), ("h_lng7", "BIGINT"),
    ])


def _pagerank_oracle() -> str:
    """DuckDB twin of _q_pagerank: the same 5 iterations unrolled as
    CTEs — BIGINT floor division everywhere, so ranks match exactly."""
    scale = 10 ** 15
    n = "(SELECT n FROM nn)"
    jp = ", ".join(f"({j}, {p})" for j, p in PR_EDGE_SALTS)
    base = f"(({scale}::BIGINT * 15 // 100) // {n})"
    sql = f"""
        WITH nodes AS (SELECT event_id AS node FROM events),
        nn AS (SELECT count(*) AS n FROM nodes),
        jp(j, p) AS (VALUES {jp}),
        edges AS (SELECT node AS src, (node * p + j) % {n} AS dst
                  FROM nodes CROSS JOIN jp),
        deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        ed AS (SELECT e.src, e.dst, deg.d
               FROM edges e JOIN deg USING (src)),
        r0 AS (SELECT node, {scale}::BIGINT // {n} AS r FROM nodes)"""
    for i in range(1, PR_ITERS + 1):
        sql += f""",
        c{i} AS (SELECT ed.dst AS node, sum(r{i - 1}.r // ed.d) AS s
                 FROM ed JOIN r{i - 1} ON ed.src = r{i - 1}.node
                 GROUP BY 1),
        r{i} AS (SELECT nodes.node,
                        CAST({base} + (85 * COALESCE(c{i}.s, 0)) // 100
                             AS BIGINT) AS r
                 FROM nodes LEFT JOIN c{i} USING (node))"""
    sql += f"\n        SELECT node, r AS rank_i FROM r{PR_ITERS}"
    return sql


def _hdr_quantiles_oracle() -> str:
    """DuckDB twin of _q_hdr_quantiles — sketches each lang DIRECTLY
    from raw rows (no shard-merge path), same top-B-bits bucket math
    (bin() has no leading zeros in either engine) and exact integer
    ppm ranks, so green certifies merge(children) == sketch(union)
    and bit-identical quantile extraction."""
    from geospark import sketch as SK

    b = SK.hdr_bucket_sql("n_chars", HDR_B)
    qcols = []
    for q, name in zip(HDR_QS, ("p50_lb", "p90_lb", "p99_lb")):
        qcols.append(
            f"min(CASE WHEN cum >= (n * {q} + 999999) // 1000000 "
            f"THEN b END) AS {name}"
        )
    return f"""
        WITH s AS (SELECT lang, {b} AS b FROM documents),
        sk AS (SELECT lang, b, count(*) AS cnt FROM s GROUP BY 1, 2),
        c AS (
            SELECT lang, b,
                   CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY b)
                        AS BIGINT) AS cum,
                   CAST(sum(cnt) OVER (PARTITION BY lang)
                        AS BIGINT) AS n
            FROM sk
        )
        SELECT lang, max(n) AS n, count(*) AS n_buckets,
               {", ".join(qcols)}
        FROM c GROUP BY lang
    """


def _graph_sssp_oracle() -> str:
    """DuckDB twin of _q_graph_sssp: plain (un-pruned) Bellman-Ford,
    all 6 rounds unrolled as CTEs over the identical weighted edge
    list, min-merging the same BIGINT (dist * hub_mod + hub) key —
    a different evaluation strategy (no frontier), so green certifies
    the <=6-hop shortest-path semantics, not the plan."""
    m = max(SSSP_SOURCES) + 1
    n = "(SELECT n FROM nn)"
    jp = ", ".join(f"({j}, {p})" for j, p in PR_EDGE_SALTS)
    d0 = ", ".join(
        f"(CAST({s} AS BIGINT), CAST({s} AS BIGINT))"
        for s in sorted(SSSP_SOURCES)
    )
    sql = f"""
        WITH nodes AS (SELECT event_id AS node FROM events),
        nn AS (SELECT count(*) AS n FROM nodes),
        jp(j, p) AS (VALUES {jp}),
        ew AS (
            SELECT src, dst,
                   1 + (src * {SSSP_WA} + dst * {SSSP_WB})
                       % {SSSP_WMOD} AS w
            FROM (SELECT node AS src, (node * p + j) % {n} AS dst
                  FROM nodes CROSS JOIN jp)
        ),
        d0(node, key) AS (VALUES {d0})"""
    for i in range(1, SSSP_HOPS + 1):
        sql += f""",
        d{i} AS (
            SELECT node, min(key) AS key FROM (
                SELECT node, key FROM d{i - 1}
                UNION ALL
                SELECT ew.dst AS node,
                       (d.key // {m} + ew.w) * {m} + d.key % {m} AS key
                FROM d{i - 1} d JOIN ew ON d.node = ew.src
            ) GROUP BY node
        )"""
    sql += f"""
        SELECT node, key // {m} AS dist, key % {m} AS hub
        FROM d{SSSP_HOPS}"""
    return sql


def _kmv_overlap_oracle() -> str:
    """DuckDB twin of _q_kmv_overlap: same md5-60 hash order, LIMIT-k
    sketches, identical estimator formulas."""
    from geospark import sketch as SK

    h = SK.kmv_hash_sql("text")
    est = SK.kmv_estimate_sql(KMV_K)
    return f"""
        WITH a AS (SELECT DISTINCT text FROM documents
                   WHERE doc_id % 2 = 0),
        b AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 1),
        ska AS (SELECT {h} AS h FROM a ORDER BY 1 LIMIT {KMV_K}),
        skb AS (SELECT {h} AS h FROM b ORDER BY 1 LIMIT {KMV_K}),
        uk AS (
            SELECT DISTINCT h FROM (
                SELECT h FROM ska UNION ALL SELECT h FROM skb
            ) ORDER BY h LIMIT {KMV_K}
        ),
        jac AS (
            SELECT (SELECT count(*) FROM uk) AS k_u,
                   count(*) AS k_both
            FROM uk
            WHERE h IN (SELECT h FROM ska)
              AND h IN (SELECT h FROM skb)
        ),
        ea AS (SELECT count(*) AS n_sk, max(h) AS h_k FROM ska),
        eb AS (SELECT count(*) AS n_sk, max(h) AS h_k FROM skb),
        ex AS (
            SELECT (SELECT count(*) FROM a) AS exact_ndv_a,
                   (SELECT count(*) FROM b) AS exact_ndv_b,
                   (SELECT count(*) FROM a JOIN b USING (text))
                       AS inter
        )
        SELECT round((SELECT {est} FROM ea), 3) AS est_ndv_a,
               exact_ndv_a,
               round((SELECT {est} FROM eb), 3) AS est_ndv_b,
               exact_ndv_b,
               (SELECT k_both FROM jac) AS k_both,
               (SELECT round(CAST(k_both AS DOUBLE)
                             / CAST(k_u AS DOUBLE), 6) FROM jac)
                   AS est_jaccard,
               round(CAST(inter AS DOUBLE)
                     / CAST(exact_ndv_a + exact_ndv_b - inter
                            AS DOUBLE), 6) AS exact_jaccard
        FROM ex
    """


def _polygon_overlap_oracle_sql() -> str:
    """Independent NL derivation of polygon_overlap: all 3x101 pairs,
    edge crossings by the unrolled orientation predicate over demo
    edges x quad edges, rep-in-quad by CLOSED-OPEN interval logic
    (provably equal to the engine's even-odd parity for an
    axis-aligned ring, derived independently), rep-in-area by the
    geodata.ring_pip_sql unrolled parity."""
    edges, reps = [], []
    for aid, spec in G.DEMO_RINGS.items():
        rings = list(spec["outers"]) + [
            r for hs in spec["inners"] for r in hs
        ]
        for ring in rings:
            n = len(ring)
            reps.append(
                f"({aid}, {float(ring[0][0])!r}, {float(ring[0][1])!r})"
            )
            for i in range(n):
                y0, x0 = float(ring[i][0]), float(ring[i][1])
                y1 = float(ring[(i + 1) % n][0])
                x1 = float(ring[(i + 1) % n][1])
                edges.append(f"({aid}, {y0!r}, {x0!r}, {y1!r}, {x1!r})")

    def ocase(px, py, qx, qy, rx, ry):
        d = (f"(({qx}) - ({px})) * (({ry}) - ({py})) "
             f"- (({qy}) - ({py})) * (({rx}) - ({px}))")
        return f"CASE WHEN {d} > 0 THEN 1 WHEN {d} < 0 THEN -1 ELSE 0 END"

    o1 = ocase("ax0", "ay0", "ax1", "ay1", "bx0", "by0")
    o2 = ocase("ax0", "ay0", "ax1", "ay1", "bx1", "by1")
    o3 = ocase("bx0", "by0", "bx1", "by1", "ax0", "ay0")
    o4 = ocase("bx0", "by0", "bx1", "by1", "ax1", "ay1")

    bina_union = "\nUNION ALL\n".join(
        f"SELECT bid, CAST({aid} AS BIGINT) AS id_a, "
        f"CASE WHEN {G.area_pip_sql('rep_lat', 'rep_lng', spec['outers'], spec['inners'])} "
        f"THEN 1 ELSE 0 END AS b_in_a FROM brep"
        for aid, spec in G.DEMO_RINGS.items()
    )

    return f"""
        WITH anch AS (
            SELECT event_id % 101 AS bid, min(event_id) AS eid
            FROM events GROUP BY 1
        ),
        bq AS (
            SELECT bid,
                   ((eid * 7919) % 16000) / 100.0 - 80.0 AS clat,
                   ((eid * 104729) % 36000) / 100.0 - 180.0 AS clng,
                   2.0 + (bid % 7) AS hl, 3.0 + (bid % 11) AS hg
            FROM anch
        ),
        bpoly AS (
            SELECT bid, clat - hl AS lat_min, clat + hl AS lat_max,
                   clng - hg AS lng_min, clng + hg AS lng_max
            FROM bq
        ),
        brep AS (SELECT bid, lat_min AS rep_lat, lng_min AS rep_lng
                 FROM bpoly),
        qedges AS (
            SELECT bid, lat_min AS by0, lng_min AS bx0,
                   lat_min AS by1, lng_max AS bx1 FROM bpoly
            UNION ALL SELECT bid, lat_min, lng_max, lat_max, lng_max
            FROM bpoly
            UNION ALL SELECT bid, lat_max, lng_max, lat_max, lng_min
            FROM bpoly
            UNION ALL SELECT bid, lat_max, lng_min, lat_min, lng_min
            FROM bpoly
        ),
        aedges(aid, ay0, ax0, ay1, ax1) AS (VALUES {", ".join(edges)}),
        areps(aid, rep_lat, rep_lng) AS (VALUES {", ".join(reps)}),
        ocand AS (
            SELECT e.aid, q.bid,
                   e.ax0, e.ay0, e.ax1, e.ay1,
                   q.bx0, q.by0, q.bx1, q.by1,
                   {o1} AS o1, {o2} AS o2, {o3} AS o3, {o4} AS o4
            FROM aedges e CROSS JOIN qedges q
        ),
        ecx AS (
            SELECT aid, bid, max(CASE WHEN (o1 <> o2 AND o3 <> o4)
                OR (o1 = 0 AND bx0 >= least(ax0, ax1)
                    AND bx0 <= greatest(ax0, ax1)
                    AND by0 >= least(ay0, ay1)
                    AND by0 <= greatest(ay0, ay1))
                OR (o2 = 0 AND bx1 >= least(ax0, ax1)
                    AND bx1 <= greatest(ax0, ax1)
                    AND by1 >= least(ay0, ay1)
                    AND by1 <= greatest(ay0, ay1))
                OR (o3 = 0 AND ax0 >= least(bx0, bx1)
                    AND ax0 <= greatest(bx0, bx1)
                    AND ay0 >= least(by0, by1)
                    AND ay0 <= greatest(by0, by1))
                OR (o4 = 0 AND ax1 >= least(bx0, bx1)
                    AND ax1 <= greatest(bx0, bx1)
                    AND ay1 >= least(by0, by1)
                    AND ay1 <= greatest(by0, by1))
                THEN 1 ELSE 0 END) AS edge_cross
            FROM ocand GROUP BY 1, 2
        ),
        ainb AS (
            SELECT r.aid, p.bid,
                   max(CASE WHEN r.rep_lat >= p.lat_min
                             AND r.rep_lat < p.lat_max
                             AND r.rep_lng >= p.lng_min
                             AND r.rep_lng < p.lng_max
                            THEN 1 ELSE 0 END) AS a_in_b
            FROM areps r CROSS JOIN bpoly p GROUP BY 1, 2
        ),
        bina AS ({bina_union}),
        allf AS (
            SELECT e.aid, e.bid, e.edge_cross, a.a_in_b, b.b_in_a
            FROM ecx e
            JOIN ainb a ON e.aid = a.aid AND e.bid = a.bid
            JOIN bina b ON e.aid = b.id_a AND e.bid = b.bid
        )
        SELECT CAST(aid AS BIGINT) AS id_a, bid AS id_b,
               edge_cross, a_in_b, b_in_a
        FROM allf WHERE edge_cross + a_in_b + b_in_a > 0
    """


def _reverse_geocode_oracle() -> str:
    """DuckDB twin of _q_reverse_geocode — INDEPENDENT algorithm: the
    Spark side is the cell-count-bounded kNN radius join; the oracle is the
    brute-force cross-join argmin (row_number over every
    point x place pair), so green certifies cover recall, not plan
    echo. Ordering on the raw haversine double with gaz_id tie-break
    matches knn_join_df's window exactly."""
    from geospark.geocode import gazetteer_sql

    hav = G.haversine_sql("p.lat", "p.lng", "g.g_lat", "g.g_lng")
    return f"""
        WITH pts AS (
            SELECT * FROM ({G.EVENTS_POINTS_SQL}) WHERE event_id % 10 = 0
        ),
        gaz AS ({gazetteer_sql(GEOCODE_NAMES, GEOCODE_PER_NAME)}),
        ranked AS (
            SELECT p.event_id, g.gaz_id, g.name, g.population,
                   CAST(floor({hav}) AS BIGINT) AS dist_floor_m,
                   row_number() OVER (
                       PARTITION BY p.event_id
                       ORDER BY {hav}, g.gaz_id) AS rn
            FROM pts p CROSS JOIN gaz g
        )
        SELECT event_id, gaz_id, name, population, dist_floor_m
        FROM ranked WHERE rn = 1
    """


def _geocode_resolve_oracle() -> str:
    """DuckDB twin of _q_geocode_resolve — INDEPENDENT argmax: the
    Spark side takes min(struct(-score, gaz_id, ...)); the oracle
    ranks the same scored candidates with a row_number window. The
    score is pure BIGINT (``//`` == Spark ``div`` on positive
    operands) over floor(haversine), so both engines agree exactly."""
    from geospark.geocode import SCORE_NUM, SCORE_OFF, gazetteer_sql

    NN, PN = GEOCODE_NAMES, GEOCODE_PER_NAME
    hav = G.haversine_sql("m.lat", "m.lng", "g.g_lat", "g.g_lng")
    score = (f"(population * CAST({SCORE_NUM} AS BIGINT)) // "
             f"(CAST({SCORE_OFF} AS BIGINT) + dist_m)")
    return f"""
        WITH pts AS ({G.EVENTS_POINTS_SQL}),
        m AS (
            SELECT event_id AS mention_id,
                   'place_' || CAST(event_id % {NN} AS VARCHAR) AS name,
                   lat, lng
            FROM pts
        ),
        gaz AS ({gazetteer_sql(NN, PN)}),
        cand AS (
            SELECT m.mention_id, g.gaz_id, g.g_lat, g.g_lng,
                   g.population,
                   CAST(floor({hav}) AS BIGINT) AS dist_m
            FROM m JOIN gaz g USING (name)
        ),
        scored AS (
            SELECT *, {score} AS score,
                   row_number() OVER (
                       PARTITION BY mention_id
                       ORDER BY {score} DESC, gaz_id) AS rn
            FROM cand
        )
        SELECT mention_id, gaz_id, g_lat AS r_lat, g_lng AS r_lng,
               population, dist_m, score
        FROM scored WHERE rn = 1
    """


def oracle_sql() -> dict[str, str]:
    from geospark import textops as TX
    from geospark.functions import hexgrid as HX
    from geospark.sessions import sessionize_sql

    pts = G.EVENTS_POINTS_SQL
    _hex_sql = HX.hex_cell_sql("lat", "lng", HEX_RES)
    _hex_rollup_sql = HX.hex_cell_sql("lat", "lng", HEX_ROLLUP_RES)
    _hex_parent_sql = HX.hex_parent_sql("hex")
    _hex_ring_sql = HX.hex_cell_sql("lat", "lng", HEX_RING_RES)
    _hex_offs = ", ".join(
        f"({dq}, {dr})" for dq, dr in HX.kring_offsets(HEX_RING_K)
    )
    hav = G.haversine_sql("q_lat", "q_lng", "lat", "lng")
    hav0 = G.haversine_sql(
        repr(G.DEMO_CENTERS[0][1]), repr(G.DEMO_CENTERS[0][2]), "lat", "lng"
    )
    tx = G.tile_x_sql("lng", TILE_Z)
    ty = G.tile_y_sql("lat", TILE_Z)
    _res10 = repr(K.resolution(10))
    lat_min, lng_min, lat_max, lng_max = BOX

    pip_union = "\nUNION ALL\n".join(
        f"SELECT {aid} AS area_id, event_id FROM pts WHERE {sql}"
        for aid, sql in G.demo_layer_pip_sql("lat", "lng")
    )

    # poly_file_pip oracle: INDEPENDENT inline .poly parse (token-count
    # state machine, distinct from sources.py's readline flow), then
    # the same densify + ray-cast SQL generation the pip_join oracle
    # uses over its in-code rings.
    def _parse_poly_alt(path: str):
        import numpy as _np

        rings: list[tuple[str, list[tuple[float, float]]]] = []
        kind, cur = "outer", []
        for raw in open(path).read().splitlines()[1:]:
            tok = raw.split()
            if len(tok) >= 2:
                cur.append((float(tok[1]), float(tok[0])))
            elif tok == ["END"]:
                if cur:
                    rings.append((kind, cur))
                kind, cur = "outer", []
            elif len(tok) == 1:
                kind = "hole" if tok[0].startswith("!") else "outer"
        outers, inners = [], []
        for k, r in rings:
            if k == "outer":
                outers.append(_np.asarray(r, dtype=_np.float64))
                inners.append([])
            else:
                inners[-1].append(_np.asarray(r, dtype=_np.float64))
        return outers, inners

    from geospark.joins import PIP_DENSIFY_DEG, Area as _Area, densify_areas

    poly_hits, poly_nring = [], {}
    for aid, fname in POLY_FIXTURES:
        path = _poly_fixture_path(fname)
        o, i = _parse_poly_alt(path)
        dens = densify_areas([_Area(aid, o, i)], PIP_DENSIFY_DEG)[0]
        poly_hits.append(
            f"SELECT {aid} AS area_id, event_id FROM pts "
            f"WHERE {G.area_pip_sql('lat', 'lng', dens.outers, dens.inners)}"
        )
        body = open(path).read().splitlines()[2:]
        n = 0
        for ln in body:
            if not ln.startswith(" ") or len(ln.split()) < 2:
                break
            n += 1
        poly_nring[aid] = n
    poly_union = "\nUNION ALL\n".join(poly_hits)
    poly_nring_case = ("CASE area_id " + " ".join(
        f"WHEN {a} THEN {n}" for a, n in poly_nring.items()) + " END")

    prev = "PARTITION BY event_type ORDER BY event_id"
    bearing = G.bearing_sql("p_lat", "p_lng", "lat", "lng")
    seg_hav = G.haversine_sql("p_lat", "p_lng", "lat", "lng")
    dest_lat, dest_lng = G.destination_sql(
        "lat", "lng", "(event_id % 900) * 1000.0 + 500.0", "(event_id % 360) + 0.5"
    )
    mid_lat, mid_lng = G.midpoint_sql("p_lat", "p_lng", "lat", "lng")

    from geospark.textops import (
        BPE_ISH_RE,
        HASH_P,
        LANG_MARKERS,
        SIMHASH_BITS,
        STOPWORDS,
        minhash_perm_params,
    )

    stop_pat = "\\b(" + "|".join(STOPWORDS) + ")\\b"
    lang_counts = ", ".join(
        f"len(regexp_extract_all(text, '\\b({'|'.join(ws)})\\b')) AS s_{lang}"
        for lang, ws in sorted(LANG_MARKERS.items())
    )
    lang_best = "greatest(" + ", ".join(
        f"s_{lang}" for lang in sorted(LANG_MARKERS)
    ) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN s_{lang} = {lang_best} AND {lang_best} > 0 THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    ) + " ELSE 'unknown' END"

    shingle_cte = """
        base AS (SELECT doc_id, string_split_regex(text, '\\s+') toks
                 FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
            FROM base, generate_series(1, 100000) g(i)
            WHERE i <= len(toks) - 2
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    """

    emb_ids = ", ".join(str(i) for i in EMB_QUERY_IDS)

    # --- engine-neutral-hash oracle building blocks ------------------------
    tok_hash = _duck_md5_60("t")
    mh_cols = []
    for i in range(16):
        a, b = minhash_perm_params(i)
        mh_cols.append(f"min(({a} * x + {b}) % {HASH_P}) AS mh_{i}")
    mh_select = ", ".join(mh_cols)
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"mh_{b * 4 + j}" for j in range(4))
        + ") AS sig FROM mh"
        for b in range(4)
    )
    # LSH candidate -> exact-Jaccard-refine pair relation, shared by the
    # pair query and the keep-one dedup closure
    minhash_pairs_ctes = f"""{shingle_cte},
            hx AS (SELECT doc_id,
                          {_duck_md5_60('shingle')} % {HASH_P} AS x
                   FROM sh),
            mh AS (SELECT doc_id, {mh_select} FROM hx GROUP BY doc_id),
            bands AS (
                {band_selects}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            ),
            inter AS (
                SELECT c.doc_id_a, c.doc_id_b, count(*) AS n_inter
                FROM cand c
                JOIN sh a ON a.doc_id = c.doc_id_a
                JOIN sh b ON b.doc_id = c.doc_id_b AND a.shingle = b.shingle
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT doc_id_a, doc_id_b,
                       n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) AS jac
                FROM inter
                JOIN sizes sa ON doc_id_a = sa.doc_id
                JOIN sizes sb ON doc_id_b = sb.doc_id
                WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)
                      >= {MINHASH_T}
            )"""

    sim_sums = ", ".join(
        f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN w ELSE -w END) AS s_{j}"
        for j in range(SIMHASH_BITS)
    )
    sim_sig = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )

    ann_bucket = _duck_lsh_bucket("embedding", n_planes=8, dim=64)
    nd_buckets = ", ".join(
        f"{_duck_lsh_bucket('embedding', n_planes=8, dim=64, table=t)} AS b{t}"
        for t in range(4)
    )

    # --- golden-VALUES oracles (independent implementations) ---------------
    from geospark import goldens as GO

    import duckdb as _dd

    _con = _dd.connect()
    _mm_pdf = _con.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{_oracle_sf_dir()}/documents.parquet') "
        f"ORDER BY doc_id"
    ).df()
    _con.close()
    rz_rows = []
    for _did, _txt in zip(_mm_pdf["doc_id"], _mm_pdf["text"]):
        _data = _txt.encode("utf-8")
        _bl = GO.resize_blocks_py(_data, 16)
        rz_rows.append((int(_did), len(_data), 4, 4,
                        _bl[0], _bl[5], _bl[15], sum(_bl), len(_bl)))

    traj = _oracle_trajectories()
    sm_rows = [
        (uid, len(line), *GO.simplify_mask_stats(line))
        for uid, line in traj
        if len(line) >= 2
    ]
    pc_rows = []
    for uid, line in traj:
        enc = GO.encode_polyline(line, 5)
        nz, kept = GO.encode_polyline_nonzero(line, 5, NZ_SIMPLIFICATION)
        pc_rows.append((
            uid, len(enc), len(GO.decode_polyline(enc, 5)), len(line),
            len(nz), kept,
        ))
    plu_rows = []
    for uid, line in traj:
        n = len(line)
        if n < 2:
            continue
        f_, t_ = n // 4, (3 * n) // 4
        ext = [tuple(p) for p in line[f_:t_ + 1]]
        rev = [tuple(line[i]) for i in range(t_, f_ - 1, -1)]
        flat = [c for p in ext for c in p]
        back = list(zip(flat[0::2], flat[1::2]))
        keep = GO.simplify_dp_deg_py(ext, PL_UTILS_TOL_DEG)
        plu_rows.append((
            uid, n, f_, t_, len(ext),
            int(list(reversed(rev)) == ext), len(flat), int(back == ext),
            math.floor(ext[0][0] * 1e7), math.floor(ext[0][1] * 1e7),
            sum(keep),
        ))
    pd_rows = []
    for uid, line in traj:
        if len(line) < 2:
            continue
        for qid, qla, qln in G.DEMO_CENTERS:
            d, si, (cla, cln) = GO.distance_to_polyline((qla, qln), line)
            pd_rows.append((
                qid, uid, si, int(math.floor(d)),
                _round_half_up(cla, 6), _round_half_up(cln, 6),
            ))
    ev_ids, ev_lats, ev_lngs = _oracle_points()
    mm_probes = [
        (int(i), la + 0.0003, ln - 0.0002)
        for i, la, ln in zip(ev_ids, ev_lats, ev_lngs)
        if i % 10 == 0
    ]
    ev_uid = _oracle_event_users()
    mm_segs = []
    for i, la, ln in zip(ev_ids, ev_lats, ev_lngs):
        uid, si, fla, fln, tla, tln = G.events_segments_py(
            int(i), ev_uid[int(i)], la, ln)
        mm_segs.append((uid, si, (fla, fln), (tla, tln)))
    mm_rows = [
        (pid, uid, si, int(math.floor(d)),
         _round_half_up(cla, 6), _round_half_up(cln, 6))
        for pid, uid, si, d, cla, cln in GO.map_match_segments(
            mm_probes, mm_segs, MAP_MATCH_MAX_M)
    ]
    corr_rows = [
        (pid, uid, si, int(math.floor(d)),
         _round_half_up(cla, 6), _round_half_up(cln, 6))
        for pid, uid, si, d, cla, cln in GO.corridor_pairs(
            [p for p in mm_probes if p[0] % 50 == 0], mm_segs,
            CORRIDOR_MAX_M)
    ]
    _hmm_by_user: dict[int, list] = {}
    for pid, la, ln in mm_probes:
        _hmm_by_user.setdefault(ev_uid[pid], []).append((pid, la, ln))
    hmm_points = [
        (uid, seq, pid, la, ln)
        for uid, rows in _hmm_by_user.items()
        for seq, (pid, la, ln) in enumerate(sorted(rows), start=1)
    ]
    hmm_rows = GO.viterbi_match_py(hmm_points, mm_segs, HMM_MAX_M,
                                   HMM_K, HMM_TW)
    tp_rows = GO.tile_payload(
        [(uid, line) for uid, line in traj if uid % 4 == 0],
        TILE_PAYLOAD_Z, _tile_payload_rect(),
    )
    cl_rows = [
        (int(m), int(c)) for m, c in GO.cluster_hist(ev_lats, ev_lngs, ev_ids, 5000.0)
    ]
    bpe_rows = [
        (int(r), l, rr, int(c))
        for r, l, rr, c in GO.bpe_merges(_oracle_word_freqs(), BPE_MERGES)
    ]
    bpe_enc_rows = [
        (t, int(nw), int(c))
        for t, nw, c in GO.bpe_encode_py(
            _oracle_word_freqs(), [(l, r) for _, l, r, _ in bpe_rows])
    ]
    pq_rows = GO.pq_topk_py(_oracle_vecs(), EMB_QUERY_IDS, 10, PQ_M, PQ_CODES)
    km_rows = GO.kmeans_py(_oracle_vecs(), KM_K, KM_ITERS)
    sdd_rows = GO.semdedup_py(_oracle_vecs(), KM_K, KM_ITERS)
    ivft_rows = GO.ivf_trained_py(
        _oracle_vecs(), EMB_QUERY_IDS, 10, KM_K, KM_ITERS, IVF_T_PROBE)
    ivfpq_rows = GO.ivfpq_py(
        _oracle_vecs(), EMB_QUERY_IDS, 10, KM_K, KM_ITERS, IVFPQ_PROBE,
        PQ_M, PQ_CODES)
    pqr_rows = GO.pq_rerank_py(
        _oracle_vecs(), EMB_QUERY_IDS, 10, PQ_RERANK, PQ_M, PQ_CODES)
    st_rows = [
        (int(tx), int(ty), int(c)) for tx, ty, c in GO.stream_tile_counts(2000, 6)
    ]
    sd_rows = [
        (lg, int(c), int(nh))
        for lg, c, nh in GO.dedup_lang_stats(_DEDUP_DROPS)
    ]
    ph_rows = [(h, int(c), int(nl)) for h, c, nl in GO.page_host_stats(2000)]
    cd_rows = GO.crawl_dedup(2000)
    un_rows = [(u, int(n), int(d))
               for u, n, d in GO.url_normalize_stats(2000)]
    s2a_rows = GO.s2_cell_agg(ev_lats, ev_lngs, ev_ids, S2_AGG_LEVEL,
                              S2_AGG_PARENT, S2_CHECK_MOD)
    s2r_rows = GO.s2_range_join(ev_lats, ev_lngs, ev_ids, G.DEMO_CENTERS,
                                S2_JOIN_LEVEL)

    qlat_r, qlng_r = repr(G.DEMO_CENTERS[0][1]), repr(G.DEMO_CENTERS[0][2])
    mensa_scale = G.approx_lng_scale_sql(qlat_r, qlng_r)
    xdiff = f"(lng - {qlng_r})"
    ax = (
        f"((CASE WHEN abs({xdiff}) > 180.0 THEN 360.0 - abs({xdiff}) "
        f"ELSE abs({xdiff}) END) * {mensa_scale})"
    )
    ay = f"(abs({qlat_r} - lat) * {G.APPROX_LAT_SCALE})"
    approx_sq = f"({ax} * {ax} + {ay} * {ay})"
    lb = (
        f"(greatest(0.0, least(1.0, 1.0 - abs(lat) / 90.0)) "
        f"* {G.APPROX_LAT_SCALE})"
    )
    s9 = G.approx_sq_closest_sql(
        "q_lat", "q_lng", "p_lat", "p_lng", "lat", "lng",
        G.approx_lng_scale_sql("q_lat", "q_lng"),
    )
    lat_min, lng_min, lat_max, lng_max = BOX
    tz9 = {
        "tx1": G.tile_x_sql(repr(lng_min), 9),
        "tx2": G.tile_x_sql(repr(lng_max), 9),
        "ty1": G.tile_y_sql(repr(lat_max), 9),
        "ty2": G.tile_y_sql(repr(lat_min), 9),
    }

    return {
        "approx_distance": f"""
            WITH pts AS ({pts})
            SELECT event_id,
                   CAST(floor(sqrt({approx_sq})) AS BIGINT) AS approx_floor_m,
                   CAST(floor({lb}) AS BIGINT) AS lb_lng_floor,
                   CAST(floor({G.approx_lng_scale_sql('lat', 'lng')}) AS BIGINT)
                       AS scale_floor
            FROM pts
        """,
        "xyz_chord": f"""
            WITH pts AS ({pts})
            SELECT event_id,
                   CAST(floor({G.xyz_chord_sql(qlat_r, qlng_r, 'lat', 'lng')})
                        AS BIGINT) AS chord_floor_m
            FROM pts
        """,
        "fixed_codec": f"""
            WITH pts AS ({pts})
            SELECT event_id,
                   CAST(round(lat * 10000000.0) AS INTEGER) AS lat_fix,
                   CAST(round(lng * 10000000.0) AS INTEGER) AS lng_fix,
                   round(CAST(CAST(round(lat * 10000000.0) AS INTEGER) AS DOUBLE)
                         / 10000000.0, 7) AS lat_rt
            FROM pts
        """,
        "approx_polyline_dist": f"""
            WITH pts AS ({pts}),
            seg AS (
                SELECT user_id, lat, lng,
                       lag(lat) OVER w AS p_lat, lag(lng) OVER w AS p_lng,
                       row_number() OVER w - 2 AS seg_idx
                FROM pts
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            centers AS (
                SELECT * FROM {_centers_values()}
            ),
            scored AS (
                SELECT query_id, user_id, seg_idx, {s9} AS sq
                FROM seg CROSS JOIN centers
                WHERE p_lat IS NOT NULL
            ),
            ranked AS (
                SELECT query_id, user_id, seg_idx, sq,
                       row_number() OVER (
                           PARTITION BY query_id, user_id
                           ORDER BY sq, seg_idx
                       ) AS rn
                FROM scored
            )
            SELECT query_id, user_id, seg_idx,
                   CAST(floor(sq) AS BIGINT) AS sq_floor
            FROM ranked WHERE rn = 1
        """,
        "tile_range_box": f"""
            SELECT x.tile_x, y.tile_y
            FROM (SELECT unnest(generate_series(({tz9['tx1']}), ({tz9['tx2']})))
                      AS tile_x) x
            CROSS JOIN
                 (SELECT unnest(generate_series(({tz9['ty1']}), ({tz9['ty2']})))
                      AS tile_y) y
        """,
        "tile_pyramid": """
            SELECT z AS zoom,
                   (CAST(1 AS BIGINT) << (2 * z)) AS n_tiles
            FROM (SELECT unnest(generate_series(0, 7)) AS z)
        """,
        "doc_dedup_exact": """
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
                   count(*) OVER (PARTITION BY md5(text)) AS group_size
            FROM documents
        """,
        "doc_incremental_dedup": """
            WITH seen AS (
                SELECT DISTINCT md5(text) AS content_md5
                FROM documents WHERE doc_id < 200
            ),
            nw AS (
                SELECT doc_id, lang, md5(text) AS content_md5
                FROM documents
            )
            SELECT nw.doc_id, nw.lang, nw.content_md5
            FROM nw ANTI JOIN seen USING (content_md5)
        """,
        "doc_decontaminate": """
            WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') toks
                          FROM documents),
            dsh AS (
                SELECT DISTINCT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                       || toks[i+3] || ' ' || toks[i+4] AS shingle
                FROM base, generate_series(1, 100000) g(i)
                WHERE i <= len(toks) - 4
            ),
            ev_base AS (
                SELECT string_split_regex(
                           array_to_string(toks[1:20], ' '), '\\s+') toks
                FROM base WHERE doc_id % 50 = 7
            ),
            ev AS (
                SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
                FROM ev_base, generate_series(1, 100000) g(i)
                WHERE i <= len(toks) - 4
            ),
            agg AS (
                SELECT b.doc_id,
                       count(d.shingle) AS n_grams,
                       count(e.shingle) AS n_hit
                FROM base b
                LEFT JOIN dsh d USING (doc_id)
                LEFT JOIN ev e ON d.shingle = e.shingle
                GROUP BY b.doc_id
            )
            SELECT doc_id, n_grams, n_hit,
                   CASE WHEN n_grams > 0 THEN n_hit * 1000000 // n_grams
                        ELSE 0 END AS contam_ppm,
                   CAST((CASE WHEN n_grams > 0 THEN n_hit * 1000000 // n_grams
                              ELSE 0 END) <= 0 AS INT) AS keep
            FROM agg
        """,
        "doc_dup_spans": """
            WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') toks
                          FROM documents),
            g AS (
                SELECT doc_id,
                       ('0x' || substr(md5(
                           toks[i] || chr(31) || toks[i+1] || chr(31)
                           || toks[i+2] || chr(31) || toks[i+3] || chr(31)
                           || toks[i+4] || chr(31) || toks[i+5] || chr(31)
                           || toks[i+6] || chr(31) || toks[i+7] || chr(31)
                           || toks[i+8] || chr(31) || toks[i+9]),
                           1, 15))::BIGINT AS gh
                FROM base, generate_series(1, 100000) s(i)
                WHERE i <= len(toks) - 9
            ),
            multi AS (
                SELECT gh, CAST(min(doc_id) <> max(doc_id) AS INT) AS m
                FROM g GROUP BY gh
            ),
            agg AS (
                SELECT doc_id, count(*) AS n_positions,
                       CAST(sum(m) AS BIGINT) AS n_dup_positions
                FROM g JOIN multi USING (gh) GROUP BY doc_id
            )
            SELECT b.doc_id,
                   coalesce(n_positions, 0) AS n_positions,
                   coalesce(n_dup_positions, 0) AS n_dup_positions,
                   coalesce(n_dup_positions * 1000000 // n_positions, 0)
                       AS dup_ppm
            FROM (SELECT doc_id FROM base) b LEFT JOIN agg USING (doc_id)
        """,
        "doc_span_scrub": """
            WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') toks
                          FROM documents),
            g AS (
                SELECT doc_id, i,
                       ('0x' || substr(md5(
                           toks[i] || chr(31) || toks[i+1] || chr(31)
                           || toks[i+2] || chr(31) || toks[i+3] || chr(31)
                           || toks[i+4] || chr(31) || toks[i+5] || chr(31)
                           || toks[i+6] || chr(31) || toks[i+7] || chr(31)
                           || toks[i+8] || chr(31) || toks[i+9]),
                           1, 15))::BIGINT AS gh
                FROM base, generate_series(1, 100000) s(i)
                WHERE i <= len(toks) - 9
            ),
            k AS (
                SELECT gh, min(doc_id) AS keeper,
                       min(doc_id) <> max(doc_id) AS multi
                FROM g GROUP BY gh
            ),
            cov AS (
                SELECT DISTINCT g.doc_id, g.i + off AS tpos
                FROM g JOIN k USING (gh), generate_series(0, 9) o(off)
                WHERE k.multi AND g.doc_id <> k.keeper
            ),
            tok AS (
                SELECT doc_id, i AS tpos, toks[i] AS tok
                FROM base, generate_series(1, 100000) s(i)
                WHERE i <= len(toks)
            ),
            keep AS (
                SELECT t.doc_id, t.tpos, t.tok
                FROM tok t LEFT JOIN cov c
                  ON t.doc_id = c.doc_id AND t.tpos = c.tpos
                WHERE c.tpos IS NULL
            ),
            agg AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(tok, ' ' ORDER BY tpos) AS text
                FROM keep GROUP BY doc_id
            )
            SELECT b.doc_id, coalesce(a.text, '') AS text,
                   CAST(len(b.toks) AS BIGINT) AS n_tokens,
                   CAST(len(b.toks) - coalesce(a.n_kept, 0) AS BIGINT)
                       AS n_removed
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "doc_cap_per_lang": """
            SELECT doc_id, grp, n_chars_kept, CAST(rank AS INTEGER) AS rank
            FROM (
                SELECT doc_id, lang AS grp, length(text) AS n_chars_kept,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY length(text) DESC, doc_id ASC) AS rank
                FROM documents
            ) WHERE rank <= 50
        """,
        "doc_token_stats": f"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                   len(regexp_extract_all(text, '{BPE_ISH_RE}')) AS n_tokens_re,
                   length(text) AS n_chars
            FROM documents
        """,
        "doc_pack": f"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                           AS n_tok
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tok,
                       CAST(sum(n_tok) OVER (ORDER BY doc_id)
                            AS BIGINT) AS cum
                FROM t WHERE n_tok > 0
            ),
            b AS (SELECT doc_id, cum - n_tok AS s, cum AS e FROM c),
            x AS (
                SELECT doc_id, s, e,
                       unnest(generate_series(s // {PACK_L},
                                              (e - 1) // {PACK_L}))
                           AS seq_id
                FROM b
            )
            SELECT doc_id, seq_id,
                   greatest(s, seq_id * {PACK_L}) - s AS doc_off,
                   greatest(s, seq_id * {PACK_L}) - seq_id * {PACK_L}
                       AS seq_off,
                   least(e, (seq_id + 1) * {PACK_L})
                       - greatest(s, seq_id * {PACK_L}) AS len
            FROM x
        """,
        "doc_chunk": f"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   t -> t <> '') AS t
                FROM documents
            ),
            sized AS (
                SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) > 0
            ),
            starts AS (
                SELECT doc_id, t, n,
                       unnest(generate_series(
                           0,
                           CAST(ceil(greatest(n - {CHUNK_SIZE}, 0)
                                     / ({CHUNK_STRIDE} * 1.0)) AS INT)
                               * {CHUNK_STRIDE},
                           {CHUNK_STRIDE})) AS start_pos
                FROM sized
            )
            SELECT doc_id,
                   CAST(start_pos // {CHUNK_STRIDE} AS INT) AS chunk_id,
                   CAST(start_pos AS INT) AS start_pos,
                   CAST(len(t[start_pos + 1 : start_pos + {CHUNK_SIZE}])
                        AS INT) AS n_tokens,
                   array_to_string(
                       t[start_pos + 1 : start_pos + {CHUNK_SIZE}], ' '
                   ) AS chunk_text
            FROM starts
        """,
        "doc_tfidf": f"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(text, '\\s+'),
                                          t -> t <> '')) AS token
                FROM documents
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
            ),
            dfrel AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.token, tf.tf, dfrel.df,
                       round(tf.tf * ln(n.n_docs * 1.0 / dfrel.df), 6)
                           AS score_r
                FROM tf JOIN dfrel USING (token) CROSS JOIN n
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score_r DESC, token
                ) AS rnk FROM scored
            )
            SELECT doc_id, CAST(rnk AS INT) AS rnk, token, tf, df, score_r
            FROM ranked WHERE rnk <= {TFIDF_K}
        """,
        "doc_bm25": _bm25_oracle(),
        "doc_lm_ppl": _lm_ppl_oracle(),
        "doc_lm_kn": _lm_kn_oracle(),
        "doc_repetition": """
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   t -> t <> '') AS t
                FROM documents
            ),
            sized AS (
                SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) > 0
            ),
            tok AS (SELECT doc_id, unnest(t) AS token FROM sized),
            tokc AS (
                SELECT doc_id, max(c) AS top_tok,
                       count(*) AS ndist
                FROM (SELECT doc_id, token, count(*) AS c
                      FROM tok GROUP BY 1, 2)
                GROUP BY 1
            ),
            bgi AS (
                SELECT doc_id, t,
                       unnest(generate_series(1, n - 1)) AS i
                FROM sized WHERE n >= 2
            ),
            bgc AS (
                SELECT doc_id, max(c) AS top_bg
                FROM (SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram,
                             count(*) AS c
                      FROM bgi GROUP BY doc_id, bigram)
                GROUP BY 1
            )
            SELECT s.doc_id,
                   CAST(n AS INT) AS n_tokens,
                   round(tokc.ndist * 1.0 / n, 6) AS distinct_frac,
                   round(tokc.top_tok * 1.0 / n, 6) AS top_token_frac,
                   round(coalesce(bgc.top_bg, 0) * 1.0
                         / greatest(n - 1, 1), 6) AS top_bigram_frac
            FROM sized s
            JOIN tokc USING (doc_id)
            LEFT JOIN bgc USING (doc_id)
        """,
        "doc_line_dedup": """
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   t -> t <> '') AS t
                FROM documents
            ),
            sized AS (
                SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) > 0
            ),
            idx AS (
                SELECT doc_id, t,
                       unnest(generate_series(
                           0, CAST(ceil(n / 8.0) AS INT) - 1)) AS i
                FROM sized
            ),
            lines AS (
                SELECT doc_id, i AS line_idx,
                       array_to_string(t[i * 8 + 1 : i * 8 + 8], ' ')
                           AS line
                FROM idx
            ),
            winners AS (
                SELECT doc_id FROM (
                    SELECT doc_id, row_number() OVER (
                        PARTITION BY line ORDER BY doc_id, line_idx
                    ) AS rn FROM lines
                ) WHERE rn = 1
            ),
            kept AS (
                SELECT doc_id, count(*) AS c FROM winners GROUP BY 1
            )
            SELECT s.doc_id,
                   CAST(ceil(n / 8.0) AS INT) AS n_lines,
                   CAST(coalesce(kept.c, 0) AS INT) AS n_kept,
                   round(coalesce(kept.c, 0) * 1.0
                         / ceil(n / 8.0), 6) AS kept_frac
            FROM sized s LEFT JOIN kept USING (doc_id)
        """,
        "emb_quantize": """
            WITH m AS (
                SELECT vec_id, embedding,
                       list_max(list_transform(
                           embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
                FROM embeddings
            ),
            q AS (
                SELECT vec_id, mx,
                       list_transform(embedding, x ->
                           coalesce(CAST(round(CAST(x AS DOUBLE) * 127.0
                                    / nullif(mx, 0.0)) AS INT), 0)) AS qv
                FROM m
            )
            SELECT vec_id,
                   round(mx / 127.0, 6) AS scale_r,
                   CAST(len(qv) AS INT) AS n_dims,
                   list_min(qv) AS q_min,
                   list_max(qv) AS q_max,
                   CAST(list_sum(list_transform(qv, x -> abs(x)))
                        AS BIGINT) AS q_l1
            FROM q
        """,
        "doc_quality": f"""
            WITH f AS (
                SELECT doc_id,
                       len(string_split_regex(trim(text), '\\s+')) AS n_tok,
                       len(regexp_extract_all(text, '{stop_pat}')) AS n_stop,
                       len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                       length(text) AS n_chars
                FROM documents
            )
            SELECT doc_id,
                   round(n_stop * 1.0 / n_tok, 6) AS stop_ratio,
                   round(n_chars * 1.0 / n_tok, 6) AS mean_tok_len,
                   round(n_alpha * 1.0 / n_chars, 6) AS alpha_ratio,
                   round(least(1.0, n_stop * 1.0 / n_tok * 4.0) * 0.3
                       + least(1.0, n_chars * 1.0 / n_tok / 8.0) * 0.3
                       + n_alpha * 1.0 / n_chars * 0.4, 6) AS quality
            FROM f
        """,
        "doc_lang_id": f"""
            WITH c AS (SELECT doc_id, {lang_counts} FROM documents)
            SELECT doc_id, {lang_case} AS lang_pred FROM c
        """,
        "doc_jaccard_pairs": f"""
            WITH {shingle_cte},
            inter AS (
                SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                       count(*) AS n_inter
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_id_a, doc_id_b,
                   round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6)
                       AS jaccard
            FROM inter
            JOIN sizes sa ON doc_id_a = sa.doc_id
            JOIN sizes sb ON doc_id_b = sb.doc_id
            WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= {JACCARD_T}
        """,
        "emb_cosine_topk": f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS qv FROM e
                  WHERE vec_id IN ({emb_ids})),
            sim AS (
                SELECT q.query_id, e.vec_id,
                       {_duck_dot('q.qv', 'e.embedding')}
                       / ({_duck_norm('q.qv')} * {_duck_norm('e.embedding')}) AS cs
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            ),
            ranked AS (
                SELECT query_id, vec_id, cs,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cs DESC, vec_id
                       ) AS rn
                FROM sim
            )
            SELECT query_id, vec_id, round(cs, 6) AS cos_sim
            FROM ranked WHERE rn <= 10
        """,
        "emb_ann_lsh": f"""
            WITH b AS (SELECT vec_id, embedding, {ann_bucket} AS bucket
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qb
                  FROM b WHERE vec_id IN ({emb_ids})),
            cand AS (
                SELECT q.query_id, q.qv, b.vec_id, b.embedding AS vv
                FROM b CROSS JOIN q
                WHERE b.vec_id <> q.query_id
                  AND (b.bucket = q.qb OR bit_count(xor(b.bucket, q.qb)) = 1)
            ),
            sim AS (
                SELECT query_id, vec_id,
                       {_duck_dot('qv', 'vv')}
                       / ({_duck_norm('qv')} * {_duck_norm('vv')}) AS cs
                FROM cand
            ),
            ranked AS (
                SELECT query_id, vec_id, cs,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cs DESC, vec_id
                       ) AS rn
                FROM sim
            )
            SELECT query_id, vec_id, round(cs, 6) AS cos_sim
            FROM ranked WHERE rn <= 10
        """,
        "emb_ivf": f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM e
                  WHERE vec_id < 16),
            assigned AS (
                SELECT vec_id, v_vec, c_id AS centroid_id FROM (
                    SELECT e.vec_id, e.embedding AS v_vec, c.c_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_duck_dot('e.embedding', 'c.c_vec')}
                                        / ({_duck_norm('e.embedding')}
                                           * {_duck_norm('c.c_vec')}) DESC,
                                        c.c_id
                           ) AS rn
                    FROM e CROSS JOIN c
                ) WHERE rn = 1
            ),
            q AS (SELECT vec_id AS query_id, embedding AS qv FROM e
                  WHERE vec_id IN ({emb_ids})),
            probes AS (
                SELECT query_id, qv, c_id AS probe FROM (
                    SELECT q.query_id, q.qv, c.c_id,
                           row_number() OVER (
                               PARTITION BY q.query_id
                               ORDER BY {_duck_dot('q.qv', 'c.c_vec')}
                                        / ({_duck_norm('q.qv')}
                                           * {_duck_norm('c.c_vec')}) DESC,
                                        c.c_id
                           ) AS rn
                    FROM q CROSS JOIN c
                ) WHERE rn <= 4
            ),
            cand AS (
                SELECT p.query_id, p.qv, a.vec_id, a.v_vec
                FROM assigned a JOIN probes p ON a.centroid_id = p.probe
                WHERE a.vec_id <> p.query_id
            ),
            sim AS (
                SELECT query_id, vec_id,
                       {_duck_dot('qv', 'v_vec')}
                       / ({_duck_norm('qv')} * {_duck_norm('v_vec')}) AS cs
                FROM cand
            ),
            ranked AS (
                SELECT query_id, vec_id, cs,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cs DESC, vec_id
                       ) AS rn
                FROM sim
            )
            SELECT query_id, vec_id, round(cs, 6) AS cos_sim
            FROM ranked WHERE rn <= 10
        """,
        "emb_neardup": f"""
            WITH b AS (SELECT vec_id, embedding, {nd_buckets} FROM embeddings),
            cand AS (
                SELECT a.vec_id AS vec_id_a, c.vec_id AS vec_id_b,
                       a.embedding AS va, c.embedding AS vb
                FROM b a JOIN b c
                  ON a.vec_id < c.vec_id
                 AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3)
            ),
            sim AS (
                SELECT vec_id_a, vec_id_b,
                       {_duck_dot('va', 'vb')}
                       / ({_duck_norm('va')} * {_duck_norm('vb')}) AS cs
                FROM cand
            )
            SELECT vec_id_a, vec_id_b, round(cs, 6) AS cos_sim
            FROM sim WHERE cs >= 0.35
        """,
        "doc_fingerprint": f"""
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(401862909 AS BIGINT),
                           list_transform(string_split_regex(text, '\\s+'),
                               t -> {tok_hash} % {HASH_P})),
                       (acc, h) -> (acc * 31 + h) % {HASH_P}) AS fingerprint
            FROM documents
        """,
        "doc_minhash_lsh": f"""
            WITH {minhash_pairs_ctes}
            SELECT doc_id_a, doc_id_b, round(jac, 6) AS jaccard FROM pairs
        """,
        "doc_dedup_neardup": f"""
            WITH RECURSIVE {minhash_pairs_ctes},
            und AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
                    UNION ALL
                    SELECT doc_id_b, doc_id_a FROM pairs),
            -- transitive closure by fixpoint label flooding: min
            -- reachable id == component id (an INDEPENDENT closure
            -- algorithm vs Spark's large-star/small-star contraction)
            reach(node, lbl) AS (
                SELECT a, a FROM und
                UNION
                SELECT u.a, r.lbl FROM und u JOIN reach r ON r.node = u.b
            ),
            comp AS (SELECT node, min(lbl) AS canonical FROM reach
                     GROUP BY node)
            SELECT d.doc_id,
                   coalesce(c.canonical, d.doc_id) AS canonical_id,
                   CAST(CASE WHEN c.canonical IS NOT NULL
                             AND c.canonical <> d.doc_id
                        THEN 1 ELSE 0 END AS INT) AS is_dup
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        """,
        "doc_pii_scrub": f"""
            WITH d2 AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-0199' AS text
                FROM documents
            ), s AS (
                SELECT doc_id, text,
                       regexp_replace(
                           regexp_replace(text, '{_PII_EMAIL_RE}',
                                          '<EMAIL>', 'g'),
                           '{_PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
                FROM d2
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_PII_EMAIL_RE}'))::INT
                       AS n_emails,
                   len(regexp_extract_all(text, '{_PII_PHONE_RE}'))::INT
                       AS n_phones,
                   length(scrubbed)::INT AS n_chars_scrubbed,
                   md5(scrubbed) AS scrub_hash
            FROM s
        """,
        "doc_train_pipeline": f"""
            WITH keep1 AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           min(doc_id) OVER (PARTITION BY md5(text))
                               AS canonical_id
                    FROM documents
                ) WHERE doc_id = canonical_id
            ),
            base AS (SELECT doc_id, string_split_regex(text, '\\s+') toks
                     FROM keep1),
            dsh AS (
                SELECT DISTINCT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                       || toks[i+3] || ' ' || toks[i+4] AS shingle
                FROM base, generate_series(1, 100000) g(i)
                WHERE i <= len(toks) - 4
            ),
            ev_base AS (
                SELECT (string_split_regex(text, '\\s+'))[1:20] AS toks
                FROM documents WHERE doc_id % 50 = 7
            ),
            ev AS (
                SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
                FROM ev_base, generate_series(1, 100000) g(i)
                WHERE i <= len(toks) - 4
            ),
            agg AS (
                SELECT b.doc_id,
                       count(d.shingle) AS n_grams,
                       count(e.shingle) AS n_hit
                FROM base b
                LEFT JOIN dsh d USING (doc_id)
                LEFT JOIN ev e ON d.shingle = e.shingle
                GROUP BY b.doc_id
            ),
            keep2 AS (
                SELECT k.doc_id, k.text
                FROM keep1 k JOIN agg a USING (doc_id)
                WHERE (CASE WHEN a.n_grams > 0
                            THEN a.n_hit * 1000000 // a.n_grams
                            ELSE 0 END) <= 0
            ),
            inj AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-0199' AS text
                FROM keep2
            ),
            s AS (
                SELECT doc_id, text,
                       regexp_replace(
                           regexp_replace(text, '{_PII_EMAIL_RE}',
                                          '<EMAIL>', 'g'),
                           '{_PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
                FROM inj
            ),
            sp AS (
                SELECT doc_id,
                       len(regexp_extract_all(text, '{_PII_EMAIL_RE}'))
                           AS n_emails,
                       len(regexp_extract_all(text, '{_PII_PHONE_RE}'))
                           AS n_phones,
                       length(scrubbed) AS n_chars_scrubbed,
                       md5(scrubbed) AS scrub_hash,
                       {_duck_md5_60("CAST(doc_id AS VARCHAR)")} % 100
                           AS bucket
                FROM s
            )
            SELECT CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars_scrubbed) AS BIGINT) AS sum_chars,
                   CAST(sum(n_emails) AS BIGINT) AS n_emails,
                   CAST(sum(n_phones) AS BIGINT) AS n_phones,
                   CAST(sum({_duck_md5_60('scrub_hash')} % 2147483647)
                        AS BIGINT) AS content_check
            FROM sp
            GROUP BY 1
        """,
        "doc_sample_stratified": """
            SELECT doc_id, stratum, CAST(sample_rank AS INTEGER)
                       AS sample_rank
            FROM (
                SELECT doc_id, lang AS stratum,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                    doc_id ASC) AS sample_rank
                FROM documents
            ) WHERE sample_rank <= 60
        """,
        "doc_weighted_sample": TX.weighted_sample_sql(
            "documents", 60, cols="doc_id, lang, n_chars"
        ),
        "doc_importance_resample": TX.importance_resample_sql(
            "documents", DSIR_K
        ),
        "doc_importance_sample": TX.importance_resample_sql(
            "documents", DSIR_K, sample=True
        ),
        "doc_len_quantiles": """
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90,
                   round(quantile_cont(n_chars, 0.99), 4) AS p99
            FROM documents GROUP BY lang
        """,
        "doc_mix_epochs": f"""
            WITH base AS (
                SELECT doc_id, source,
                       0.5 + CAST({_duck_md5_60("source")} % 300 AS DOUBLE)
                                 / 100.0 AS weight,
                       CAST({_duck_md5_60(
                           "CAST(doc_id AS VARCHAR) || ':mix'")} % 1000000
                            AS DOUBLE) / 1000000.0 AS frac
                FROM documents
            ), cnt AS (
                SELECT doc_id, source, round(weight, 6) AS weight,
                       CAST(floor(weight)
                            + CASE WHEN frac < weight - floor(weight)
                                   THEN 1 ELSE 0 END AS INTEGER) AS n_copies
                FROM base
            )
            SELECT doc_id, source, weight, n_copies,
                   CAST(unnest(generate_series(1, n_copies)) AS INTEGER)
                       AS epoch
            FROM cnt
            WHERE n_copies >= 1
        """,
        "doc_split": f"""
            WITH b AS (
                SELECT doc_id,
                       {_duck_md5_60("CAST(doc_id AS VARCHAR)")} % 100
                           AS bucket
                FROM documents
            )
            SELECT doc_id, bucket,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "doc_simhash_pairs": f"""
            WITH tok AS (
                SELECT doc_id, t AS token, count(*) AS w
                FROM (SELECT doc_id,
                             unnest(string_split_regex(text, '\\s+')) AS t
                      FROM documents)
                WHERE t <> '' GROUP BY doc_id, t
            ),
            th AS (SELECT doc_id, w, {_duck_md5_60('token')} AS h FROM tok),
            sums AS (SELECT doc_id, {sim_sums} FROM th GROUP BY doc_id),
            sig AS (SELECT doc_id, ({sim_sig}) AS simhash FROM sums)
            -- EXACT all-pairs hamming join (the semantic spec, not the
            -- banding plan): green certifies full recall at radius 8.
            SELECT a.doc_id AS doc_id_a, b2.doc_id AS doc_id_b,
                   CAST(bit_count(xor(a.simhash, b2.simhash)) AS INTEGER)
                       AS hamming
            FROM sig a JOIN sig b2 ON a.doc_id < b2.doc_id
            WHERE bit_count(xor(a.simhash, b2.simhash)) <= 8
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   round(CAST(CAST(
                       CAST(length(text)
                            - length(regexp_replace(text, '[\\x00-\\x0f]', '', 'g'))
                            AS DOUBLE) / length(text) AS REAL) AS DOUBLE), 6) AS f0,
                   round(CAST(CAST(
                       CAST(length(text)
                            - length(regexp_replace(text, '[\\x60-\\x6f]', '', 'g'))
                            AS DOUBLE) / length(text) AS REAL) AS DOUBLE), 6) AS f6
            FROM documents
        """,
        # Independent relational replay of the frame slicer: the ASCII
        # filter on both sides makes char-substring == byte-substring by
        # construction, so DuckDB's VARCHAR substring + md5 (which hashes
        # the utf-8 bytes) re-derives every frame Spark's mapInArrow cut.
        "multimodal_frames": """
            WITH src AS (
                SELECT doc_id AS media_id, text, length(text) AS n
                FROM documents
                WHERE octet_length(encode(text)) = length(text)
            ), frames AS (
                SELECT media_id, text,
                       unnest(generate_series(CAST(0 AS BIGINT),
                           CAST(least(3, (n + 63) // 64 - 1) AS BIGINT)))
                           AS i
                FROM src
            )
            SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
                   CAST(octet_length(encode(substring(text, i * 64 + 1, 64)))
                        AS INTEGER) AS frame_len,
                   md5(substring(text, i * 64 + 1, 64)) AS frame_md5
            FROM frames
        """,
        "multimodal_resize": _values_sql(
            rz_rows,
            [("media_id", "BIGINT"), ("n_bytes_in", "INTEGER"),
             ("width", "INTEGER"), ("height", "INTEGER"),
             ("b0", "INTEGER"), ("b5", "INTEGER"), ("b15", "INTEGER"),
             ("block_sum", "INTEGER"), ("n_bytes_out", "INTEGER")],
        ),
        "simplify_mask": _values_sql(
            sm_rows,
            [("user_id", "BIGINT"), ("n_points", "INTEGER"),
             ("n_z0", "INTEGER"), ("n_z10", "INTEGER"),
             ("mask_bytes", "INTEGER")],
        ),
        "polyline_utils": _values_sql(
            plu_rows,
            [("user_id", "BIGINT"), ("n_points", "INTEGER"),
             ("from_idx", "INTEGER"), ("to_idx", "INTEGER"),
             ("n_extract", "INTEGER"), ("rev_ok", "INTEGER"),
             ("flat_len", "INTEGER"), ("rt_ok", "INTEGER"),
             ("p0_lat_e7", "BIGINT"), ("p0_lng_e7", "BIGINT"),
             ("n_simplified", "INTEGER")],
        ),
        "polyline_codec": _values_sql(
            pc_rows,
            [("user_id", "BIGINT"), ("enc_len", "INTEGER"),
             ("n_roundtrip", "INTEGER"), ("n_points", "INTEGER"),
             ("nz_len", "INTEGER"), ("n_kept", "INTEGER")],
        ),
        "polyline_dist": _values_sql(
            pd_rows,
            [("query_id", "BIGINT"), ("user_id", "BIGINT"),
             ("seg_idx", "INTEGER"), ("dist_floor_m", "BIGINT"),
             ("c_lat", "DOUBLE"), ("c_lng", "DOUBLE")],
        ),
        "map_match": _values_sql(
            mm_rows,
            [("point_id", "BIGINT"), ("line_id", "BIGINT"),
             ("seg_idx", "INTEGER"), ("dist_floor_m", "BIGINT"),
             ("c_lat", "DOUBLE"), ("c_lng", "DOUBLE")],
        ),
        # independent-ALGORITHM oracle: brute-force all-lines corridor
        # (goldens.corridor_pairs)
        "corridor_join": _values_sql(
            corr_rows,
            [("point_id", "BIGINT"), ("line_id", "BIGINT"),
             ("seg_idx", "INTEGER"), ("dist_floor_m", "BIGINT"),
             ("c_lat", "DOUBLE"), ("c_lng", "DOUBLE")],
        ),
        # independent-ALGORITHM oracle: plain-Python trellis + Viterbi
        # (goldens.viterbi_match_py) — integer costs make it bit-exact
        "hmm_map_match": _values_sql(
            [(int(u), int(s), int(p), int(l), int(si))
             for u, s, p, l, si in hmm_rows],
            [("user_id", "BIGINT"), ("seq", "BIGINT"),
             ("point_id", "BIGINT"), ("line_id", "BIGINT"),
             ("seg_idx", "INTEGER")],
        ),
        "tile_payload": _values_sql(
            tp_rows,
            [("tile_x", "BIGINT"), ("tile_y", "BIGINT"),
             ("n_users", "BIGINT"), ("n_segs", "BIGINT"),
             ("payload_md5", "VARCHAR")],
        ),
        "tile_relevel": f"""
            SELECT CAST(x.t AS BIGINT) AS tile_x, CAST(y.t AS BIGINT) AS tile_y,
                   10 AS zoom
            FROM (SELECT unnest(generate_series(({tz9['tx1']}) * 2,
                                                (({tz9['tx2']}) + 1) * 2 - 1)) AS t) x
            CROSS JOIN
                 (SELECT unnest(generate_series(({tz9['ty1']}) * 2,
                                                (({tz9['ty2']}) + 1) * 2 - 1)) AS t) y
            UNION ALL
            SELECT CAST(x.t AS BIGINT), CAST(y.t AS BIGINT), 6
            FROM (SELECT unnest(generate_series(({tz9['tx1']}) // 8,
                                                ({tz9['tx2']}) // 8)) AS t) x
            CROSS JOIN
                 (SELECT unnest(generate_series(({tz9['ty1']}) // 8,
                                                ({tz9['ty2']}) // 8)) AS t) y
        """,
        "cluster": _values_sql(
            cl_rows, [("n_members", "BIGINT"), ("n_clusters", "BIGINT")]
        ),
        # independent-ALGORITHM oracle: classic dict-based BPE
        # (goldens.bpe_merges) over the same (word, freq) relation vs
        # the engine's relational aggregate() fold
        # independent-ALGORITHM oracle: plain-Python integer PQ
        "emb_pq": _values_sql(
            pq_rows,
            [("query_id", "BIGINT"), ("rn", "BIGINT"), ("vec_id", "BIGINT"),
             ("d2_q", "BIGINT")],
        ),
        # independent-ALGORITHM oracle: plain-Python Lloyd k-means
        # (goldens.kmeans_py) over the same quantized vectors
        "emb_kmeans": _values_sql(
            km_rows,
            [("centroid_id", "INTEGER"), ("n", "BIGINT"),
             ("inertia", "BIGINT"), ("c_sum", "BIGINT"),
             ("c_min", "BIGINT"), ("c_max", "BIGINT")],
        ),
        # independent-ALGORITHM oracle: plain-Python Lloyd + brute
        # within-cluster integer cosine + union-find
        # (goldens.semdedup_py) vs the engine's per-cluster numpy
        # kernel (Gram tiles + label propagation)
        "emb_semdedup": _values_sql(
            sdd_rows,
            [("vec_id", "BIGINT"), ("centroid_id", "INTEGER"),
             ("canonical_id", "BIGINT"), ("is_dup", "INTEGER")],
        ),
        # independent-ALGORITHM oracle: plain-Python Lloyd + IVF probe
        # + exact-L2 re-rank (goldens.ivf_trained_py)
        "emb_ivf_trained": _values_sql(
            ivft_rows,
            [("query_id", "BIGINT"), ("rn", "BIGINT"),
             ("vec_id", "BIGINT"), ("d2_q", "BIGINT")],
        ),
        # independent-ALGORITHM oracle: plain-Python IVF-PQ (Lloyd
        # coarse quantizer, residual codebook, ADC) — goldens.ivfpq_py
        "emb_ivfpq": _values_sql(
            ivfpq_rows,
            [("query_id", "BIGINT"), ("rn", "BIGINT"),
             ("vec_id", "BIGINT"), ("d2_adc", "BIGINT")],
        ),
        # independent-ALGORITHM oracle: plain-Python ADC shortlist +
        # exact rerank (goldens.pq_rerank_py)
        "emb_pq_rerank": _values_sql(
            pqr_rows,
            [("query_id", "BIGINT"), ("rn", "BIGINT"),
             ("vec_id", "BIGINT"), ("d2_exact", "BIGINT")],
        ),
        "doc_bpe": _values_sql(
            bpe_rows,
            [("rank", "BIGINT"), ("lhs", "VARCHAR"), ("rhs", "VARCHAR"),
             ("pair_count", "BIGINT")],
        ),
        # independent-ALGORITHM oracle: dict-BPE learn + apply
        # (goldens.bpe_merges -> goldens.bpe_encode_py)
        "doc_bpe_encode": _values_sql(
            bpe_enc_rows,
            [("token", "VARCHAR"), ("n_words", "BIGINT"),
             ("count", "BIGINT")],
        ),
        "streaming_tiles": _values_sql(
            st_rows,
            [("tile_x", "BIGINT"), ("tile_y", "BIGINT"), ("n_points", "BIGINT")],
        ),
        "streaming_dedup": _values_sql(
            sd_rows,
            [("lang", "VARCHAR"), ("n_pages", "BIGINT"), ("n_hosts", "BIGINT")],
        ),
        # independent batch derivation of the streaming geofence
        # transitions: per-fence containment lag-diff over the
        # finalized prefix (ts strictly below the ms-floored global
        # max — Spark tracks watermarks in milliseconds, so the final
        # millisecond can never finalize under a 0s delay)
        "geofence_stream": f"""
            WITH pts AS ({pts}),
            ev AS (
                SELECT user_id, epoch_us(ts) AS ts_us, lat, lng FROM pts
            ),
            fin AS (
                SELECT * FROM ev
                WHERE ts_us < (SELECT (max(ts_us) // 1000) * 1000 FROM ev)
            )
            """ + "\nUNION ALL\n".join(
            f"""
            SELECT user_id, ts_us, CAST({aid} AS BIGINT) AS fence_id,
                   CASE WHEN m = 1 THEN 'enter' ELSE 'exit' END AS transition
            FROM (
                SELECT user_id, ts_us,
                       CASE WHEN {sql} THEN 1 ELSE 0 END AS m,
                       lag(CASE WHEN {sql} THEN 1 ELSE 0 END, 1, 0) OVER (
                           PARTITION BY user_id ORDER BY ts_us, lat, lng
                       ) AS pm
                FROM fin
            ) WHERE m <> pm
            """
            for aid, sql in G.demo_layer_pip_sql("lat", "lng")
        ),
        "pages_host_stats": _values_sql(
            ph_rows,
            [("host", "VARCHAR"), ("n_pages", "BIGINT"), ("n_langs", "BIGINT")],
        ),
        "pages_crawl_dedup": _values_sql(
            cd_rows,
            [("url", "VARCHAR"), ("n_crawls", "INTEGER"),
             ("kept_ts", "BIGINT"), ("kept_len", "INTEGER")],
        ),
        "pages_url_normalize": _values_sql(
            un_rows,
            [("url_norm", "VARCHAR"), ("n_raw", "INTEGER"),
             ("n_distinct_raw", "INTEGER")],
        ),
        "event_sessions": sessionize_sql(),
        # independent derivation of the FINALIZED sliding-window set:
        # explode each event to its two slide-aligned window starts,
        # keep windows whose end the ms-floored global-max watermark
        # passed (Spark append-mode arithmetic, geofence precedent)
        "trending_tiles": f"""
            WITH pts AS ({pts}),
            mx AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS wm_us
                   FROM pts),
            ev AS (
                SELECT {G.tile_x_sql('lng', TREND_Z)} AS tile_x,
                       {G.tile_y_sql('lat', TREND_Z)} AS tile_y,
                       epoch_us(ts) AS us
                FROM pts
            ),
            wins AS (
                SELECT tile_x, tile_y,
                       (us // {TREND_SLIDE_US}) * {TREND_SLIDE_US}
                           - k.k * {TREND_SLIDE_US} AS ws
                FROM ev CROSS JOIN (VALUES (0), (1)) AS k(k)
            )
            SELECT ws AS win_start_us, tile_x, tile_y,
                   count(*) AS n_points
            FROM wins, mx
            WHERE ws + {TREND_WIN_US} <= mx.wm_us
            GROUP BY 1, 2, 3
        """,
        # independent-JOIN-ALGORITHM oracle: brute-force O(n^2) range
        # self-join over the same sessionize relation
        "session_overlap": f"""
            WITH s AS ({sessionize_sql(gap_us=SESSION_OVERLAP_GAP_US)})
            SELECT a.user_id AS user_lo, b.user_id AS user_hi,
                   count(*) AS n_session_pairs,
                   CAST(sum(least(a.end_us, b.end_us)
                            - greatest(a.start_us, b.start_us))
                        AS BIGINT) AS overlap_us_sum
            FROM s a JOIN s b
              ON a.user_id < b.user_id
             AND greatest(a.start_us, b.start_us)
                 <= least(a.end_us, b.end_us)
            GROUP BY 1, 2
        """,
        "traj_tile_cover": f"""
            WITH pts AS ({pts}),
            seg AS (
                SELECT user_id,
                       lag(lat) OVER w AS lat0, lag(lng) OVER w AS lng0,
                       lat AS lat1, lng AS lng1
                FROM pts
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            px AS (
                SELECT user_id,
                       {G.ctile_x_sql('lng0', TRAJ_COVER_Z)} AS px0,
                       {G.ctile_y_sql('lat0', TRAJ_COVER_Z)} AS py0,
                       {G.ctile_x_sql('lng1', TRAJ_COVER_Z)} AS px1,
                       {G.ctile_y_sql('lat1', TRAJ_COVER_Z)} AS py1
                FROM seg WHERE lat0 IS NOT NULL
            ),
            norm AS (
                SELECT user_id,
                       CASE WHEN py0 <= py1 THEN px0 ELSE px1 END AS px0s,
                       CASE WHEN py0 <= py1 THEN py0 ELSE py1 END AS py0s,
                       CASE WHEN py0 <= py1 THEN px1 ELSE px0 END AS px1s,
                       CASE WHEN py0 <= py1 THEN py1 ELSE py0 END AS py1s
                FROM px
            ),
            rows_ AS (
                SELECT user_id, px0s, py0s, px1s, py1s,
                       unnest(generate_series(CAST(floor(py0s) AS BIGINT),
                                              CAST(floor(py1s) AS BIGINT)))
                           AS ty
                FROM norm
            ),
            clamp AS (
                SELECT user_id, px0s, py0s, px1s, py1s, ty,
                       greatest(py0s, CAST(ty AS DOUBLE)) AS ylo,
                       least(py1s, CAST(ty + 1 AS DOUBLE)) AS yhi
                FROM rows_
            ),
            tt AS (
                SELECT user_id, px0s, px1s, ty,
                       CASE WHEN py1s = py0s THEN 0.0
                            ELSE (ylo - py0s) / (py1s - py0s) END AS t0,
                       CASE WHEN py1s = py0s THEN 1.0
                            ELSE (yhi - py0s) / (py1s - py0s) END AS t1
                FROM clamp
            ),
            xx AS (
                SELECT user_id, ty,
                       px0s + (px1s - px0s) * t0 AS x0,
                       px0s + (px1s - px0s) * t1 AS x1
                FROM tt
            ),
            tiles AS (
                SELECT user_id, ty,
                       unnest(generate_series(
                           CAST(floor(least(x0, x1)) AS BIGINT),
                           CAST(floor(greatest(x0, x1)) AS BIGINT))) AS tx
                FROM xx
            )
            SELECT tx AS tile_x, ty AS tile_y,
                   count(*) AS n_segs,
                   count(DISTINCT user_id) AS n_users
            FROM tiles GROUP BY 1, 2
        """,
        "polygon_raster": _polygon_raster_oracle_sql(),
        "polygon_overlap": _polygon_overlap_oracle_sql(),
        "polygon_dissolve": """
            WITH RECURSIVE anch AS (
                SELECT event_id % 101 AS bid, min(event_id) AS eid
                FROM events GROUP BY 1
            ),
            bq AS (
                SELECT bid,
                       ((eid * 7919) % 16000) / 100.0 - 80.0 AS clat,
                       ((eid * 104729) % 36000) / 100.0 - 180.0 AS clng,
                       2.0 + (bid % 7) AS hl, 3.0 + (bid % 11) AS hg
                FROM anch
            ),
            bpoly AS (
                SELECT bid, clat - hl AS lat_min, clat + hl AS lat_max,
                       clng - hg AS lng_min, clng + hg AS lng_max
                FROM bq
            ),
            -- closed-interval rect overlap: independent of the
            -- engine's tile-cover/orientation/parity machinery
            pairs AS (
                SELECT x.bid AS a, y.bid AS b
                FROM bpoly x JOIN bpoly y
                  ON x.bid < y.bid
                 AND x.lat_min <= y.lat_max AND y.lat_min <= x.lat_max
                 AND x.lng_min <= y.lng_max AND y.lng_min <= x.lng_max
            ),
            und AS (SELECT a, b FROM pairs
                    UNION ALL SELECT b, a FROM pairs),
            reach(node, lbl) AS (
                SELECT a, a FROM und
                UNION
                SELECT u.a, r.lbl FROM und u JOIN reach r ON r.node = u.b
            ),
            comp AS (SELECT node, min(lbl) AS canonical FROM reach
                     GROUP BY node)
            SELECT p.bid AS area_id,
                   coalesce(c.canonical, p.bid) AS component,
                   CAST(c.canonical IS NOT NULL AS INT) AS is_merged
            FROM bpoly p LEFT JOIN comp c ON p.bid = c.node
        """,
        "tile_vectorize": f"""
            WITH cover AS ({_polygon_raster_oracle_sql()}),
            runs AS (
                SELECT area_id, tile_y, tile_x,
                       tile_x - row_number() OVER (
                           PARTITION BY area_id, tile_y
                           ORDER BY tile_x) AS rk
                FROM cover
            ),
            r2 AS (
                SELECT area_id, tile_y, rk,
                       min(tile_x) AS x0, max(tile_x) AS x1
                FROM runs GROUP BY area_id, tile_y, rk
            ),
            c2 AS (
                SELECT area_id, x0, x1, tile_y,
                       tile_y - row_number() OVER (
                           PARTITION BY area_id, x0, x1
                           ORDER BY tile_y) AS ck
                FROM r2
            )
            SELECT area_id, x0, x1,
                   min(tile_y) AS y0, max(tile_y) AS y1,
                   (x1 - x0 + 1) * (max(tile_y) - min(tile_y) + 1)
                       AS n_tiles
            FROM c2 GROUP BY area_id, x0, x1, ck
        """,
        "zonal_stats": f"""
            WITH pts AS ({G.EVENTS_POINTS_SQL}),
            tp AS (
                SELECT CAST(floor({G.ctile_x_sql('lng', POLY_RASTER_Z)})
                            AS BIGINT) AS tile_x,
                       CAST(floor({G.ctile_y_sql('lat', POLY_RASTER_Z)})
                            AS BIGINT) AS tile_y,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM pts
            ),
            cover AS (
                SELECT DISTINCT area_id, tile_x, tile_y
                FROM ({_polygon_raster_oracle_sql()})
            )
            SELECT cover.area_id,
                   count(*) AS n_points,
                   count(DISTINCT (tp.tile_x, tp.tile_y)) AS n_tiles_hit,
                   CAST(sum(cents) AS BIGINT) AS value_cents
            FROM tp JOIN cover
              ON tp.tile_x = cover.tile_x AND tp.tile_y = cover.tile_y
            GROUP BY cover.area_id
        """,
        "events_attribution": """
            WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts, max(event_id) AS click_id
                  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
            SELECT p.purchase_id, p.user_id,
                   coalesce(c.click_id, -1) AS click_id,
                   coalesce(date_diff('second', c.ts, p.ts), -1) AS gap_s
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "s2_cell_agg": _values_sql(
            s2a_rows,
            [("cell_l3", "BIGINT"), ("cell_l1", "BIGINT"),
             ("n_events", "BIGINT"), ("min_event_id", "BIGINT"),
             ("max_event_id", "BIGINT"), ("leaf_check", "BIGINT")],
        ),
        "s2_range_join": _values_sql(
            s2r_rows,
            [("center_id", "BIGINT"), ("n_events", "BIGINT"),
             ("min_event_id", "BIGINT"), ("leaf_xor_low32", "BIGINT")],
        ),
        "s2_radius_query": f"""
            WITH pts AS ({pts})
            SELECT query_id, event_id,
                   CAST(floor({hav}) AS BIGINT) AS dist_floor_m
            FROM pts CROSS JOIN {_centers_values()}
            WHERE {hav} < {repr(RADIUS_M)}
        """,
        "polyline_length": f"""
            WITH pts AS ({pts}),
            seq AS (
                SELECT user_id, lat, lng,
                       lag(lat) OVER w AS p_lat, lag(lng) OVER w AS p_lng
                FROM pts
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, count(*) AS n_points,
                   CAST(floor(coalesce(sum(
                       CASE WHEN p_lat IS NULL THEN NULL ELSE {seg_hav} END
                   ), 0.0)) AS BIGINT) AS len_floor_m
            FROM seq GROUP BY user_id
        """,
        "destination_point": f"""
            WITH pts AS ({pts})
            SELECT event_id,
                   round({dest_lat}, 5) AS dest_lat,
                   round({dest_lng}, 5) AS dest_lng
            FROM pts
        """,
        "midpoint": f"""
            WITH pts AS ({pts}),
            seq AS (
                SELECT event_id, lat, lng,
                       lag(lat) OVER ({prev}) AS p_lat,
                       lag(lng) OVER ({prev}) AS p_lng
                FROM pts
            )
            SELECT event_id,
                   round({mid_lat}, 5) AS mid_lat,
                   round({mid_lng}, 5) AS mid_lng
            FROM seq WHERE p_lat IS NOT NULL
        """,
        "tile_assign": f"""
            WITH pts AS ({pts})
            SELECT {tx} AS tile_x, {ty} AS tile_y,
                   count(*) AS n_points,
                   min(event_id) AS min_event, max(event_id) AS max_event
            FROM pts GROUP BY 1, 2
        """,
        "tile_bounds": f"""
            WITH pts AS ({pts}),
            tiles AS (
                SELECT DISTINCT {G.tile_x_sql("lng", 10)} AS tile_x,
                                {G.tile_y_sql("lat", 10)} AS tile_y
                FROM pts
            )
            SELECT tile_x, tile_y,
                   {_res10} * (CAST(tile_x AS DOUBLE) * 4096.0)
                       - {G.SHIFT} AS merc_min_x,
                   {_res10} * ((1023.0 - CAST(tile_y AS DOUBLE)) * 4096.0)
                       - {G.SHIFT} AS merc_min_y,
                   {_res10} * ((CAST(tile_x AS DOUBLE) + 1.0) * 4096.0)
                       - {G.SHIFT} AS merc_max_x,
                   {_res10} * (((1023.0 - CAST(tile_y AS DOUBLE)) + 1.0)
                               * 4096.0) - {G.SHIFT} AS merc_max_y,
                   tile_x * 4096 AS px_min_x,
                   tile_y * 4096 AS px_min_y,
                   (tile_x + 1) * 4096 AS px_max_x,
                   (tile_y + 1) * 4096 AS px_max_y,
                   round((2.0 * atan(exp(
                       ((4194304.0 - CAST(tile_y * 4096 AS DOUBLE))
                            * {_res10} - {G.SHIFT}) / {G.MERC_R}))
                       - {repr(K.PI / 2)}) * {repr(180.0 / K.PI)}, 7)
                       AS nw_lat,
                   round((CAST(tile_x * 4096 AS DOUBLE) * {_res10}
                              - {G.SHIFT}) * {repr(180.0 / K.PI)}
                             / {G.MERC_R}, 7) AS nw_lng
            FROM tiles
        """,
        "hex_assign": f"""
            WITH pts AS ({pts})
            SELECT {_hex_sql} AS hex,
                   count(*) AS n_points,
                   min(event_id) AS min_event,
                   round(avg(value), 6) AS avg_value
            FROM pts GROUP BY 1
        """,
        "geohash_rollup": _geohash_rollup_oracle(),
        "geohash_kring_join": _geohash_kring_oracle(),
        "density_classify": _density_oracle(),
        "traj_resample": _traj_resample_oracle(),
        "od_matrix": _od_matrix_oracle(),
        "hll_users": _hll_users_oracle(),
        "hll_tile_rollup": _hll_tile_rollup_oracle(),
        "cms_heavy_hitters": _cms_heavy_hitters_oracle(),
        "bloom_crawl_filter": _bloom_crawl_filter_oracle(),
        "kmv_overlap": _kmv_overlap_oracle(),
        "hdr_quantiles": _hdr_quantiles_oracle(),
        "staypoints": _staypoints_oracle(),
        "colocate": _colocate_oracle(),
        "pagerank": _pagerank_oracle(),
        "graph_cc": _graph_cc_oracle(),
        "graph_sssp": _graph_sssp_oracle(),
        "triangles": _triangles_oracle(),
        "convex_hull": _convex_hull_oracle(),
        "polygon_area": _polygon_area_oracle(),
        "frechet": _frechet_oracle(),
        "hausdorff": _hausdorff_oracle(),
        "hex_rollup": f"""
            WITH pts AS ({pts}),
            child AS (
                SELECT {_hex_rollup_sql} AS hex, count(*) AS n
                FROM pts GROUP BY 1
            )
            SELECT {_hex_parent_sql} AS hex_parent,
                   CAST(sum(n) AS BIGINT) AS n_points,
                   count(*) AS n_children
            FROM child GROUP BY 1
        """,
        "hex_kring_join": f"""
            WITH pts AS ({pts}),
            cells AS (
                SELECT {_hex_ring_sql} AS hex, count(*) AS n
                FROM pts GROUP BY 1
            ),
            centers AS (
                SELECT event_id, {_hex_ring_sql} AS c_hex
                FROM pts WHERE event_id < 40
            ),
            offs(dq, dr) AS (VALUES {_hex_offs}),
            probes AS (
                SELECT event_id, c_hex + dq * {1 << 29} + dr AS hex
                FROM centers CROSS JOIN offs
            )
            SELECT event_id,
                   CAST(sum(COALESCE(cells.n, 0)) AS BIGINT) AS n_in_ring,
                   count(cells.n) AS n_cells_hit
            FROM probes LEFT JOIN cells USING (hex)
            GROUP BY 1
        """,
        "cell_morton": f"""
            WITH pts AS ({pts})
            SELECT {G.cell_sql('lat', 'lng', TILE_Z)} AS cell,
                   count(*) AS n_points
            FROM pts GROUP BY 1
        """,
        "bbox_agg": f"""
            WITH pts AS ({pts})
            SELECT event_type,
                   min(lat) AS min_lat, min(lng) AS min_lng,
                   max(lat) AS max_lat, max(lng) AS max_lng,
                   count(*) AS n_points
            FROM pts GROUP BY event_type
        """,
        "haversine_topk": f"""
            WITH pts AS ({pts})
            SELECT event_id,
                   CAST(floor({hav0}) AS BIGINT) AS dist_floor_m
            FROM pts ORDER BY {hav0}, event_id LIMIT 200
        """,
        "min_distance": f"""
            WITH pts AS ({pts})
            SELECT event_type,
                   CAST(floor(min({hav0})) AS BIGINT) AS min_dist_floor
            FROM pts GROUP BY event_type
        """,
        "radius_join": f"""
            WITH pts AS ({pts})
            SELECT query_id, event_id,
                   CAST(floor({hav}) AS BIGINT) AS dist_floor_m
            FROM pts CROSS JOIN {_centers_values()}
            WHERE {hav} < {repr(RADIUS_M)} AND {hav} >= 0.0
        """,
        # independent-JOIN-ALGORITHM oracle: brute-force cross join +
        # the same integer IDW formulas over the same inlined grid
        "idw_tiles": f"""
            WITH pts AS ({pts}),
            targets(query_id, q_lat, q_lng) AS (VALUES {", ".join(
                f"({qid}, {repr(la)}, {repr(ln)})"
                for qid, la, ln in _idw_targets())}),
            pairs AS (
                SELECT query_id,
                       (1000000000000000 // (d_cm * d_cm)) AS w,
                       v
                FROM (
                    SELECT query_id,
                           greatest(CAST(floor({hav} * 100.0) AS BIGINT),
                                    100) AS d_cm,
                           CAST(floor(value * 100.0) AS BIGINT) AS v
                    FROM pts CROSS JOIN targets
                    WHERE {hav} < {repr(IDW_RADIUS_M)}
                )
            )
            SELECT query_id >> 32 AS tile_x,
                   query_id % 4294967296 AS tile_y,
                   count(*) AS n_samples,
                   CAST(sum(w) AS BIGINT) AS den_w,
                   CAST(sum(w * v) AS BIGINT)
                       // CAST(sum(w) AS BIGINT) AS est_cents
            FROM pairs GROUP BY 1, 2
        """,
        "box_query": f"""
            WITH pts AS ({pts})
            SELECT event_id, lat, lng FROM pts
            WHERE lat > {repr(lat_min)} AND lat < {repr(lat_max)}
              AND lng > {repr(lng_min)} AND lng < {repr(lng_max)}
        """,
        "box_semi_anti": f"""
            WITH pts AS ({pts}),
            inbox AS (
                SELECT DISTINCT user_id FROM pts
                WHERE lat > {repr(lat_min)} AND lat < {repr(lat_max)}
                  AND lng > {repr(lng_min)} AND lng < {repr(lng_max)}
            )
            SELECT user_id, count(*) AS n_events, 'semi' AS side
            FROM pts WHERE user_id IN (SELECT user_id FROM inbox)
            GROUP BY user_id
            UNION ALL
            SELECT user_id, count(*) AS n_events, 'anti' AS side
            FROM pts WHERE user_id NOT IN (SELECT user_id FROM inbox)
            GROUP BY user_id
        """,
        "box_join": f"""
            WITH pts AS ({pts}),
            seg AS (
                SELECT event_id,
                       lat AS f_lat, lng AS f_lng,
                       -- parens match the engine's association
                       -- (lat + (d - 0.004)), bit-identical doubles
                       lat + (((event_id * 131) % 800) / 100000.0 - 0.004)
                           AS t_lat,
                       greatest(lng + (((event_id * 137) % 800) / 100000.0
                                       - 0.004), -180.0) AS t_lng
                FROM pts
            ),
            sb AS (
                SELECT event_id AS id_a,
                       least(f_lat, t_lat) AS a_min_lat,
                       least(f_lng, t_lng) AS a_min_lng,
                       greatest(f_lat, t_lat) AS a_max_lat,
                       greatest(f_lng, t_lng) AS a_max_lng
                FROM seg
            ),
            grid AS ({_values_sql(
                _qbox_grid(),
                [("id_b", "BIGINT"), ("b_min_lat", "DOUBLE"),
                 ("b_min_lng", "DOUBLE"), ("b_max_lat", "DOUBLE"),
                 ("b_max_lng", "DOUBLE")],
            )})
            SELECT id_a, id_b,
                   (b_min_lat >= a_min_lat AND b_max_lat <= a_max_lat AND
                    b_min_lng >= a_min_lng AND b_max_lng <= a_max_lng)
                       AS a_contains_b,
                   (a_min_lat >= b_min_lat AND a_max_lat <= b_max_lat AND
                    a_min_lng >= b_min_lng AND a_max_lng <= b_max_lng)
                       AS b_contains_a
            FROM sb JOIN grid
              ON a_min_lat <= b_max_lat AND a_max_lat >= b_min_lat
             AND a_min_lng <= b_max_lng AND a_max_lng >= b_min_lng
        """,
        "seg_intersections": f"""
            WITH pts AS ({pts}),
            seg AS (
                SELECT event_id AS seg_id, lat AS f_lat, lng AS f_lng,
                       lat + (((event_id * 131) % 800) / 100000.0 - 0.004)
                                 * {_SEG_STRETCH} AS t_lat,
                       lng + (((event_id * 137) % 800) / 100000.0 - 0.004)
                                 * {_SEG_STRETCH} AS t_lng
                FROM pts
                WHERE lat > {repr(lat_min)} AND lat < {repr(lat_max)}
                  AND lng > {repr(lng_min)} AND lng < {repr(lng_max)}
            ),
            pair AS (
                SELECT a.seg_id AS id_a, b.seg_id AS id_b,
                       a.f_lng AS ax0, a.f_lat AS ay0,
                       a.t_lng AS ax1, a.t_lat AS ay1,
                       b.f_lng AS bx0, b.f_lat AS by0,
                       b.t_lng AS bx1, b.t_lat AS by1
                FROM seg a JOIN seg b ON a.seg_id < b.seg_id
            ),
            o AS (
                SELECT id_a, id_b,
                       ax0, ay0, ax1, ay1, bx0, by0, bx1, by1,
                       CASE WHEN (ax1-ax0)*(by0-ay0)-(ay1-ay0)*(bx0-ax0) > 0 THEN 1
                            WHEN (ax1-ax0)*(by0-ay0)-(ay1-ay0)*(bx0-ax0) < 0 THEN -1
                            ELSE 0 END AS o1,
                       CASE WHEN (ax1-ax0)*(by1-ay0)-(ay1-ay0)*(bx1-ax0) > 0 THEN 1
                            WHEN (ax1-ax0)*(by1-ay0)-(ay1-ay0)*(bx1-ax0) < 0 THEN -1
                            ELSE 0 END AS o2,
                       CASE WHEN (bx1-bx0)*(ay0-by0)-(by1-by0)*(ax0-bx0) > 0 THEN 1
                            WHEN (bx1-bx0)*(ay0-by0)-(by1-by0)*(ax0-bx0) < 0 THEN -1
                            ELSE 0 END AS o3,
                       CASE WHEN (bx1-bx0)*(ay1-by0)-(by1-by0)*(ax1-bx0) > 0 THEN 1
                            WHEN (bx1-bx0)*(ay1-by0)-(by1-by0)*(ax1-bx0) < 0 THEN -1
                            ELSE 0 END AS o4
                FROM pair
            )
            SELECT id_a, id_b FROM o
            WHERE (o1 <> o2 AND o3 <> o4)
               OR (o1 = 0 AND bx0 >= least(ax0, ax1) AND bx0 <= greatest(ax0, ax1)
                          AND by0 >= least(ay0, ay1) AND by0 <= greatest(ay0, ay1))
               OR (o2 = 0 AND bx1 >= least(ax0, ax1) AND bx1 <= greatest(ax0, ax1)
                          AND by1 >= least(ay0, ay1) AND by1 <= greatest(ay0, ay1))
               OR (o3 = 0 AND ax0 >= least(bx0, bx1) AND ax0 <= greatest(bx0, bx1)
                          AND ay0 >= least(by0, by1) AND ay0 <= greatest(by0, by1))
               OR (o4 = 0 AND ax1 >= least(bx0, bx1) AND ax1 <= greatest(bx0, bx1)
                          AND ay1 >= least(by0, by1) AND ay1 <= greatest(by0, by1))
        """,
        "knn": f"""
            WITH pts AS ({pts}),
            ranked AS (
                SELECT query_id, event_id, {hav} AS dist,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY {hav}, event_id
                       ) AS rn
                FROM pts CROSS JOIN {_centers_values()}
            )
            SELECT query_id, event_id,
                   CAST(floor(dist) AS BIGINT) AS dist_floor_m
            FROM ranked WHERE rn <= {KNN_K}
        """,
        # independent-ALGORITHM oracle: brute-force window kNN + vote
        # argmax (the engine's cell-count bound never appears)
        "knn_classify": f"""
            WITH pts AS ({pts}),
            ranked AS (
                SELECT query_id, event_id, event_type,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY {hav}, event_id
                       ) AS rn
                FROM pts CROSS JOIN {_centers_values()}
            ),
            votes AS (
                SELECT query_id, event_type AS label,
                       count(*) AS n_votes
                FROM ranked WHERE rn <= {KNN_CLS_K}
                GROUP BY 1, 2
            ),
            win AS (
                SELECT query_id, label, n_votes,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY n_votes DESC, label
                       ) AS wr
                FROM votes
            )
            SELECT query_id, label, n_votes FROM win WHERE wr = 1
        """,
        "pip_join": f"""
            WITH pts AS ({pts})
            {pip_union}
        """,
        "poly_file_pip": f"""
            WITH pts AS ({pts}),
            hits AS ({poly_union})
            SELECT area_id, count(*) AS n_inside,
                   min(event_id) AS min_event, max(event_id) AS max_event,
                   CAST({poly_nring_case} AS INTEGER) AS n_ring
            FROM hits GROUP BY area_id
        """,
        "tile_rollup": f"""
            WITH pts AS ({pts}),
            z8 AS (
                SELECT {tx} AS tile_x, {ty} AS tile_y, count(*) AS n_points
                FROM pts GROUP BY 1, 2
            )
            SELECT CAST(tile_x >> {TILE_Z - ROLLUP_Z} AS BIGINT) AS tile_x,
                   CAST(tile_y >> {TILE_Z - ROLLUP_Z} AS BIGINT) AS tile_y,
                   CAST(sum(n_points) AS BIGINT) AS n_points
            FROM z8 GROUP BY 1, 2
        """,
        "tile_time_rollup": f"""
            WITH pts AS ({pts})
            SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                   {G.tile_x_sql('lng', 6)} AS tile_x,
                   {G.tile_y_sql('lat', 6)} AS tile_y,
                   count(*) AS n_points
            FROM pts GROUP BY 1, 2, 3
        """,
        "tile_multi_rollup": f"""
            WITH pts AS ({pts}),
            z8 AS (SELECT {tx} AS tile_x, {ty} AS tile_y FROM pts)
            SELECT CAST({TILE_Z} - dz AS INTEGER) AS zoom,
                   CAST(tile_x >> dz AS BIGINT) AS tile_x,
                   CAST(tile_y >> dz AS BIGINT) AS tile_y,
                   count(*) AS n_points
            FROM z8 CROSS JOIN
                 (SELECT unnest(generate_series(0, {TILE_Z - ROLLUP_Z})) AS dz)
            GROUP BY 1, 2, 3
        """,
        "bearing_seq": f"""
            WITH pts AS ({pts}),
            seq AS (
                SELECT event_id, lat, lng,
                       lag(lat) OVER ({prev}) AS p_lat,
                       lag(lng) OVER ({prev}) AS p_lng
                FROM pts
            )
            SELECT event_id, round({bearing}, 4) AS bearing_r
            FROM seq WHERE p_lat IS NOT NULL
        """,
        "box_buffer": f"""
            WITH pts AS ({pts})
            SELECT event_id,
                   round(lat - 50000.0 / 111000.0, 4) AS bmin_lat,
                   round(lng - abs(50000.0 / (111200.0 * cos(
                       (lat - 50000.0 / 111000.0) * {repr(K.PI / 180.0)}))), 4
                   ) AS bmin_lng,
                   round(lat + 50000.0 / 111000.0, 4) AS bmax_lat,
                   round(lng + abs(50000.0 / (111200.0 * cos(
                       (lat + 50000.0 / 111000.0) * {repr(K.PI / 180.0)}))), 4
                   ) AS bmax_lng
            FROM pts
        """,
        "geocode_resolve": _geocode_resolve_oracle(),
        "reverse_geocode": _reverse_geocode_oracle(),
    }
