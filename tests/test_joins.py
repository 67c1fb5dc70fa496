"""Spatial joins vs the reference's own unit-test fixtures
(test/point_rtree_test.cc, test/box_test.cc) + PIP semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospark.functions import numpy_kernels as NK
from geospark.joins import (
    Area,
    PolygonLayer,
    area_contains,
    box_query,
    knn_classify,
    knn_join_df,
    pip_join,
    radius_join_df,
)

# Darmstadt POIs (test/point_rtree_test.cc:10-16)
HBF = (49.8726016, 8.6310396)
LUISENPLATZ = (49.8728246, 8.6512529)
ALGO = (49.8780513, 8.6547033)
MENSA = (49.8756276, 8.6577833)


def _points_df(spark):
    rows = [
        (0, *HBF),
        (1, *LUISENPLATZ),
        (2, *ALGO),
    ]
    return spark.createDataFrame(rows, "point_id long, lat double, lng double")


def _centers_df(spark, centers):
    return spark.createDataFrame(
        centers, "query_id long, q_lat double, q_lng double")


def test_radius_join_darmstadt(spark):
    pts = _points_df(spark)
    centers = _centers_df(spark, [(0, *MENSA)])

    # in_radius(450) -> {Algo} (point_rtree_test.cc:24-27)
    r = radius_join_df(pts, centers, max_m=450.0).collect()
    assert [x["point_id"] for x in r] == [2]

    # in_radius(450, 1000) -> {Luisenplatz} (point_rtree_test.cc:29-33)
    r = radius_join_df(pts, centers, max_m=1000.0, min_m=450.0).collect()
    assert [x["point_id"] for x in r] == [1]

    # in_radius_with_distance(10000) -> distance-ordered [Algo, Luisenplatz, Hbf]
    r = radius_join_df(pts, centers, max_m=10000.0).orderBy("dist_m").collect()
    assert [x["point_id"] for x in r] == [2, 1, 0]
    # distances match the exact haversine kernel
    for row in r:
        lat, lng = {0: HBF, 1: LUISENPLATZ, 2: ALGO}[row["point_id"]]
        expect = float(NK.distance(MENSA[0], MENSA[1], lat, lng))
        assert abs(row["dist_m"] - expect) < 1e-6


def test_knn_join_darmstadt(spark):
    pts = _points_df(spark)
    centers = _centers_df(spark, [(0, *MENSA)])
    r = knn_join_df(pts, centers, k=2).orderBy("dist_m").collect()
    assert [x["point_id"] for x in r] == [2, 1]
    r = knn_join_df(pts, centers, k=5).orderBy("dist_m").collect()  # k > n: all 3
    assert [x["point_id"] for x in r] == [2, 1, 0]


def test_knn_join_df_vs_brute_force(spark):
    """kNN == brute-force top-k by (dist, id), including a center in a
    sparse area (its bound comes from a coarse cell) and one whose k
    nearest are far."""
    from pyspark.sql import functions as F

    from geospark.functions import kernels as K

    rows = [
        (i, float(49.5 + (i * 37 % 100) / 100.0), float(8.0 + (i * 53 % 200) / 100.0))
        for i in range(200)
    ] + [(900, -60.0, -150.0)]  # lone point far away
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    centers = [(1, 49.87, 8.65), (2, -59.9, -150.2), (3, 20.0, 100.0)]
    got = sorted(
        (r["query_id"], r["point_id"])
        for r in knn_join_df(pts, _centers_df(spark, centers), k=5).collect()
    )
    brute = []
    for qid, qla, qln in centers:
        d = K.distance(F.lit(qla), F.lit(qln), F.col("lat"), F.col("lng"))
        top = pts.withColumn("d", d).orderBy("d", "point_id").limit(5)
        brute += [(qid, x["point_id"]) for x in top.collect()]
    assert got == sorted(brute)


def test_nearest_join_df_matches_knn_k1(spark):
    """The windowless k=1 path (partial-agg min-structs) returns
    exactly knn_join_df(k=1)'s nearest point and distance per center,
    including a center in a sparse area (coarse-cell bound) and the
    world-radius fallback (tiny point set)."""
    from geospark.joins import nearest_join_df

    rows = [
        (i, float(49.5 + (i * 37 % 100) / 100.0),
         float(8.0 + (i * 53 % 200) / 100.0))
        for i in range(200)
    ] + [(900, -60.0, -150.0)]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    centers = [(1, 49.87, 8.65), (2, -59.9, -150.2), (3, 20.0, 100.0)]
    cdf = spark.createDataFrame(
        centers, "query_id long, q_lat double, q_lng double"
    )
    via_knn = {
        r["query_id"]: (r["point_id"], round(r["dist_m"], 6))
        for r in knn_join_df(pts, cdf, k=1, id_col="point_id").collect()
    }
    via_nn = {
        r["query_id"]: (r["point_id"], round(r["dist_m"], 6))
        for r in nearest_join_df(pts, cdf, id_col="point_id").collect()
    }
    assert via_nn == via_knn and len(via_nn) == 3

    # 2-point set: center 2's z1 cell holds no point, so it takes the
    # world radius and still gets its true nearest
    tiny = spark.createDataFrame(
        rows[:2], "point_id long, lat double, lng double")
    nn_tiny = {r["query_id"]: r["point_id"]
               for r in nearest_join_df(tiny, cdf, id_col="point_id").collect()}
    knn_tiny = {r["query_id"]: r["point_id"]
                for r in knn_join_df(tiny, cdf, k=1, id_col="point_id").collect()}
    assert nn_tiny == knn_tiny and len(nn_tiny) == 3


def test_pip_join_table_matches_broadcast_path(spark):
    """The polygon-TABLE PIP join (cogrouped refine, non-broadcast)
    must match the broadcast PolygonLayer path on the demo layer."""
    import numpy as np

    from geospark import geodata as G
    from geospark.joins import pip_join_table
    from geospark.sources import areas_to_df

    rng = np.random.RandomState(5)
    rows = [
        (i, float(rng.uniform(-75, 75)), float(rng.uniform(-179, 179)))
        for i in range(2000)
    ]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    layer = G.demo_layer()
    via_broadcast = sorted(
        (r["area_id"], r["point_id"]) for r in pip_join(pts, layer).collect()
    )
    poly_df = areas_to_df(spark, layer.areas)
    via_table = sorted(
        (r["area_id"], r["point_id"])
        for r in pip_join_table(pts, poly_df, cover_zoom=layer.cover_zoom).collect()
    )
    assert via_table == via_broadcast and len(via_table) > 0


def test_box_query_strict(spark):
    # box::contains is STRICT (box.h:72-75): boundary points excluded
    rows = [(0, 1.0, 1.0), (1, 0.0, 0.5), (2, 0.5, 0.5)]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    got = box_query(pts, 0.0, 0.0, 1.0, 1.0).collect()
    assert [x["point_id"] for x in got] == [2]
    got = box_query(pts, 0.0, 0.0, 1.0, 1.0, strict=False).collect()
    assert sorted(x["point_id"] for x in got) == [0, 1, 2]


def test_area_contains_with_hole():
    outer = np.array([(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)])
    hole = np.array([(4.0, 4.0), (4.0, 6.0), (6.0, 6.0), (6.0, 4.0)])
    area = Area(1, [outer], [[hole]])
    lat = np.array([5.0, 2.0, 5.0, 11.0])
    lng = np.array([5.0, 2.0, 4.5, 5.0])
    got = area_contains(area, lat, lng)
    assert got.tolist() == [False, True, False, False]


def test_pip_join_spark(spark):
    outer = np.array([(0.1, 0.1), (0.1, 9.9), (9.9, 9.9), (9.9, 0.1)])
    layer = PolygonLayer([Area(7, [outer])], cover_zoom=6)
    rows = [(0, 5.0, 5.0), (1, 20.0, 20.0), (2, 0.2, 9.8), (3, -5.0, 5.0)]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    got = pip_join(pts, layer).select("point_id", "area_id").collect()
    assert sorted((x["point_id"], x["area_id"]) for x in got) == [(0, 7), (2, 7)]


def test_pip_join_slab_refine_matches_area_contains(spark):
    """The slab-edge refine returns area_contains' bits: on the
    densified demo layer, and on a planar area with two overlapping
    outer units (one with two holes), probed at random, on every
    vertex, on horizontal edges and exactly on band edges
    (lat = k*0.25 - 90)."""
    from geospark import geodata as G

    rng = np.random.RandomState(11)
    two_units = Area(
        1,
        outers=[
            np.array([(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]),
            np.array([(5.0, 5.0), (5.1, 15.0), (15.0, 15.0), (14.9, 5.0)]),
        ],
        inners=[
            [np.array([(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0)]),
             np.array([(6.0, 6.0), (6.3, 9.0), (8.7, 7.5)])],
            [],
        ],
    )
    cases = [(G.demo_layer(), 4000),
             (PolygonLayer([two_units], cover_zoom=5, densify_deg=None), 1500)]
    for layer, n in cases:
        lat, lng = [], []
        for a in layer.areas:
            lat_min, lng_min, lat_max, lng_max = a.bbox()
            lat += list(rng.uniform(lat_min - 0.5, lat_max + 0.5, n))
            lng += list(rng.uniform(lng_min - 0.5, lng_max + 0.5, n))
            verts = np.vstack([*a.outers, *(h for hs in a.inners for h in hs)])
            lat += list(verts[:, 0])
            lng += list(verts[:, 1])
            ks = np.arange(np.floor((lat_min + 90) / 0.25),
                           np.floor((lat_max + 90) / 0.25) + 2)
            lat += list(ks * 0.25 - 90)
            lng += list(rng.uniform(lng_min, lng_max, len(ks)))
        # horizontal edges of the planar fixture: lat 0 and 10, 2 and 4
        lat += [0.0, 10.0, 2.0, 4.0, 0.0, 10.0]
        lng += [5.0, 3.0, 3.0, 3.0, 0.0, 10.0]
        lat, lng = np.array(lat), np.array(lng)
        pts = spark.createDataFrame(
            [(i, float(la), float(lo)) for i, (la, lo) in enumerate(zip(lat, lng))],
            "point_id long, lat double, lng double")
        got = sorted((r["area_id"], r["point_id"])
                     for r in pip_join(pts, layer).collect())
        want = sorted((a.area_id, int(i)) for a in layer.areas
                      for i in np.nonzero(area_contains(a, lat, lng))[0])
        assert got == want and len(want) > 0


def test_pip_join_multipolygon_with_hole(spark):
    a = Area(
        1,
        outers=[
            np.array([(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]),
            np.array([(20.0, 20.0), (20.0, 30.0), (30.0, 30.0), (30.0, 20.0)]),
        ],
        inners=[
            [np.array([(4.0, 4.0), (4.0, 6.0), (6.0, 6.0), (6.0, 4.0)])],
            [],
        ],
    )
    layer = PolygonLayer([a], cover_zoom=5)
    rows = [(0, 5.0, 5.0), (1, 2.0, 2.0), (2, 25.0, 25.0), (3, 15.0, 15.0)]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    got = pip_join(pts, layer).select("point_id").collect()
    assert sorted(x["point_id"] for x in got) == [1, 2]


def test_radius_join_high_latitude_vs_brute(spark):
    """Cover completeness at high latitude (mercator cells shrink as
    cos(lat)): radius results must equal the brute-force cross join."""
    import numpy as np
    from pyspark.sql import functions as F

    from geospark.functions import kernels as K

    rng = np.random.RandomState(5)
    lat0, lng0 = 78.0, 16.0  # Svalbard-ish
    rows = [
        (i, float(lat0 + rng.uniform(-0.3, 0.3)),
         float(lng0 + rng.uniform(-1.5, 1.5)))
        for i in range(400)
    ]
    pts = spark.createDataFrame(rows, "event_id long, lat double, lng double")
    centers = [(1, lat0, lng0), (2, lat0 + 0.2, lng0 - 1.0)]
    r = 9000.0
    got = sorted(
        (x["query_id"], x["event_id"])
        for x in radius_join_df(pts, _centers_df(spark, centers),
                                max_m=r).collect()
    )
    brute = []
    for qid, qla, qln in centers:
        d = K.distance(F.lit(qla), F.lit(qln), F.col("lat"), F.col("lng"))
        brute += [
            (qid, x["event_id"])
            for x in pts.withColumn("d", d).filter(F.col("d") < r).collect()
        ]
    assert got == sorted(brute)
    assert len(got) > 10


def test_radius_join_per_center_radius_covers_disk(spark):
    """With per-center radii the cover zoom follows the median radius,
    so a large high-latitude disk is covered by cells far smaller than
    its radius. Points just inside its edge, all around it, must still
    be found: the cover box must hold the whole disk, as a one-cell pad
    ring no longer makes up for a box narrower than the disk."""
    R = NK.EARTH_RADIUS_M

    def dest(lat, lng, brg, d):
        la, ln, b = np.radians([lat, lng, brg])
        dd = d / R
        la2 = np.arcsin(np.sin(la) * np.cos(dd) + np.cos(la) * np.sin(dd) * np.cos(b))
        ln2 = ln + np.arctan2(np.sin(b) * np.sin(dd) * np.cos(la),
                              np.cos(dd) - np.sin(la) * np.sin(la2))
        return float(np.degrees(la2)), float((np.degrees(ln2) + 180) % 360 - 180)

    big = [(1, 75.0, 40.0, 800_000.0), (2, -70.0, -100.0, 1_500_000.0),
           # its bbox spans 359.2 deg with both ends in one z5 column
           (3, 55.94, -97.4, 3_175_918.0)]
    rows = [(q * 1000 + i, *dest(la, ln, brg, r * 0.999))
            for q, la, ln, r in big
            for i, brg in enumerate(np.linspace(0.0, 360.0, 180, endpoint=False))]
    small = [(100 + i, 10.0 + i * 0.001, 10.0, 2000.0) for i in range(50)]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    centers = spark.createDataFrame(
        big + small, "query_id long, q_lat double, q_lng double, r double")
    got = radius_join_df(pts, centers, max_m=float("inf"), radius_col="r")
    assert {(r["query_id"], r["n"]) for r in
            got.groupBy("query_id").agg(F.count("*").alias("n")).collect()} \
        == {(1, 180), (2, 180), (3, 180)}


def test_radius_join_antimeridian(spark):
    """Covers crossing the +-180 line must wrap, not collapse: the
    radius join equals brute force on both sides of the line."""
    import numpy as np
    from pyspark.sql import functions as F

    from geospark.functions import kernels as K

    rng = np.random.RandomState(9)
    rows = []
    for i in range(300):
        lng = 179.0 + rng.uniform(0.0, 2.0)  # straddles the antimeridian
        if lng >= 180.0:
            lng -= 360.0
        rows.append((i, float(10.0 + rng.uniform(-0.5, 0.5)), float(lng)))
    pts = spark.createDataFrame(rows, "event_id long, lat double, lng double")
    centers = [(1, 10.0, 179.95), (2, 10.2, -179.9)]
    r = 40000.0

    def brute(qla, qln):
        d = K.distance(F.lit(qla), F.lit(qln), F.col("lat"), F.col("lng"))
        return {
            x["event_id"]
            for x in pts.withColumn("d", d).filter(F.col("d") < r).collect()
        }

    got = {}
    for x in radius_join_df(pts, _centers_df(spark, centers), max_m=r).collect():
        got.setdefault(x["query_id"], set()).add(x["event_id"])
    for qid, qla, qln in centers:
        expect = brute(qla, qln)
        assert got.get(qid, set()) == expect, qid
        assert len(expect) > 5

def test_pip_planar_vs_spherical_divergence(spark):
    """Documents the ONE semantic gap vs the reference: within() there
    (src/polygon.cc:38-41) is boost::geometry SPHERICAL winding (edges
    are great circles); this engine's refine is PLANAR in lat/lng. For
    the quad (60,0)-(60,90)-(50,90)-(50,0) BOTH 90°-of-longitude edges
    bulge poleward at lng 45 — the top one to ~67.8°, the bottom one to
    ~59.3° — so the spherical polygon is a lens lying strictly ABOVE
    parts of the planar one. Divergence in both directions:
      - (65, 45): planar OUTSIDE, spherical INSIDE
      - (55, 45): planar INSIDE,  spherical OUTSIDE
    Area.densified_great_circle() opts into spherical (reference)
    parity while keeping the planar/codegen refine."""
    import math

    outer = [(60.0, 0.0), (60.0, 90.0), (50.0, 90.0), (50.0, 0.0)]
    area = Area(1, [outer])

    # great-circle latitude of the (60,0)->(60,90) edge at lng 45:
    # tan(lat) = (tan(l1) sin(g2-g) + tan(l2) sin(g-g1)) / sin(g2-g1)
    t = math.degrees(math.atan(
        (math.tan(math.radians(60.0)) * math.sin(math.radians(45.0))
         + math.tan(math.radians(60.0)) * math.sin(math.radians(45.0)))
        / math.sin(math.radians(90.0))
    ))
    assert t > 67.5  # the spherical top edge really does pass above 65N

    lat = np.array([65.0, 63.0, 55.0])
    lng = np.array([45.0, 45.0, 45.0])
    planar = area_contains(area, lat, lng)
    assert planar.tolist() == [False, False, True]  # shipped semantics

    sph = area.densified_great_circle(0.25)
    spherical = area_contains(sph, lat, lng)
    assert spherical.tolist() == [True, True, False]  # reference semantics

    # A DEFAULT-built layer auto-densifies long edges, so pip_join
    # gives the reference's SPHERICAL verdicts out of the box
    # (VERDICT r03 task #5); densify_deg=None opts back into planar.
    pts = spark.createDataFrame(
        [(0, 65.0, 45.0), (1, 63.0, 45.0), (2, 55.0, 45.0)],
        "point_id long, lat double, lng double",
    )
    got_default = {r["point_id"] for r in pip_join(
        pts, PolygonLayer([area], cover_zoom=4)).collect()}
    got_planar = {r["point_id"] for r in pip_join(
        pts, PolygonLayer([area], cover_zoom=4, densify_deg=None)).collect()}
    got_sph = {r["point_id"] for r in pip_join(
        pts, PolygonLayer([sph], cover_zoom=4)).collect()}
    assert got_default == {0, 1}  # reference (spherical) semantics
    assert got_planar == {2}      # explicit opt-out
    assert got_sph == {0, 1}


def test_densified_ring_preserves_planar_regions(spark):
    """Densifying a small low-latitude polygon is a no-op semantically:
    verdicts for interior/exterior points are unchanged."""
    outer = [(10.0, 10.0), (10.0, 11.0), (9.0, 11.0), (9.0, 10.0)]
    area = Area(3, [outer])
    d = area.densified_great_circle(0.1)
    lat = np.array([9.5, 8.5, 9.5])
    lng = np.array([10.5, 10.5, 12.0])
    assert area_contains(area, lat, lng).tolist() == [True, False, False]
    assert area_contains(d, lat, lng).tolist() == [True, False, False]


def test_map_match_vs_brute_force(spark):
    """match_points_to_segments == the goldens.map_match brute force on
    a mixed network: short city links, a degenerate 8000-km
    inter-city link (exercises the coarse-zoom cover path), a
    high-latitude line (lng under-cover fringe), and probes that
    match nothing."""
    from geospark.goldens import map_match as brute
    from geospark.joins import match_points_to_segments

    trajectories = [
        (1, [(48.1000, 11.5000), (48.1010, 11.5030), (48.1005, 11.5060)]),
        (2, [(48.1003, 11.5010), (35.6800, 139.7600)]),   # Munich -> Tokyo
        (3, [(78.2000, 15.6000), (78.2010, 15.6200)]),    # Svalbard
    ]
    probes = [
        (10, 48.10055, 11.50310),   # near line 1 mid
        (11, 48.10031, 11.50099),   # near shared area: lines 1 AND 2
        (12, 42.2000, 75.6305),     # ~600 m off the long link's merc midpoint
        (13, 78.20051, 15.61001),   # high-lat, between vertices
        (14, 0.0, 0.0),             # matches nothing
        (15, 48.0500, 11.5000),     # ~5.5 km away: outside 2 km
    ]
    max_m = 2000.0
    segs = []
    for uid, line in trajectories:
        for i in range(len(line) - 1):
            segs.append((uid, i, *line[i], *line[i + 1]))
    seg_df = spark.createDataFrame(
        segs,
        "line_id long, seg_idx int, f_lat double, f_lng double, "
        "t_lat double, t_lng double",
    )
    pts_df = spark.createDataFrame(
        probes, "point_id long, lat double, lng double")
    got = {
        r["point_id"]: (r["line_id"], r["seg_idx"],
                        round(r["dist_m"], 6), round(r["c_lat"], 9),
                        round(r["c_lng"], 9))
        for r in match_points_to_segments(pts_df, seg_df, max_m).collect()
    }
    want = {
        pid: (uid, si, round(d, 6), round(cla, 9), round(cln, 9))
        for pid, uid, si, d, cla, cln in brute(probes, trajectories, max_m)
    }
    assert got == want
    assert 14 not in got and 15 not in got
    assert {10, 11, 12, 13} <= set(got)
    # the interior probe really matched the degenerate long link
    assert got[12][0] == 2


def test_corridor_join_vs_brute_force(spark):
    """corridor_join == the goldens.corridor_pairs brute force on the
    same mixed network: probe 11 sits where lines 1 AND 2 both pass
    within 2 km, so the corridor keeps BOTH rows where the map-match
    argmin keeps one; map_match must equal the per-point argmin of
    the corridor relation (consistency of the two aggregates)."""
    from geospark.goldens import corridor_pairs
    from geospark.joins import corridor_join, match_points_to_segments

    trajectories = [
        (1, [(48.1000, 11.5000), (48.1010, 11.5030), (48.1005, 11.5060)]),
        (2, [(48.1003, 11.5010), (35.6800, 139.7600)]),
        (3, [(78.2000, 15.6000), (78.2010, 15.6200)]),
    ]
    probes = [
        (10, 48.10055, 11.50310),
        (11, 48.10031, 11.50099),
        (13, 78.20051, 15.61001),
        (14, 0.0, 0.0),
    ]
    max_m = 2000.0
    segs = []
    seg_rows = []
    for uid, line in trajectories:
        for i in range(len(line) - 1):
            segs.append((uid, i, line[i], line[i + 1]))
            seg_rows.append((uid, i, *line[i], *line[i + 1]))
    seg_df = spark.createDataFrame(
        seg_rows,
        "line_id long, seg_idx int, f_lat double, f_lng double, "
        "t_lat double, t_lng double",
    )
    pts_df = spark.createDataFrame(
        probes, "point_id long, lat double, lng double")
    got = sorted(
        (r["point_id"], r["line_id"], r["seg_idx"],
         round(r["dist_m"], 6), round(r["c_lat"], 9), round(r["c_lng"], 9))
        for r in corridor_join(pts_df, seg_df, max_m).collect()
    )
    want = sorted(
        (pid, uid, si, round(d, 6), round(cla, 9), round(cln, 9))
        for pid, uid, si, d, cla, cln in corridor_pairs(probes, segs, max_m)
    )
    assert got == want
    # probe 11 is inside BOTH corridors
    assert {u for p, u, *_ in got if p == 11} == {1, 2}
    # map_match == per-point argmin of the corridor relation
    mm = {
        r["point_id"]: (r["line_id"], r["seg_idx"], round(r["dist_m"], 6))
        for r in match_points_to_segments(pts_df, seg_df, max_m).collect()
    }
    best = {}
    for p, u, si, d, _, _ in got:
        if p not in best or (d, u, si) < best[p]:
            best[p] = (d, u, si)
    assert mm == {p: (u, si, d) for p, (d, u, si) in best.items()}


def test_map_match_antimeridian_probe(spark):
    """Probes nudged past lng -180 must still match a network link ON
    the antimeridian. Regression: the JVM pixel-x used floor while the
    reference (and the numpy cover twin) TRUNCATES toward zero —
    identical in range, but floor(-eps) = -1 desynced the probe key
    from the cover at lng < -180, and the old pad=1 ring only masked
    it by a linear-cell wraparound coincidence (pad=0 exposed it)."""
    from geospark.goldens import map_match_segments as brute
    from geospark.joins import match_points_to_segments

    segs = [
        (1, 0, (40.0, -180.0), (39.996, -180.0)),      # on the meridian
        (2, 0, (-80.0, 179.995), (-80.004, 179.996)),  # just west of it
        (3, 0, (0.0, -179.9998), (0.004, -179.9999)),  # just east of it
    ]
    probes = [
        (100, 40.0003, -180.0002),   # ~40 m, wrapped past -180
        (101, -79.9997, 179.9995),   # high-lat west-side neighbor
        (102, 0.0003, -180.0002),    # wrapped; nearest seg is EAST side
    ]
    seg_df = spark.createDataFrame(
        [(l, s, f[0], f[1], t[0], t[1]) for l, s, f, t in segs],
        "line_id long, seg_idx int, f_lat double, f_lng double, "
        "t_lat double, t_lng double",
    )
    pts_df = spark.createDataFrame(
        probes, "point_id long, lat double, lng double")
    got = {
        r["point_id"]: (r["line_id"], round(r["dist_m"], 6))
        for r in match_points_to_segments(pts_df, seg_df, 500.0).collect()
    }
    want = {
        pid: (uid, round(d, 6))
        for pid, uid, _si, d, _cla, _cln in brute(probes, segs, 500.0)
    }
    assert got == want
    assert set(got) == {100, 101, 102}


def test_knn_durable_spool_backend(spark, tmp_path):
    """The kNN join spools its per-center radius bound; with the
    reliable (DFS-checkpoint) backend the results must be identical
    to the local default — the backend changes durability, never
    rows."""
    import random

    rng = random.Random(7)
    pts = spark.createDataFrame(
        [(i, 48.0 + rng.random(), 11.0 + rng.random()) for i in range(400)],
        "point_id long, lat double, lng double",
    )
    centers = spark.createDataFrame(
        [(1, 48.5, 11.5), (2, 48.9, 11.1)],
        "query_id long, q_lat double, q_lng double",
    )

    def run():
        return sorted(
            (r["query_id"], r["point_id"], round(r["dist_m"], 6))
            for r in knn_join_df(pts, centers, k=5,
                                 id_col="point_id").collect()
        )

    base = run()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.geospark.spool", "reliable")
    try:
        durable = run()
    finally:
        spark.conf.set("spark.geospark.spool", "local")
    assert durable == base
    assert len(base) == 10


def test_pip_join_empty_layer(spark):
    """An empty polygon layer is a valid degenerate input: zero output
    rows, not an IndexError at plan-build time."""
    df = spark.createDataFrame([(1, 10.0, 10.0)],
                               "point_id long, lat double, lng double")
    out = pip_join(df, PolygonLayer([], cover_zoom=6))
    assert out.count() == 0


def test_knn_classify_majority_and_ties(spark):
    """Majority vote: 1-NN label loses to the 2-of-3 majority; an even
    2-2 split breaks to the lexicographically smaller label; votes
    come from exactly the k nearest under the (dist, id) kNN order."""

    # center at origin; nearest point labeled 'z', next two 'a'
    pts = [
        (1, 0.001, 0.0, "z"),   # ~111 m, nearest
        (2, 0.002, 0.0, "a"),
        (3, 0.003, 0.0, "a"),
        (4, 0.004, 0.0, "b"),   # outside k=3
        # second center (id 8) at (10, 10): exact 2-2 tie b vs c
        (5, 10.001, 10.0, "c"),
        (6, 10.002, 10.0, "b"),
        (7, 10.003, 10.0, "c"),
        (8, 10.004, 10.0, "b"),
    ]
    df = spark.createDataFrame(
        pts, "point_id long, lat double, lng double, label string")
    got = {
        r["query_id"]: (r["label"], r["n_votes"])
        for r in knn_classify(
            df, _centers_df(spark, [(0, 0.0, 0.0), (8, 10.0, 10.0)]), k=3
        ).collect()
    }
    assert got[0] == ("a", 2)      # majority beats the nearest 'z'
    q8 = knn_classify(df, _centers_df(spark, [(8, 10.0, 10.0)]), k=4).collect()[0]
    assert (q8["label"], q8["n_votes"]) == ("b", 2)  # 2-2 tie -> 'b'


def test_south_edge_row_radius_knn_nearest(spark):
    """Latitudes at or below -85.0511 project to pixel row 2^z; the
    point cell and every cover clamp that row to 2^z - 1, so a point
    ~2 m from a center at (-89, 0) is found by the radius, kNN and
    nearest joins — not missed, nor beaten by a point 1,000 km away."""
    from geospark.joins import nearest_join_df

    pts = spark.createDataFrame([(0, -89.0, 0.001), (1, -80.0, 0.0)],
                                "point_id long, lat double, lng double")
    centers = _centers_df(spark, [(7, -89.0, 0.0)])
    near = float(NK.distance(-89.0, 0.0, -89.0, 0.001))

    r = radius_join_df(pts, centers, max_m=1000.0).collect()
    assert [(x["query_id"], x["point_id"]) for x in r] == [(7, 0)]
    assert abs(r[0]["dist_m"] - near) < 1e-6
    r = knn_join_df(pts, centers, k=1).collect()
    assert [(x["query_id"], x["point_id"]) for x in r] == [(7, 0)]
    assert abs(r[0]["dist_m"] - near) < 1e-6
    r = nearest_join_df(pts, centers, id_col="point_id").collect()
    assert [(x["query_id"], x["point_id"]) for x in r] == [(7, 0)]
    assert abs(r[0]["dist_m"] - near) < 1e-6


@pytest.mark.parametrize("sign", [1.0, -1.0])
@pytest.mark.parametrize("center,polar", [
    ((84.5, 0.5), (89.99, 44.5)),
    # shares only its z5 cell (lat 83.98..90) with the polar point, so
    # the bound is the distance to that cell's pole-side corners
    ((84.0, 5.625), (89.99, 5.625)),
])
def test_knn_nearest_polar_edge_row(spark, sign, center, polar):
    """A center whose nearest point lies beyond the Mercator limit,
    with a decoy at (0, 0); and the mirror case in the south. The
    bound's cell box must reach the pole (the clamped edge row), or the
    polar point falls outside the radius and the decoy wins or nothing
    is found."""
    from geospark.joins import nearest_join_df

    (c_lat, c_lng), (p_lat, p_lng) = center, polar
    pts = spark.createDataFrame(
        [(1, sign * p_lat, p_lng), (2, 0.0, 0.0)],
        "point_id long, lat double, lng double")
    centers = _centers_df(spark, [(5, sign * c_lat, c_lng)])
    want = float(NK.distance(sign * c_lat, c_lng, sign * p_lat, p_lng))
    for r in (knn_join_df(pts, centers, k=1).collect(),
              nearest_join_df(pts, centers, id_col="point_id").collect()):
        assert [(x["query_id"], x["point_id"]) for x in r] == [(5, 1)]
        assert abs(r[0]["dist_m"] - want) < 1e-6


def test_knn_bound_uses_rounded_row_edges(spark):
    """Cell rows round the pixel y, so z16 row j spans pixel rows
    j - 0.5 .. j + 0.5. A center and its nearest point in the same z16
    cell at opposite ends of that span are farther apart than any two
    points of the unrounded row [j, j + 1]; a bound taken from the
    unrounded box leaves the point out of the radius."""
    from geospark.joins import nearest_join_df

    j, i = 22000, 34000  # a z16 cell, in pixel rows / columns

    def lat_of(v):
        return float(np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * v / 65536.0)))))

    def lng_of(u):
        return u * 360.0 / 65536.0 - 180.0

    c_lat, c_lng = lat_of(j + 0.45), lng_of(i + 0.01)
    p_lat, p_lng = lat_of(j - 0.45), lng_of(i + 0.99)
    pts = spark.createDataFrame([(1, p_lat, p_lng), (2, 0.0, 0.0)],
                                "point_id long, lat double, lng double")
    centers = _centers_df(spark, [(5, c_lat, c_lng)])
    want = float(NK.distance(c_lat, c_lng, p_lat, p_lng))
    for r in (knn_join_df(pts, centers, k=1).collect(),
              nearest_join_df(pts, centers, id_col="point_id").collect()):
        assert [(x["query_id"], x["point_id"]) for x in r] == [(5, 1)]
        assert abs(r[0]["dist_m"] - want) < 1e-6


def test_knn_world_radius_fallback_among_dense_centers(spark):
    """A center near the equator whose z1 cell holds no point takes the
    world radius while dense centers keep the cover zoom fine; its cover
    must still span every longitude, or it finds nothing."""
    from geospark.joins import nearest_join_df

    rows = [(i, 49.8 + (i % 20) * 0.001, 8.6 + (i // 20) * 0.001)
            for i in range(400)]
    pts = spark.createDataFrame(rows, "point_id long, lat double, lng double")
    centers = [(q, 49.8 + q * 0.0005, 8.6) for q in range(20)] + [(99, 0.3, -100.0)]
    lat, lng = np.array([r[1] for r in rows]), np.array([r[2] for r in rows])
    want = {q: int(np.argmin(NK.distance(c_lat, c_lng, lat, lng)))
            for q, c_lat, c_lng in centers}
    cdf = _centers_df(spark, centers)
    for r in (knn_join_df(pts, cdf, k=1).collect(),
              nearest_join_df(pts, cdf, id_col="point_id").collect()):
        assert {x["query_id"]: x["point_id"] for x in r} == want


def test_knn_jobs_do_not_depend_on_density(spark, jobs_in):
    """The kNN bound is one aggregate, not rounds: a dense-city center
    and a mid-ocean center run the same number of Spark jobs, for both
    knn_join_df and nearest_join_df."""
    from geospark.joins import nearest_join_df

    pts = spark.createDataFrame(
        [(i, 49.8 + (i % 20) * 0.001, 8.6 + (i // 20) * 0.001)
         for i in range(400)],
        "point_id long, lat double, lng double")
    dense = _centers_df(spark, [(1, 49.81, 8.61)])
    ocean = _centers_df(spark, [(1, -30.0, -140.0)])
    for join in (lambda c: knn_join_df(pts, c, k=5).collect(),
                 lambda c: nearest_join_df(pts, c, id_col="point_id").collect()):
        jobs = []
        for c in (dense, ocean):
            rows, n = jobs_in(lambda: join(c))
            assert rows and n > 0
            jobs.append(n)
        assert jobs[0] == jobs[1], jobs


def test_cell_ancestors_match_lambda_reference(spark):
    """_cell_ancestors' explode + shiftright rows equal the transform
    lambda's, row for row, at the world's edges (lng +-180, lat +-90,
    the clamped south row) and mid-latitude; and its plan generates the
    rows with no lambda."""
    import contextlib
    import io

    from geospark.joins import _cell_ancestors

    rows = [(0, 0.0, 180.0), (1, 0.0, -180.0), (2, 90.0, 10.0),
            (3, -90.0, -10.0), (4, -85.06, 179.999), (5, 49.8726, 8.6310)]
    df = spark.createDataFrame(rows, "id long, lat double, lng double")
    got = _cell_ancestors(df, "lat", "lng", "id")
    # the reference: one point row per z16 pixel, expanded by the
    # lambda the kNN bound used before
    ref = got.filter("_z = 16").select("id", "_px", "_py", F.expr(
        "inline(transform(sequence(1, 16), z -> named_struct('_z', z,"
        " '_x', shiftright(_px, 16 - z), '_y', shiftright(_py, 16 - z))))"
    ))
    assert got.schema == ref.schema
    have, want = sorted(got.collect()), sorted(ref.collect())
    assert have == want and len(have) == 16 * len(rows)
    px = {r["id"]: (r["_px"], r["_py"]) for r in have if r["_z"] == 16}
    assert px[0][0] == px[1][0] == 0  # lng 180 wraps to -180
    assert px[2][1] == 0 and px[3][1] == px[4][1] == (1 << 16) - 1
    assert all(r["_x"] < (1 << r["_z"]) and r["_y"] < (1 << r["_z"]) for r in have)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("extended")
    plan = buf.getvalue()
    assert "Generate" in plan and "lambdafunction" not in plan, plan


def test_linear_cell_clamps_south_row_like_covers(spark):
    """cells.with_linear_cell_at_zoom and joins.cell_tile_of_latlng
    agree on the clamped south row, in the <=16 and >16 branches."""
    from geospark.cells import with_linear_cell_at_zoom
    from geospark.joins import cell_tile_of_latlng

    lats = [-90.0, -89.0, -85.0511287798, -85.05, 0.0, 85.0511287798, 90.0]
    df = spark.createDataFrame([(la, 0.5) for la in lats], "lat double, lng double")
    for z in (0, 4, 12, 16, 18):
        got = [r["c"] for r in with_linear_cell_at_zoom(df, z, col="c")
               .select("c").collect()]
        tx, ty = cell_tile_of_latlng(np.array(lats), np.full(len(lats), 0.5), z)
        assert ty.max() <= (1 << z) - 1, z
        assert got == [int(y) * (1 << z) + int(x) for x, y in zip(tx, ty)], z
