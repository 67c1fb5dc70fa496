"""Toponym resolution (geospark/geocode.py): hand-computed scoring
semantics, tie-break, python-twin parity, and the plan shape
(broadcast dim + map-side partial argmin, no Python in the plan)."""

import math

from pyspark.sql import functions as F

from geospark.functions import kernels as K
from geospark.geocode import (
    SCORE_NUM, SCORE_OFF, gazetteer, resolve_mentions, reverse_geocode,
)


def _hav_m(lat1, lng1, lat2, lng2):
    """Plain-python twin of kernels.distance (same constants)."""
    r1, r2 = math.radians(lat1), math.radians(lat2)
    dphi = math.radians(lat2 - lat1)
    dlmb = math.radians(lng2 - lng1)
    a = (math.sin(dphi / 2.0) ** 2
         + math.cos(r1) * math.cos(r2) * math.sin(dlmb / 2.0) ** 2)
    return 2.0 * K.EARTH_RADIUS_M * math.asin(min(1.0, math.sqrt(a)))


def _score(pop, dist_m):
    return (pop * SCORE_NUM) // (SCORE_OFF + dist_m)


def test_resolve_hand_fixture(spark):
    """A nearby village must beat a distant metropolis until the
    population ratio overwhelms the distance damping — both regimes
    pinned, plus the gaz_id tie-break on equal scores."""
    gaz = spark.createDataFrame(
        [
            # name, two candidates each
            (0, "springfield", 10.0, 10.0, 500_000),      # town next door
            (1, "springfield", 30.0, 30.0, 8_000_000),    # metro ~3000 km away
            (2, "duo", 0.0, 0.0, 1_000),                  # identical twins:
            (3, "duo", 0.0, 0.0, 1_000),                  # tie -> min gaz_id
        ],
        "gaz_id long, name string, g_lat double, g_lng double, population long",
    )
    mentions = spark.createDataFrame(
        [(100, "springfield", 10.1, 10.1),   # context at the village
         (101, "duo", 5.0, 5.0)],
        "mention_id long, name string, lat double, lng double",
    )
    out = {r["mention_id"]: r for r in
           resolve_mentions(mentions, gaz).collect()}

    # expected winner via the python twin
    d_village = int(_hav_m(10.1, 10.1, 10.0, 10.0))
    d_metro = int(_hav_m(10.1, 10.1, 30.0, 30.0))
    assert _score(500_000, d_village) > _score(8_000_000, d_metro)
    assert out[100]["gaz_id"] == 0
    assert out[100]["dist_m"] == d_village
    assert out[100]["score"] == _score(500_000, d_village)

    # exact tie (same coords, same population) -> smaller gaz_id
    assert out[101]["gaz_id"] == 2

    # metropolis wins once the context moves next to it
    m2 = spark.createDataFrame(
        [(102, "springfield", 29.9, 29.9)],
        "mention_id long, name string, lat double, lng double",
    )
    (row,) = resolve_mentions(m2, gaz).collect()
    assert row["gaz_id"] == 1 and row["population"] == 8_000_000


def test_resolve_matches_python_twin(spark):
    """Full parity on 300 synthetic mentions vs a brute-force python
    resolver over the deterministic gazetteer."""
    n_names, per_name = 20, 3
    gaz = gazetteer(spark, n_names, per_name)
    grows = {r["gaz_id"]: r for r in gaz.collect()}

    ments = [(i, f"place_{i % n_names}",
              ((i * 7919) % 16000) / 100.0 - 80.0,
              ((i * 104729) % 36000) / 100.0 - 180.0)
             for i in range(300)]
    mdf = spark.createDataFrame(
        ments, "mention_id long, name string, lat double, lng double")

    expected = {}
    for mid, name, lat, lng in ments:
        best = None
        for g in grows.values():
            if g["name"] != name:
                continue
            d = int(_hav_m(lat, lng, g["g_lat"], g["g_lng"]))
            s = _score(g["population"], d)
            key = (-s, g["gaz_id"])
            if best is None or key < best[0]:
                best = (key, g["gaz_id"], d, s)
        expected[mid] = best

    out = resolve_mentions(mdf, gaz).collect()
    assert len(out) == 300
    for r in out:
        _, gid, d, s = expected[r["mention_id"]]
        assert (r["gaz_id"], r["dist_m"], r["score"]) == (gid, d, s)


def test_resolve_plan_shape(spark):
    """Broadcast gazetteer + MAP-SIDE partial min-struct argmin (the
    exchange carries per-partition minima, not raw candidates), and
    zero Python in the plan; the non-broadcast path stays a plain
    equi-join (no nested-loop blowup)."""
    gaz = gazetteer(spark, 50, 3)
    mdf = spark.range(1000).select(
        F.col("id").alias("mention_id"),
        F.concat(F.lit("place_"), (F.col("id") % 50).cast("string"))
        .alias("name"),
        (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        (F.col("id") % 360 - 180.0).cast("double").alias("lng"),
    )
    plan = resolve_mentions(mdf, gaz)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan2 = resolve_mentions(mdf, gaz, broadcast_gazetteer=False) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan2
    assert "BroadcastNestedLoopJoin" not in plan2
    # both paths resolve identically
    a = sorted(map(tuple, resolve_mentions(mdf, gaz).collect()))
    b = sorted(map(tuple, resolve_mentions(
        mdf, gaz, broadcast_gazetteer=False).collect()))
    assert a == b


def test_reverse_geocode_matches_brute_force(spark):
    """reverse_geocode (windowless kNN k=1) vs a plain-python
    brute-force nearest-place argmin over the full gazetteer —
    exact gaz_id + floor-meter distance per point, every point
    resolved exactly once."""
    gaz = gazetteer(spark, 40, 2)                     # 80 places
    grows = gaz.collect()

    pts = [(i,
            ((i * 6607) % 15000) / 100.0 - 75.0,
            ((i * 31337) % 36000) / 100.0 - 180.0)
           for i in range(150)]
    pdf = spark.createDataFrame(
        pts, "point_id long, lat double, lng double")

    expected = {}
    for pid, lat, lng in pts:
        best = None
        for g in grows:
            d = _hav_m(lat, lng, g["g_lat"], g["g_lng"])
            key = (d, g["gaz_id"])
            if best is None or key < best[0]:
                best = (key, g["gaz_id"], int(d))
        expected[pid] = best

    out = reverse_geocode(pdf, gaz).collect()
    assert len(out) == 150
    for r in out:
        _, gid, d = expected[r["point_id"]]
        assert (r["gaz_id"], r["dist_floor_m"]) == (gid, d)
