"""Toponym resolution (forward geocoding) — the geoparsing step that
turns NAMED geo-entity mentions into gazetteer places.

The pipeline's extractor (geospark/extract.py) handles coordinate
mentions; real web text mostly carries place NAMES, and a name is
ambiguous (a real gazetteer has ~30 "Springfield"s). The standard
resolver (population prior × distance-to-context, cf. the Leidner /
Edinburgh geoparser line of work) is a pure filter-refine join:

  mentions(mention_id, name, lat, lng)      -- context coords
    ⋈ gazetteer(gaz_id, name, g_lat, g_lng, population) ON name
  -> per-candidate score -> per-mention argmax.

Plan shape (the 10^12-mention story):
  - the gazetteer is a DIMENSION (GeoNames is ~13M rows, ~10s of MB
    per column): ``broadcast_gazetteer=True`` (default) makes the
    candidate step a map-side broadcast hash join — zero shuffle of
    the mention relation. For an over-broadcast-budget gazetteer,
    pass False: a plain equi-join on ``name`` (both sides shuffle on
    the name hash; name skew — "San Jose" — is bounded by per-name
    candidate counts, not mention counts, so no salting is needed).
  - the argmax is a partial-aggregatable ``min(struct(...))`` keyed
    by mention: the exchange carries one candidate-minimum per
    (mention, map partition), never the raw candidate relation (the
    map_match lesson, joins.py).

Scoring is INTEGER-exact so Spark and any SQL oracle agree bit for
bit: dist_m = floor(haversine) BIGINT, and

  score = population * 100_000_000  div  (100_000 + dist_m)

i.e. a population prior damped by context distance with a 100 km
half-scale — monotone up in population, down in distance, and pure
BIGINT arithmetic end to end (pop <= ~9e6 keeps the product < 2^63).
Ties break on the smaller gaz_id via the struct order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geospark.functions import kernels as K

# score = population * SCORE_NUM div (SCORE_OFF + dist_m)
SCORE_NUM = 100_000_000
SCORE_OFF = 100_000  # meters: the distance damping half-scale


def gazetteer(spark: SparkSession, n_names: int = 500,
              per_name: int = 3) -> DataFrame:
    """Deterministic ambiguous gazetteer dim: ``per_name`` places for
    each of ``n_names`` names (gaz_id g carries name ``place_{g %
    n_names}``), hash-scattered coordinates, population in
    [1000, 9_001_000). A pure function of (n_names, per_name) — the
    SQL twin is :func:`gazetteer_sql`."""
    n = n_names * per_name
    g = F.col("id")
    return spark.range(n).select(
        g.alias("gaz_id"),
        F.concat(F.lit("place_"), (g % n_names).cast("string")).alias("name"),
        (((g * 4799) % 16000) / 100.0 - 80.0).alias("g_lat"),
        (((g * 9973) % 36000) / 100.0 - 180.0).alias("g_lng"),
        (1000 + (g * 331) % 9_000_000).alias("population"),
    )


def gazetteer_sql(n_names: int = 500, per_name: int = 3) -> str:
    """ANSI-SQL twin of :func:`gazetteer` (DuckDB ``range``)."""
    n = n_names * per_name
    return f"""
        SELECT id AS gaz_id,
               'place_' || CAST(id % {n_names} AS VARCHAR) AS name,
               ((id * 4799) % 16000) / 100.0 - 80.0 AS g_lat,
               ((id * 9973) % 36000) / 100.0 - 180.0 AS g_lng,
               1000 + (id * 331) % 9000000 AS population
        FROM range({n}) t(id)
    """


def score_expr(population, dist_m) -> F.Column:
    """Integer-exact candidate score (see module docstring)."""
    return F.expr(
        f"({population} * CAST({SCORE_NUM} AS BIGINT)) div "
        f"(CAST({SCORE_OFF} AS BIGINT) + {dist_m})"
    )


def resolve_mentions(mentions: DataFrame, gaz: DataFrame,
                     mention_id: str = "mention_id",
                     lat: str = "lat", lng: str = "lng",
                     broadcast_gazetteer: bool = True) -> DataFrame:
    """Resolve each named mention to its best gazetteer candidate.

    ``mentions``: (mention_id, name, lat, lng) — context coordinates
    (e.g. the page's coordinate mentions, or a prior resolution).
    ``gaz``: :func:`gazetteer` schema. Returns one row per mention
    that has >=1 candidate: (mention_id, gaz_id, r_lat, r_lng,
    population, dist_m, score).
    """
    g = F.broadcast(gaz) if broadcast_gazetteer else gaz
    cand = mentions.join(g, "name")
    cand = cand.withColumn(
        "_dist_m",
        F.floor(K.distance(F.col(lat), F.col(lng),
                           F.col("g_lat"), F.col("g_lng"))).cast("long"),
    ).withColumn("_score", score_expr("population", "_dist_m"))
    # argmax by (score desc, gaz_id asc): min of a struct whose first
    # field is the negated BIGINT score — partial-aggregatable, so the
    # mention exchange moves per-partition minima only
    best = F.min(F.struct(
        (-F.col("_score")).alias("neg_score"),
        F.col("gaz_id").alias("gaz_id"),
        F.col("g_lat").alias("r_lat"),
        F.col("g_lng").alias("r_lng"),
        F.col("population").alias("population"),
        F.col("_dist_m").alias("dist_m"),
    )).alias("_b")
    return (
        cand.groupBy(F.col(mention_id).alias("mention_id"))
        .agg(best)
        .select(
            "mention_id",
            F.col("_b.gaz_id").alias("gaz_id"),
            F.col("_b.r_lat").alias("r_lat"),
            F.col("_b.r_lng").alias("r_lng"),
            F.col("_b.population").alias("population"),
            F.col("_b.dist_m").alias("dist_m"),
            (-F.col("_b.neg_score")).alias("score"),
        )
    )


def reverse_geocode(points: DataFrame, gaz: DataFrame,
                    id_col: str = "point_id",
                    lat: str = "lat", lng: str = "lng",
                    broadcast_attrs: bool = True) -> DataFrame:
    """Reverse geocoding — the inverse of :func:`resolve_mentions`:
    nearest gazetteer place per UNNAMED point (exact haversine argmin,
    ties -> lowest gaz_id). The "which city is this page's coordinate
    in" step when a mention carries no usable name.

    Plan: the windowless k=1 join (joins.nearest_join_df) with the
    gazetteer as the indexed point set and the input points as
    centers. Each point's search radius comes from one count of places
    per cell (the finest cell around it holding a place), so candidates
    stay proportional to local place density with no zoom rounds, and
    the final argmin is a partial-aggregatable min (no exchange carries
    raw candidates). Attributes rejoin on gaz_id — broadcast by default
    (a gazetteer is a dimension), hash join when
    ``broadcast_attrs=False`` (10M+ POI sets).

    Returns (id_col, gaz_id, name, population, dist_floor_m)."""
    from geospark.joins import nearest_join_df

    gpts = gaz.select("gaz_id", "g_lat", "g_lng")
    centers = points.select(
        F.col(id_col).alias("query_id"),
        F.col(lat).alias("q_lat"),
        F.col(lng).alias("q_lng"),
    )
    nn = nearest_join_df(
        gpts, centers, lat="g_lat", lng="g_lng",
        id_col="gaz_id",
    ).select(
        F.col("query_id").alias(id_col),
        "gaz_id",
        F.floor("dist_m").cast("long").alias("dist_floor_m"),
    )
    attrs = gaz.select("gaz_id", "name", "population")
    attrs = F.broadcast(attrs) if broadcast_attrs else attrs
    return nn.join(attrs, "gaz_id").select(
        id_col, "gaz_id", "name", "population", "dist_floor_m"
    )
