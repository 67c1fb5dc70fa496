"""One bench harness: a table of suites, one timing loop, one
host-sized session (``geospark.session.get_spark``).

    python bench.py [suite] [--only op,op] [--scale F]

Suites:

- ``registry`` (the default): every ``__spark_entry__.queries()``
  entry written to the noop sink, ``$GEOSPARK_BENCH_PASSES`` passes
  (default 2) keeping the per-query min, then the flagship pipeline.
  The last stdout line is the summary ``{metric, value, unit, queries,
  sf, pipeline_pages, pages_per_sec, cpus}``. To compare two revisions,
  run ``bench.py registry --only q1,q2`` from a checkout of each.
- ``pipeline``: the flagship pipeline alone (``$GEOSPARK_BENCH_PAGES``
  pages, default 2M).
- ``scaling``: the pipeline at local[N] and local[4N], N = cores // 4,
  one subprocess per config, best of two interleaved reps, bracketed by
  the host's own CPU / memory-bandwidth ceiling probes.
- ``points``, ``documents``, ``embeddings``, ``graph``, ``stream``,
  ``urls``, ``training``: operator-scale suites, each a list of timed
  ops over one synthetic input. ``--scale`` multiplies the input's base
  size; the default is physical memory / 128 GiB, because the base
  sizes were chosen on a 128 GiB host.

Every op appends one JSON record (run id, git sha, host, suite, op,
input rows, rows out, wall_s and the op's own fields) to
``bench_runs.jsonl`` and prints it. ``$SPARK_GRAFT_SF_DIR`` is the
registry's input and ``$SPARK_GRAFT_CPUS`` overrides the session's cores.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from geospark.session import get_spark, host  # noqa: E402

RUNS = REPO / "bench_runs.jsonl"
TMP = tempfile.gettempdir()
SCALING_REPS = 2
DIM = 64

# 2M pages: large enough that the timed pass measures steady-state
# throughput (the 200k default was fixed-overhead-dominated — 164k
# pages/sec reported vs 3.5M pages/sec measured at 60M pages; see
# BENCH.md scaling runs), small enough to keep bench wall bounded.
N_PIPELINE_PAGES = int(os.environ.get("GEOSPARK_BENCH_PAGES", "2000000"))
# the registry's input: by default the sf0.1 tables beside E.SF0001
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        str(Path(E.SF0001).parent / "sf0.1"))


# ---------------------------------------------------------------------------
# the one loop
# ---------------------------------------------------------------------------
def run_context() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True).stdout.strip()
    except OSError:
        sha = ""
    cores, mem = host()
    return {"run_id": uuid.uuid4().hex[:12], "git_sha": sha or None,
            "host_cpus": cores, "host_mem_gb": round(mem / 2**30, 1)}


def emit(rec: dict, sink: Path) -> None:
    line = json.dumps(rec, default=str)
    print(line, flush=True)
    with open(sink, "a") as f:
        f.write(line + "\n")


def codegen_totals(spark) -> tuple[int, float]:
    """(classes compiled, compile seconds) since this JVM started, from
    Spark's own codegen counters. They are JVM-wide: in local mode they
    count executor compiles too, and ops in other threads as well."""
    jvm = spark._jvm
    return (jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount(),
            jvm.org.apache.spark.sql.catalyst.expressions.codegen
            .CodeGenerator.compileTime() / 1e9)


def run_suite(spark, suite: str, scale: float = 1.0, only=(), passes: int = 1,
              ctx: dict | None = None, sink: Path = RUNS) -> list[dict]:
    """Build ``suite``'s input once, then run ``passes`` passes over its
    selected ops and emit one record per op with its min wall and the
    classes its last pass compiled (``codegen_compiles``,
    ``codegen_compile_s``). An op that raises is recorded with its
    ``error`` and the loop goes on."""
    build, ops = SUITES[suite]
    ops = [(name, fn) for name, fn in ops if not only or name in only]
    if not ops:
        return []
    ctx = ctx or run_context()
    inp = build(spark, scale)
    walls = {name: [] for name, _ in ops}
    extras, errors, codegen, records = {}, {}, {}, []
    for p in range(passes):
        for name, fn in ops:
            if name not in errors:
                # drop the previous op's spooled relations BEFORE timing:
                # the py4j references pin localCheckpoint blocks until
                # Python GC runs, and a session-long pile-up thrashes
                # executor storage (bpe_encode_5m 511s polluted vs 25s
                # isolated)
                gc.collect()
                spark._jvm.System.gc()
                n0, s0 = codegen_totals(spark)
                t0 = time.time()
                try:
                    out = fn(inp)
                    walls[name].append(round(time.time() - t0, 3))
                    extras[name] = (dict(out) if isinstance(out, dict)
                                    else {"rows_out": out})
                    print(f"  {suite}[{p}] {name}: {walls[name][-1]}s",
                          file=sys.stderr, flush=True)
                except Exception:
                    errors[name] = traceback.format_exc()
                n1, s1 = codegen_totals(spark)
                codegen[name] = {"codegen_compiles": n1 - n0,
                                 "codegen_compile_s": round(s1 - s0, 3)}
            if p < passes - 1:
                continue
            extra = extras.get(name, {})
            rec = {**ctx, "suite": suite, "op": name,
                   "input_rows": extra.pop("input_rows", inp["n"]),
                   "rows_out": extra.pop("rows_out", None),
                   "wall_s": min(walls[name], default=None),
                   **codegen[name], **extra}
            if passes > 1:
                rec["passes_s"] = walls[name]
            if name in errors:
                rec["error"] = errors[name]
            emit(rec, sink)
            records.append(rec)
    return records


def _n(base: int, scale: float) -> int:
    return max(1, int(base * scale))


def _cached(spark, path: str, make):
    """The parquet at ``path``, written from ``make()`` first if absent
    (input synthesis is set-up, not part of any timed op)."""
    if not os.path.exists(f"{path}/_SUCCESS"):
        make().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _parts(spark) -> int:
    return spark.sparkContext.defaultParallelism


def _counts(df, **aggs) -> dict:
    """One aggregation pass; every result as a plain int."""
    r = df.agg(*[c.alias(k) for k, c in aggs.items()]).collect()[0]
    return {k: int(r[k]) for k in aggs}


# ---------------------------------------------------------------------------
# registry + flagship pipeline
# ---------------------------------------------------------------------------
def _registry_input(spark, scale):
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # spawn every executor thread's Python worker once before timing
    # (steady-state measurement — worker startup is a per-executor
    # one-off on a real cluster)
    cpus = _parts(spark)
    warm = pandas_udf(lambda x: x, "double", PandasUDFType.SCALAR)
    spark.range(0, cpus * 4, numPartitions=cpus).select(
        warm(F.col("id").cast("double"))).count()
    return {"spark": spark, "n": None}


def _registry_ops():
    def op(fn):
        def timed(inp):
            fn(inp["spark"], SF_DIR).write.format("noop").mode(
                "overwrite").save()
        return timed

    return [(name, op(fn)) for name, fn in E.queries().items()]


def _pages(spark, n_pages: int):
    from geospark.pages import synth_pages

    return _cached(spark, f"{TMP}/geospark_bench_pages_{n_pages}",
                   lambda: synth_pages(spark, n_pages))


def _pipeline_df(pages):
    from geospark import geodata as G
    from geospark.cells import with_tile
    from geospark.extract import extract_points
    from geospark.joins import pip_join

    hits = pip_join(extract_points(pages), G.demo_layer())
    return (
        with_tile(hits, 8)
        .groupBy("area_id", "tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )


def _pipeline_input(spark, scale):
    # read pages from a TABLE (synthesis is not the measured path), and
    # run the pipeline once untimed so every executor thread's Python
    # worker is already spawned — the steady state a long job sees
    pages = _pages(spark, N_PIPELINE_PAGES)
    _pipeline_df(pages).count()
    return {"spark": spark, "n": N_PIPELINE_PAGES, "pages": pages}


# ---------------------------------------------------------------------------
# points: extracted city-skewed points (8M pages at scale 1)
# ---------------------------------------------------------------------------
def _points_input(spark, scale):
    from geospark.extract import extract_points

    n_pages = _n(8_000_000, scale)
    pages = _pages(spark, n_pages)
    points = _cached(
        spark, f"{TMP}/geospark_stress_points_{n_pages}",
        lambda: extract_points(pages).withColumn(
            "point_uid", F.monotonically_increasing_id()),
    ).select(F.col("point_uid").alias("point_id"), "lat", "lng")
    # 50k query centers against the full point table
    centers = points.filter(F.col("point_id") % 997 == 0).select(
        F.col("point_id").alias("query_id"),
        F.col("lat").alias("q_lat"), F.col("lng").alias("q_lng"),
    ).limit(50_000)
    return {"spark": spark, "n": points.count(), "points": points,
            "centers": centers}


def _s2_cell_join(inp):
    # 50k single-level query cells: containment at a FIXED level is
    # equality of the level-12 ancestor, so the scalable plan is a
    # broadcast EQUI-join on the re-leveled id (a 50k-interval nested
    # loop would be the wrong plan at this scale)
    from geospark.functions import s2cell as S2

    spark, points = inp["spark"], inp["points"]
    c = inp["centers"].limit(50_000).toPandas()
    cells = S2.s2_cell_np(c["q_lat"].to_numpy(), c["q_lng"].to_numpy(), 12)
    cdf = spark.createDataFrame(
        list(zip(c["query_id"].tolist(), S2.as_int64(cells).tolist())),
        "query_id long, cell12 long",
    ).dropDuplicates(["cell12"])
    df = points.withColumn("leaf", S2.s2_cell_udf(30)("lat", "lng"))
    return (df.withColumn("cell12", S2.s2_parent_col("leaf", 12))
            .join(F.broadcast(cdf), "cell12")
            .groupBy("query_id").count().count())


def _s2_radius(inp):
    # mixed-level cap covers for 1k centers -> ancestor-at-level
    # broadcast EQUI-join -> exact haversine refine
    from geospark.functions import s2cell as S2

    c = inp["centers"].limit(1_000).toPandas()
    cs = list(zip(c["query_id"].tolist(), c["q_lat"].tolist(),
                  c["q_lng"].tolist()))
    df = inp["points"].withColumn("leaf", S2.s2_cell_udf(30)("lat", "lng"))
    return S2.s2_radius_join(df, cs, max_m=2000.0).count()


def _s2_encode_agg(inp):
    # Arrow-batched leaf encode + JVM re-level + count per level-8 cell
    from geospark.functions import s2cell as S2

    df = inp["points"].withColumn("leaf", S2.s2_cell_udf(30)("lat", "lng"))
    return (df.withColumn("cell", S2.s2_parent_col("leaf", 8))
            .groupBy("cell").count().count())


def _cluster(inp):
    # integrity at scale: every point labeled exactly once (duplicate
    # point_id rows were the symptom of the zoom>16 region bug)
    from geospark.cluster import cluster_nearby

    r = _counts(cluster_nearby(inp["points"], 10.0),
                rows=F.count("*"), pids=F.count_distinct("point_id"),
                clusters=F.count_distinct("cluster_id"))
    assert r["rows"] == r["pids"] == inp["n"], (r, inp["n"])
    return r["clusters"]


def _segments(points):
    # 12M segments at scale 1: points spatially sorted within hash
    # buckets -> realistic short legs + inter-city jumps
    from pyspark.sql import Window

    from geospark.cells import with_cell_at_zoom

    w = Window.partitionBy(
        F.pmod(F.hash("point_id"), F.lit(1024))
    ).orderBy("cell", "point_id")
    return (
        with_cell_at_zoom(points, 12)
        .withColumn("lat0", F.lag("lat").over(w))
        .withColumn("lng0", F.lag("lng").over(w))
        .filter(F.col("lat0").isNotNull())
        .select("lat0", "lng0", F.col("lat").alias("lat1"),
                F.col("lng").alias("lng1"))
    )


def _supercover(inp):
    # vector->raster: output-linear explode is the claim under test
    from geospark.cells import segment_tile_cover

    return (segment_tile_cover(_segments(inp["points"]), 12)
            .groupBy("tile_x", "tile_y").count().count())


def _map_match(inp):
    # the point table becomes the road network (one deterministic
    # <=~450 m link per point) and 1-in-10 points, nudged ~40 m off
    # their link, are the probes: refine touches only cover-bounded
    # candidates, not probes x segments
    from geospark.joins import match_points_to_segments

    points = inp["points"]
    dlat = ((F.col("point_id") * 131) % 800) / 100000.0 - 0.004
    dlng = ((F.col("point_id") * 137) % 800) / 100000.0 - 0.004
    seg = points.select(
        (F.col("point_id") % 1_000_003).alias("line_id"),
        # point_uid is monotonically_increasing (partition<<33 —
        # exceeds int), and ANSI cast would throw on overflow
        F.pmod(F.col("point_id"), F.lit(1 << 31)).cast("int")
        .alias("seg_idx"),
        F.col("lat").alias("f_lat"), F.col("lng").alias("f_lng"),
        (F.col("lat") + dlat).alias("t_lat"),
        F.greatest(F.col("lng") + dlng, F.lit(-180.0)).alias("t_lng"),
    )
    probes = points.filter(F.col("point_id") % 10 == 0).select(
        F.col("point_id"),
        (F.col("lat") + F.lit(0.0003)).alias("lat"),
        (F.col("lng") - F.lit(0.0002)).alias("lng"),
    )
    return match_points_to_segments(probes, seg, 250.0).count()


def _vectorize(inp):
    # rectangle-decompose the z12 supercover; conservation must hold
    # (sum n_tiles == input tiles)
    from pyspark import StorageLevel

    from geospark.cells import segment_tile_cover
    from geospark.raster import vectorize_tiles

    tiles = (
        segment_tile_cover(_segments(inp["points"]), 12)
        .select(F.lit(1).alias("area_id"), "tile_x", "tile_y")
        .distinct()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_tiles = tiles.count()
    agg = _counts(vectorize_tiles(tiles), rects=F.count("*"),
                  tiles=F.sum("n_tiles"))
    tiles.unpersist()
    assert agg["tiles"] == n_tiles, (agg["tiles"], n_tiles)
    return agg["rects"]


def _diamonds(points, zoom: int, d: float, limit: int):
    from geospark.cells import with_cell_at_zoom

    cells = (
        with_cell_at_zoom(points, zoom).groupBy("cell")
        .agg(F.avg("lat").alias("clat"), F.avg("lng").alias("clng"))
        .limit(limit)
    )
    ring = F.array(
        F.struct((F.col("clat") + d).alias("lat"), F.col("clng").alias("lng")),
        F.struct(F.col("clat").alias("lat"), (F.col("clng") + d).alias("lng")),
        F.struct((F.col("clat") - d).alias("lat"), F.col("clng").alias("lng")),
        F.struct(F.col("clat").alias("lat"), (F.col("clng") - d).alias("lng")),
    )
    return cells.select(F.col("cell").alias("area_id"), ring.alias("ring"))


def _poly_raster(inp):
    # 100k diamonds (~2x2 tiles each at z12) + one continental pentagon
    # at z11 — cost must track perimeter+area, not bbox
    from geospark.raster import polygon_tile_cover

    small = polygon_tile_cover(_diamonds(inp["points"], 8, 0.2, 100_000),
                               12).count()
    continent = inp["spark"].createDataFrame(
        [(1, [(20.1, -20.2), (60.3, -15.4), (65.5, 25.6),
              (45.7, 30.8), (22.9, 15.1)])],
        "area_id long, ring array<struct<lat: double, lng: double>>",
    )
    return small + polygon_tile_cover(continent, 11).count()


def _poly_overlap(inp):
    # 100k city-skewed diamonds against 20k coarser ones — hot-city
    # tiles stress the candidate cover join
    from geospark.joins import polygon_overlap_join

    a = _diamonds(inp["points"], 8, 0.2, 100_000)
    b = _diamonds(inp["points"], 6, 1.0, 20_000)
    return polygon_overlap_join(a, b, zoom=10).count()


def _density(inp):
    from geospark.density import density_classify

    r = density_classify(inp["points"], 10.0, 3).groupBy("label").agg(
        F.count("*").alias("n")).collect()
    d = {row["label"]: row["n"] for row in r}
    assert sum(d.values()) == inp["n"], d
    return d.get("core", 0)


def _geohash(inp):
    # the encode is one narrow codegen map: no Python, no shuffle
    # before the rollup agg
    from geospark.functions import geohash as GH

    d = GH.with_geohash(inp["points"], "lat", "lng", 6, out="gh")
    return d.groupBy(F.substring("gh", 1, 2).alias("p")).count().count()


def _hll(inp):
    # ~2M distinct users over 3-char geohash cells at scale 1, p=12: the
    # sketch caps the second shuffle at cells x 4096 rows
    from geospark import sketch as SK
    from geospark.functions import geohash as GH

    ev = GH.with_geohash(inp["points"], "lat", "lng", 3, out="gh").select(
        "gh", (F.col("point_id") % 2_000_003).alias("user_id"))
    est = SK.hll_sketch(ev, ["gh"], "user_id", p=12)
    r = est.agg(
        F.count("*").alias("cells"),
        F.avg(F.abs(F.col("est_users") - F.col("exact_users"))
              / F.greatest("exact_users", F.lit(1))).alias("err"),
    ).collect()[0]
    assert r["err"] < 0.05, r["err"]  # ~3 sigma at p=12
    return r["cells"]


def _wsample(inp):
    # TakeOrderedAndProject (per-partition heaps), not a global sort
    from geospark.textops import weighted_sample

    w = inp["points"].withColumn(
        "weight", (F.col("point_id") % 997 + 1).cast("long"))
    return weighted_sample(
        w, 10_000, id_col="point_id", weight_col="weight").count()


def _traj_events(points):
    # shared (user, ts) trajectory view: 100k users, deterministic
    # 30-day timestamps
    return points.select(
        F.col("point_id").alias("event_id"),
        (F.col("point_id") % 100_000).alias("user_id"),
        F.expr("timestamp_micros(pmod(xxhash64(point_id), "
               "2592000000000))").alias("ts"),
        "lat", "lng",
    )


def _hull_area(inp):
    # hull -> ring_shoelace: 100k per-user hulls, exact signed area
    from geospark.hull import convex_hull
    from geospark.lines import ring_shoelace

    hull = convex_hull(inp["points"].select(
        (F.col("point_id") % 100_000).alias("user_id"), "lat", "lng"))
    return ring_shoelace(
        hull.select(
            "user_id", F.col("hull_idx").alias("vtx_idx"),
            (F.col("h_lat7") / 1e7).alias("lat"),
            (F.col("h_lng7") / 1e7).alias("lng")),
        ["user_id"], order="vtx_idx").count()


_REF40 = [(50.0 + 0.02 * i, 8.0 + 0.03 * i) for i in range(40)]


# id-derived grid points (uniform over lat [-80, 80), lng [-180, 180))
def _grid_lat(c):
    return ((c * 7919) % 16000) / 100.0 - 80.0


def _grid_lng(c):
    return ((c * 104729) % 36000) / 100.0 - 180.0


def _grid_links(spark, n):
    # one ~400 m link per 4th id, co-located with its probe
    c = F.col("id")
    return spark.range(n).filter(c % 4 == 0).select(
        (c / 4).cast("long").alias("line_id"), F.lit(0).alias("seg_idx"),
        _grid_lat(c).alias("f_lat"), _grid_lng(c).alias("f_lng"),
        (_grid_lat(c) + 0.003).alias("t_lat"),
        (_grid_lng(c) + 0.002).alias("t_lng"),
    )


def _geocode(inp):
    # n mentions over a 450k-row ambiguous gazetteer (150k names x 3
    # candidates); the gazetteer broadcasts, the only mention shuffle
    # is the partial-argmin minima
    from geospark.geocode import gazetteer, resolve_mentions

    spark, c, n_names = inp["spark"], F.col("id"), 150_000
    mentions = spark.range(inp["n"]).select(
        c.alias("mention_id"),
        F.concat(F.lit("place_"), (c % n_names).cast("string")).alias("name"),
        _grid_lat(c).alias("lat"), _grid_lng(c).alias("lng"),
    )
    res = resolve_mentions(mentions, gazetteer(spark, n_names, 3))
    return _counts(res, n_resolved=F.count("*"),
                   n_places=F.countDistinct("gaz_id"))


def _revgeo(inp):
    # nearest of 450k places per point via the windowless kNN k=1 join
    from geospark.geocode import gazetteer, reverse_geocode

    spark, c = inp["spark"], F.col("id")
    pts = spark.range(inp["n"]).select(
        c.alias("point_id"), _grid_lat(c).alias("lat"),
        _grid_lng(c).alias("lng"))
    res = reverse_geocode(pts, gazetteer(spark, 150_000, 3))
    return _counts(res, n_resolved=F.count("*"),
                   n_places_hit=F.countDistinct("gaz_id"))


def _corridor(inp):
    # per-(point, line) variant of the map-match plan: multi-zoom cover
    # + exact refine + partial min-struct per pair, 500 m corridor
    from geospark.joins import corridor_join

    spark, c = inp["spark"], F.col("id")
    pts = spark.range(inp["n"]).select(
        c.alias("point_id"), (_grid_lat(c) + 0.0003).alias("lat"),
        (_grid_lng(c) - 0.0002).alias("lng"))
    out = corridor_join(pts, _grid_links(spark, inp["n"]), 500.0)
    return _counts(out, n_pairs=F.count("*"),
                   n_probes_hit=F.countDistinct("point_id"))


def _idw(inp):
    # samples onto the z8 tile-center grid of the demo box (~1.5k
    # targets broadcast), 100 km inverse-square radius
    from geospark.functions import numpy_kernels as NK
    from geospark.raster import idw_interpolate

    spark, c = inp["spark"], F.col("id")
    lat_min, lng_min, lat_max, lng_max = 10.0, -20.0, 60.0, 40.0
    z, ts = 8, 4096
    px1, py1 = NK.latlng_to_pixel(lat_max, lng_min, z, ts)
    px2, py2 = NK.latlng_to_pixel(lat_min, lng_max, z, ts)
    res = NK.resolution(z, ts)
    msz = NK.map_size(z, ts)
    targets = []
    for ty in range(int(py1) // ts, int(py2) // ts + 1):
        for tx in range(int(px1) // ts, int(px2) // ts + 1):
            mx = (tx + 0.5) * ts * res - NK.MERC_ORIGIN_SHIFT
            my = (msz - (ty + 0.5) * ts) * res - NK.MERC_ORIGIN_SHIFT
            la, ln = NK.merc_to_latlng(mx, my)
            targets.append(((tx << 32) | ty, float(la), float(ln)))
    centers = spark.createDataFrame(
        targets, "query_id long, q_lat double, q_lng double")
    pts = spark.range(inp["n"]).select(
        c.alias("point_id"), _grid_lat(c).alias("lat"),
        _grid_lng(c).alias("lng"), ((c % 49000) / 100.0).alias("value"))
    out = idw_interpolate(pts, centers, 100_000.0)
    return _counts(out, n_tiles=F.count("*"), n_pairs=F.sum("n_samples"))


def _hmm(inp):
    # Viterbi map matching: 100-point trajectories against the corridor
    # network, k=3 candidates, one Arrow kernel per trajectory
    from geospark.hmm import viterbi_map_match

    spark, c = inp["spark"], F.col("id")
    pts = spark.range(inp["n"]).select(
        (c / 100).cast("long").alias("user_id"), (c % 100).alias("seq"),
        c.alias("point_id"), (_grid_lat(c) + 0.0003).alias("lat"),
        (_grid_lng(c) - 0.0002).alias("lng"))
    out = viterbi_map_match(pts, _grid_links(spark, inp["n"]), 500.0, k=3,
                            trans_weight=100)
    return _counts(out, n_matched=F.count("*"),
                   n_traj=F.countDistinct("user_id"))


def _points_ops():
    from geospark import geodata as G
    from geospark.cells import with_tile
    from geospark.colocate import colocate_pairs
    from geospark.joins import knn_join_df, pip_join, radius_join_df
    from geospark.lines import frechet_to_ref, hausdorff_to_ref, staypoints

    return [
        ("radius_join_df_50k_centers_2km", lambda i: radius_join_df(
            i["points"], i["centers"], max_m=2000.0).count()),
        ("knn_join_df_2k_centers_k10", lambda i: knn_join_df(
            i["points"], i["centers"].limit(2_000), k=10,
            id_col="point_id").count()),
        ("pip_join_demo_layer", lambda i: pip_join(
            i["points"], G.demo_layer()).count()),
        ("tile_assign_z10_agg", lambda i: with_tile(i["points"], 10)
         .groupBy("tile_x", "tile_y").count().count()),
        ("s2_encode_leaf_agg_l8", _s2_encode_agg),
        ("s2_cell_join_50k_cells_l12", _s2_cell_join),
        ("s2_radius_join_1k_centers_2km", _s2_radius),
        ("cluster_10m", _cluster),
        ("segment_supercover_z12", _supercover),
        ("map_match_probes_vs_network", _map_match),
        ("tile_vectorize_supercover_z12", _vectorize),
        ("polygon_raster_100k_plus_continent", _poly_raster),
        ("polygon_overlap_100k_x_20k", _poly_overlap),
        ("density_classify_eps10m_minpts3", _density),
        ("geohash_encode6_rollup2", _geohash),
        ("hll_users_gh3_p12", _hll),
        ("weighted_sample_top10k", _wsample),
        ("colocate_500m_15min", lambda i: colocate_pairs(
            _traj_events(i["points"]), 500.0, 15 * 60 * 1_000_000).count()),
        ("staypoints_2km_10min", lambda i: staypoints(
            _traj_events(i["points"]), 2000, 10 * 60 * 1_000_000).count()),
        ("convex_hull_area_100k_groups", _hull_area),
        ("frechet_100k_users_ref40", lambda i: frechet_to_ref(
            _traj_events(i["points"]), _REF40).count()),
        # pure-relational sibling of frechet: the map-side combine keeps
        # shuffle at n + u*m
        ("hausdorff_100k_users_ref40", lambda i: hausdorff_to_ref(
            _traj_events(i["points"]), _REF40).count()),
        ("geocode_12m_mentions", _geocode),
        ("reverse_geocode_12m", _revgeo),
        ("corridor_12m", _corridor),
        ("idw_12m", _idw),
        ("hmm_12m", _hmm),
    ]


# ---------------------------------------------------------------------------
# documents: synth_documents, ~15% of docs 0-3-token mutations of a 5%
# canonical pool, so pair counts are interpretable (5M docs at scale 1)
# ---------------------------------------------------------------------------
def _documents_input(spark, scale):
    from geospark.pages import synth_documents

    n = _n(5_000_000, scale)
    docs = _cached(spark, f"{TMP}/geospark_stress_docs_{n}",
                   lambda: synth_documents(spark, n, partitions=_parts(spark)))
    # a 5% 'en' reference slice for the language-model ops
    en5 = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 20 == 0, "en").otherwise("xx"))
    return {"spark": spark, "n": docs.count(), "docs": docs, "en5": en5}


def _incremental(inp):
    # prior corpus = first half by doc_id; new crawl = everything: the
    # anti-join must drop every text whose bytes exist in the prior half
    import geospark.textops as T

    docs = inp["docs"]
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("content_md5"))
    return T.incremental_dedup(docs, seen).count()


def _simhash_r8(inp):
    # radius 8: mih_plan(8) -> 3x20-bit bands, 1 flip per side, instead
    # of 9 contiguous ~6.7-bit bands whose buckets collide ~n^2/100
    import geospark.textops as T

    n = inp["n"]
    plan = T.mih_plan(8, n_docs=n)
    pairs = T.simhash_pairs(inp["docs"], max_hamming=8, n_docs=n)
    return {"pairs": pairs.count(), "plan": plan}


def _simhash_r8_candidates(inp):
    # candidate volume for BOTH radius-8 plans from bucket statistics
    # (sum cntA*cntB per bucket — the ordered matched-row count the join
    # would stream): mih should be ~100x below contiguous-9 at 5M docs
    import geospark.textops as T
    from geospark.spool import spool

    n = inp["n"]
    sig = spool(T.simhash(inp["docs"]), "stress_simhash_sig")
    out = {}
    for label, (m, t1, t2) in (
        ("mih", T.mih_plan(8, n_docs=n)),
        ("contiguous9", (9, 0, 0)),
    ):
        bands = T.simhash_bands(m)
        ca = (T._simhash_probe_side(sig, bands, t1)
              .groupBy("band", "val").agg(F.count("*").alias("ca")))
        if t2 == t1:
            joined = ca.select(F.sum(F.col("ca") * F.col("ca")).alias("rows"))
        else:
            cb = (T._simhash_probe_side(sig, bands, t2)
                  .groupBy("band", "val").agg(F.count("*").alias("cb")))
            joined = ca.join(cb, ["band", "val"]).select(
                F.sum(F.col("ca") * F.col("cb")).alias("rows"))
        out[f"{label}_matched_rows"] = int(joined.collect()[0]["rows"] or 0)
        out[f"{label}_plan"] = (m, t1, t2)
    return out


def _cc_keep_one(inp):
    # keep-one closure over a spooled minhash pair relation; pairs_s is
    # the pair spool, the rest of wall_s is the contraction
    import geospark.textops as T
    from geospark.graph import neardup_dedup
    from geospark.spool import spool

    t0 = time.time()
    pairs = spool(T.minhash_neardup_pairs(inp["docs"], threshold=0.5)
                  .select("doc_id_a", "doc_id_b"), "stress_pairs")
    n_pairs = pairs.count()
    pairs_s = round(time.time() - t0, 3)
    agg = _counts(neardup_dedup(inp["docs"], pairs), docs=F.count("*"),
                  dropped=F.sum("is_dup"))
    return {"pairs_in": n_pairs, "pairs_s": pairs_s,
            "docs_dropped": agg["dropped"],
            "docs_kept": agg["docs"] - agg["dropped"]}


def _bm25(inp):
    # 3 probes x 3 terms over the 50k vocab: the vocabulary filter before
    # the tf shuffle keeps the candidate relation at ~9*df rows
    import geospark.textops as T

    probes = [
        (1, ["t00042", "t01337", "t02718"]),
        (2, ["t10007", "t20011", "t30013"]),
        (3, ["t40009", "t45007", "t49999"]),
    ]
    return T.bm25_topk(inp["docs"], probes, k=10).count()


def _dup_spans(inp):
    import geospark.textops as T

    ds = T.dup_span_stats(inp["docs"], n=10)
    return _counts(
        ds, docs_with_dups=F.sum((F.col("n_dup_positions") > 0).cast("int")),
        dup_windows=F.sum("n_dup_positions"))


# wider than the registry query's 1024: additive noise is ~N/w, and the
# bigram stream N is ~39x docs
CMS_W = 1 << 16


def _cms_build(inp):
    # the bigram stream explodes x4 rows, but map-side partial agg caps
    # every task's shuffle output at d*w cells
    from geospark import sketch as SK

    sk = SK.cms_table(E._bigram_occurrences(inp["docs"]), [], "bigram",
                      d=4, w=CMS_W)
    return {"sketch_cells": sk.count()}


def _cms_lookup(inp):
    # a SMALL probe set against a sketch of a huge stream; the corpus is
    # uniform by construction, so the metric is the point-query
    # overestimate, expected ~N/w per probe
    from geospark import sketch as SK
    from geospark.spool import spool

    docs = inp["docs"]
    bg = spool(E._bigram_occurrences(docs), "stress_cms_bg")
    sk = SK.cms_table(bg, [], "bigram", d=4, w=CMS_W)
    probes = E._bigram_occurrences(docs.filter(F.col("doc_id") < 200)).distinct()
    est = SK.cms_lookup(sk, probes, [], "bigram", d=4, w=CMS_W)
    exact = (bg.join(F.broadcast(probes), "bigram")
             .groupBy("bigram").agg(F.count("*").alias("c")))
    agg = est.join(exact, "bigram").agg(
        F.count("*").alias("n_probes"),
        F.max(F.col("est_cnt") - F.col("c")).alias("max_over"),
        F.round(F.avg(F.col("est_cnt") - F.col("c")), 1).alias("mean_over"),
        F.sum(F.when(F.col("est_cnt") < F.col("c"), 1).otherwise(0))
        .alias("underestimates"),
    ).collect()[0]
    return {"n_probes": int(agg["n_probes"]),
            "mean_over": float(agg["mean_over"]),
            "max_over": int(agg["max_over"]),
            "underestimates": int(agg["underestimates"])}


BLOOM_K, BLOOM_M = 7, 1 << 25  # sized for ~n/2 distinct hashes


def _bloom(inp):
    from geospark import sketch as SK
    from geospark.spool import spool

    docs = inp["docs"]
    prior = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("h"))
    bits = spool(SK.bloom_bits(prior, "h", k=BLOOM_K, mbits=BLOOM_M),
                 "stress_bloom_bits")
    nb = bits.count()
    probes = docs.select(F.md5("text").alias("h"))
    maybe = SK.bloom_probe(bits, probes, "h", k=BLOOM_K, mbits=BLOOM_M)
    seen = prior.distinct().withColumn("_p", F.lit(1))
    absent = F.col("_p").isNull()
    agg = _counts(
        maybe.join(seen, "h", "left"), probed=F.count("*"),
        false_pos=F.sum(F.when(absent & (F.col("bloom_maybe") == 1), 1)
                        .otherwise(0)),
        absent=F.sum(F.when(absent, 1).otherwise(0)),
        false_neg=F.sum(F.when(~absent & (F.col("bloom_maybe") == 0), 1)
                        .otherwise(0)),
    )
    return {"bits_lit": nb, "probed_distinct": agg["probed"],
            "false_neg": agg["false_neg"],
            "fpr": round(agg["false_pos"] / max(agg["absent"], 1), 6)}


def _lm(inp):
    # the model is ~|ref docs| x 39 mostly-distinct bigram types: large
    # enough at scale that AQE picks a shuffle join for it
    from geospark.textops import lm_score

    return _counts(lm_score(inp["en5"], "en"), docs_scored=F.count("*"),
                   bigrams_scored=F.sum("n_bigrams"))


def _kn(inp):
    # interpolated Kneser-Ney on the same slice: model relations stay
    # vocab-sized, scoring is three hash joins + one per-doc rollup
    from geospark.textops import lm_score_kn

    return _counts(lm_score_kn(inp["en5"], "en"), docs_scored=F.count("*"),
                   bigrams_scored=F.sum("n_bigrams"))


def _bpe(inp):
    # ONE corpus-sized word-count shuffle, then 10 vocab-sized merge
    # rounds with a 1-row argmax each
    from geospark.textops import bpe_train

    m = bpe_train(inp["docs"], n_merges=10).collect()
    return {"merges": len(m),
            "top_merge": f"{m[0]['lhs']}+{m[0]['rhs']}@{m[0]['pair_count']}"}


def _bpe_encode(inp):
    # 10 merges learned on a 1% doc_id sample, replayed over the corpus
    from geospark.textops import bpe_encode, bpe_train

    docs = inp["docs"]
    sample = docs.filter(F.col("doc_id") % 100 == 0)
    merges = [(r["lhs"], r["rhs"]) for r in
              bpe_train(sample, n_merges=10).orderBy("rank").collect()]
    return _counts(bpe_encode(docs, merges), n_tokens=F.count("*"),
                   occurrences=F.sum("count"))


def _scrub(inp):
    # gram window + covered-position anti-join + per-doc reconstruction
    from geospark.textops import scrub_dup_spans

    out = scrub_dup_spans(inp["docs"], n=10, hash_fn="xxhash64")
    return _counts(out, docs_out=F.count("*"),
                   tokens_removed=F.sum("n_removed"),
                   docs_cut=F.sum((F.col("n_removed") > 0).cast("long")))


def _dsir(inp):
    # B=4096 hashed-token model: one token pass feeds the bucket model,
    # the B-row delta broadcasts into the scoring pass, top-k is a heap
    from geospark.textops import importance_resample

    rows = importance_resample(inp["en5"], k=100).collect()
    return {"rows_out": len(rows),
            "top_weight_milli": int(rows[0]["weight_milli"])}


def _documents_ops():
    import geospark.textops as T

    return [
        ("exact_dedup", lambda i: T.exact_dedup(i["docs"]).count()),
        ("incremental_dedup_halfseen", _incremental),
        ("minhash_lsh_t05", lambda i: {"pairs": T.minhash_neardup_pairs(
            i["docs"], threshold=0.5).count()}),
        # candidate volume is what grows with scale, measured on its own
        ("minhash_candidates", lambda i: {"candidates": T.lsh_candidates(
            T.minhash_signatures(i["docs"])).count()}),
        ("simhash_h3", lambda i: {"pairs": T.simhash_pairs(
            i["docs"], max_hamming=3, n_docs=i["n"]).count()}),
        ("simhash_r8_mih", _simhash_r8),
        ("simhash_r8_candidates", _simhash_r8_candidates),
        ("cc_keep_one_dedup", _cc_keep_one),
        ("fingerprint", lambda i: T.fingerprint(i["docs"]).count()),
        ("token_stats", lambda i: T.token_stats(i["docs"]).count()),
        # two-level prefix scan (256 shards) + span explode
        ("pack_sequences_L2048", lambda i: T.pack_sequences(
            i["docs"], seq_len=2048, n_shards=256).count()),
        ("bm25_topk_3probes", _bm25),
        ("dup_spans_n10", _dup_spans),
        ("cms_build_bigrams", _cms_build),
        ("cms_point_lookup", _cms_lookup),
        ("bloom_crawl_filter", _bloom),
        ("lm_ppl_en5pct", _lm),
        ("bpe_10merges", _bpe),
        ("span_scrub_n10", _scrub),
        ("bpe_encode_5m", _bpe_encode),
        ("dsir_5m", _dsir),
        ("kn_ppl_en5pct", _kn),
    ]


# ---------------------------------------------------------------------------
# embeddings: 64-d vectors with 15% planted near-dups at cos in [0.90, 1]
# (5M vectors at scale 1)
# ---------------------------------------------------------------------------
def _embeddings_input(spark, scale):
    from geospark.pages import synth_embeddings

    n = _n(5_000_000, scale)
    emb = _cached(spark, f"{TMP}/geospark_stress_emb_{n}_{DIM}",
                  lambda: synth_embeddings(spark, n, dim=DIM, dup_frac=0.15,
                                           min_cos=0.90,
                                           partitions=_parts(spark)))
    return {"spark": spark, "n": emb.count(), "emb": emb}


def _neardup_lsh(inp, threshold=0.95, target_recall=0.9):
    """Auto-sized multi-table sign-LSH: candidates vs a budget of 10 per
    row, and recall on planted pairs with exact cos >= threshold, which
    must reach the target the sizing solved for."""
    from pyspark.storagelevel import StorageLevel

    from geospark import embeddings as EM

    emb, n = inp["emb"], inp["n"]
    budget = max(10 * n, 1_000_000)
    n_planes, n_tables = EM.neardup_lsh_params(
        n, threshold, target_recall, budget, dim=DIM)
    expected = (n_tables * n * (n - 1) / 2
                * EM._p_collide_unrelated(n_planes, DIM))
    t0 = time.time()
    cand = EM.neardup_candidates(
        emb, n_planes, DIM, n_tables, engine="arrow"
    ).persist(StorageLevel.DISK_ONLY)
    n_cand = cand.count()
    t1 = time.time()
    pairs = EM.refine_pairs(emb, cand, threshold).persist(
        StorageLevel.DISK_ONLY)
    n_pairs = pairs.count()
    t2 = time.time()
    # planted ground truth: (src_id, vec_id) pairs whose EXACT cosine is
    # >= threshold (~half the planted pairs at 0.95)
    vecs = emb.select(F.col("vec_id").alias("vid"),
                      F.col("embedding").alias("vec"))
    planted = (
        emb.filter("is_dup")
        .select(F.col("src_id").alias("a"), F.col("vec_id").alias("b"),
                F.col("embedding").alias("vb"))
        .join(vecs, F.col("a") == F.col("vid"))
        .withColumn("cos",
                    EM.dot("vec", "vb") / (EM.norm("vec") * EM.norm("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b")
    )
    n_truth = planted.count()
    found = planted.join(
        pairs, (F.col("a") == F.col("vec_id_a"))
        & (F.col("b") == F.col("vec_id_b")), "left_semi").count()
    cand.unpersist()
    pairs.unpersist()
    return {"rows_out": n_pairs, "n_planes": n_planes, "n_tables": n_tables,
            "candidate_budget": budget, "expected_candidates": round(expected),
            "candidates": n_cand, "cand_s": round(t1 - t0, 3),
            "refine_s": round(t2 - t1, 3), "planted_truth_pairs": n_truth,
            "planted_found": found,
            "recall": round(found / max(n_truth, 1), 4),
            "target_recall": target_recall}


def _semdedup(inp):
    # k = n/500 clusters: pair cost is sum(|cluster|^2), so k grows with n;
    # tau = 0.99 because the planted dups sit at cos >= 0.90 and the 0.35
    # grid default would merge the whole corpus at this density
    from geospark.embeddings import semdedup

    sub = inp["emb"].filter(F.col("vec_id") < 1_000_000)
    out = semdedup(sub, n_centroids=2000, iters=2,
                   tau_num=9801, tau_den=10000, arrow=True)
    agg = _counts(out, n=F.count("*"), dups=F.sum("is_dup"))
    return {"input_rows": min(inp["n"], 1_000_000), "rows_out": agg["n"],
            "n_dups": agg["dups"]}


def _embeddings_ops():
    from geospark.embeddings import ivfpq_topk, pq_topk

    qids = [3, 57, 111, 222, 404]
    return [
        ("neardup_lsh_cos095", _neardup_lsh),
        ("pq_adc_topk_5q", lambda i: len(pq_topk(
            i["emb"], qids, k=10, m=4, n_codes=16, dim=DIM,
            arrow=True).collect())),
        # 16-centroid trained coarse quantizer (2 Lloyd iters), residual-PQ
        # encode map-side, 4-probe ADC over the m-byte code relation
        ("ivfpq_5m", lambda i: len(ivfpq_topk(
            i["emb"], qids, k=10, n_centroids=16, iters=2, n_probe=4,
            m=4, n_codes=16, arrow=True).collect())),
        ("semdedup_1m", _semdedup),
    ]


# ---------------------------------------------------------------------------
# graph: hash-wired graphs over node ids 0..n-1 (12M nodes at scale 1)
# ---------------------------------------------------------------------------
def _graph_input(spark, scale):
    n = _n(12_000_000, scale)
    return {"spark": spark, "n": n,
            "nodes": spark.range(n).select(F.col("id").alias("node"))}


def _salted_edges(nodes, salts):
    # one out-edge per (j, p) salt: dst = (node * p + j) mod n
    nn = nodes.agg(F.count("*").alias("_n"))
    return nodes.crossJoin(F.broadcast(nn)).select(
        F.col("node").alias("src"),
        F.explode(F.array(*[
            (F.col("node") * F.lit(p) + F.lit(j)) % F.col("_n")
            for j, p in salts
        ])).alias("dst"),
    )


_SALTS3 = [(1, 7919), (2, 104729), (3, 999983)]
_SALTS6 = _SALTS3 + [(4, 31337), (5, 6700417), (6, 179424673)]


def _triangles(inp):
    from geospark.graph import triangle_count

    out = triangle_count(_salted_edges(inp["nodes"], _SALTS6))
    return _counts(out, nodes_in_tri=F.count("*"),
                   n_triangles=(F.sum("n_tri") / 3).cast("long"))


def _cc(inp):
    # chains of 5 + every-37th-node long-range merges: the edge relation
    # is ~1.04x nodes and every contraction round is a full shuffle
    from geospark.graph import connected_components

    nodes = inp["nodes"]
    base = nodes.crossJoin(F.broadcast(nodes.agg(F.count("*").alias("_n"))))
    chain = base.filter(
        (F.col("node") % 5 != 4) & (F.col("node") + 1 < F.col("_n"))
    ).select(F.col("node").alias("src"), (F.col("node") + 1).alias("dst"))
    mrg = base.filter(F.col("node") % 37 == 0).select(
        F.col("node").alias("src"),
        ((F.col("node") * 13 + 5) % F.col("_n")).alias("dst"),
    )
    cc = connected_components(chain.unionByName(mrg), "src", "dst")
    return _counts(cc.groupBy("component").count(),
                   n_components=F.count("*"), max_comp=F.max("count"),
                   n_labeled=F.sum("count"))


def _sssp(inp):
    # nearest-facility assignment: 1000 hubs, 8 relaxation rounds with
    # hash-derived BIGINT weights; the frontier grows to data scale
    from geospark.graph import sssp

    edges = _salted_edges(inp["nodes"], _SALTS3).select(
        "src", "dst",
        (F.lit(1) + (F.col("src") * F.lit(2654435761)
                     + F.col("dst") * F.lit(40503)) % F.lit(1000)).alias("w"),
    )
    return sssp(edges, list(range(1000)), hops=8).count()


def _graph_ops():
    from geospark.graph import pagerank

    return [
        ("triangles_6salt", _triangles),
        ("graph_cc_chains", _cc),
        # 3-out-regular graph: per iteration one 3n-row join + dst-sum +
        # node left-join
        ("pagerank_3out_3iter", lambda i: pagerank(
            i["nodes"], _salted_edges(i["nodes"], _SALTS3), iters=3).count()),
        ("sssp_1k_hubs_8hops", _sssp),
    ]


# ---------------------------------------------------------------------------
# stream: a deterministic GPS stream as time-sliced parquet micro-batches
# (2M events / 20k users at scale 1, 8 slices)
# ---------------------------------------------------------------------------
def _write_stream(path: str, n_events: int, n_users: int, n_slices: int):
    """splitmix64-driven walkers: positions are a bounded walk around
    per-user anchors spread over the demo layer's extent, so a realistic
    fraction of pings sit inside fences and transitions occur."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geospark.pages import _splitmix64, _u01

    os.makedirs(path, exist_ok=True)
    idx = np.arange(n_events, dtype=np.uint64)
    user = (idx % np.uint64(n_users)).astype(np.int64)
    step = (idx // np.uint64(n_users)).astype(np.int64)
    ua = user.astype(np.uint64)
    anchor_lat = -50.0 + 120.0 * _u01(_splitmix64(ua * np.uint64(7) + np.uint64(1)))
    anchor_lng = -140.0 + 300.0 * _u01(_splitmix64(ua * np.uint64(7) + np.uint64(2)))
    dlat = _u01(_splitmix64(idx * np.uint64(11) + np.uint64(3))) - 0.5
    dlng = _u01(_splitmix64(idx * np.uint64(11) + np.uint64(4))) - 0.5
    # offset = f(step), a triangle wave: bounded, no per-user scan
    w_lat = ((step % 20) - 10) * 0.5 + dlat
    w_lng = ((step % 24) - 12) * 0.5 + dlng
    lat = np.clip(anchor_lat + w_lat, -84.0, 84.0)
    lng = ((anchor_lng + w_lng + 180.0) % 360.0) - 180.0
    # bursty cadence: 10-ping bursts 60 s apart, 30 min of silence
    # between bursts, so the 5-minute-gap sessionizer closes sessions
    ts_us = (np.int64(1_700_000_000_000_000)
             + step * np.int64(60_000_000)
             + (step // 10) * np.int64(1_800_000_000)
             + user * np.int64(13))
    order = np.argsort(ts_us, kind="stable")
    bounds = np.linspace(0, n_events, n_slices + 1).astype(np.int64)
    for i in range(n_slices):
        sl = order[bounds[i]:bounds[i + 1]]
        f = f"{path}/slice{i:03d}.parquet"
        pq.write_table(pa.table({
            "user_id": pa.array(user[sl], pa.int64()),
            "ts": pa.array(ts_us[sl], pa.timestamp("us")),
            "lat": pa.array(lat[sl], pa.float64()),
            "lng": pa.array(lng[sl], pa.float64()),
        }), f)
        os.utime(f, (1_700_000_000 + i * 60,) * 2)
    open(f"{path}/_DONE", "w").close()


def _stream_input(spark, scale):
    n_events, n_users, n_slices = _n(2_000_000, scale), _n(20_000, scale), 8
    path = f"{TMP}/geospark_stream_stress_{n_events}_{n_users}_{n_slices}"
    if not os.path.exists(f"{path}/_DONE"):
        _write_stream(path, n_events, n_users, n_slices)
    return {"spark": spark, "n": n_events, "dir": path, "n_slices": n_slices}


def _stream(inp):
    return (inp["spark"].readStream
            .schema("user_id long, ts timestamp, lat double, lng double")
            .option("maxFilesPerTrigger", 2)
            .parquet(inp["dir"]))


def _drain(inp, out, qname: str) -> int:
    ckpt = tempfile.mkdtemp(prefix=f"{qname}_ckpt_")
    try:
        q = (out.writeStream.format("memory").queryName(qname)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(3600):
            q.stop()
            raise RuntimeError(f"{qname}: did not terminate")
        return inp["spark"].table(qname).count()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _geofence(inp):
    from geospark import geodata as G
    from geospark.streaming import geofence_stream

    n = _drain(inp, geofence_stream(_stream(inp), G.demo_layer().areas),
               "stress_geofence")
    inp["geofence_transitions"] = n
    return {"transitions": n}


def _sessionize(inp):
    from geospark.streaming import sessionize_stream

    return {"sessions": _drain(
        inp, sessionize_stream(_stream(inp), gap_us=5 * 60_000_000),
        "stress_sessions")}


def _geofence_kill_resume(inp):
    """The same geofence stream through a durable parquet sink,
    hard-stopped mid-drain, then restarted from its checkpoint: the state
    store recovers every user's fence set and watermark buffer and the
    file sink's commit log makes the kill exactly-once, so the final
    transition count must equal the uninterrupted run's."""
    from geospark import geodata as G
    from geospark.streaming import geofence_stream

    spark = inp["spark"]
    tmp = tempfile.mkdtemp(prefix="gf_kr_")
    ckpt, sink = f"{tmp}/ckpt", f"{tmp}/out"

    def start():
        return (geofence_stream(_stream(inp), G.demo_layer().areas)
                .writeStream.format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt).outputMode("append")
                .trigger(availableNow=True).start())

    def batches(q):
        return [p for p in q.recentProgress if p["numInputRows"]]

    try:
        # half the micro-batches, then kill (stop() aborts in-flight work)
        target = max(1, (inp["n_slices"] + 1) // 2 // 2)
        q = start()
        while q.isActive:
            if len(batches(q)) >= target:
                q.stop()
                break
            time.sleep(0.25)
        q.awaitTermination(600)
        before = len(batches(q))
        q2 = start()
        if not q2.awaitTermination(3600):
            q2.stop()
            raise RuntimeError("resume did not terminate")
        n = spark.read.parquet(sink).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    base = inp.get("geofence_transitions")
    assert base is None or n == base, (n, base)
    return {"transitions": n,
            "matches_uninterrupted": True if base is not None else None,
            "batches_before_kill": before,
            "batches_after_resume": len(batches(q2))}


# ---------------------------------------------------------------------------
# urls: clean synthetic crawl urls + one messy variant each (30M pages at
# scale 1), so every normalization rule fires
# ---------------------------------------------------------------------------
def _urls_input(spark, scale):
    from geospark.pages import synth_pages
    from geospark.urls import messy_variant, url_normalize

    n_pages = _n(30_000_000, scale)
    pages = synth_pages(spark, n_pages, partitions=_parts(spark)).select("url")
    pid = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    raw = pages.unionByName(
        pages.select(messy_variant(F.col("url"), pid).alias("url")))
    # warm (spawns workers, compiles codegen) on a small slice
    pages.limit(10_000).select(
        url_normalize("url").alias("u")).agg(F.count("*")).collect()
    return {"spark": spark, "n": 2 * n_pages, "raw": raw}


def _url_normalize(inp):
    # one codegen map stage, no shuffle before the count/NDV aggregate;
    # the scheme-downgrade variant is the non-collapsing control, so the
    # expected collapse is ~2x minus that slice
    from geospark.urls import url_normalize

    r = inp["raw"].select(url_normalize("url").alias("u")).agg(
        F.count("*").alias("n"),
        F.approx_count_distinct("u", 0.005).alias("n_canon"),
    ).collect()[0]
    return {"rows_out": int(r["n"]), "n_canonical_approx": int(r["n_canon"]),
            "collapse_ratio": round(inp["n"] / r["n_canon"], 3)}


# ---------------------------------------------------------------------------
# training: extract -> exact dedup -> minhash near-dup dedup ->
# decontaminate -> pii_scrub -> split -> pack over a synthetic crawl
# (5M docs at scale 1), every stage committed through runtime.Pipeline
# ---------------------------------------------------------------------------
def _training_input(spark, scale):
    from geospark.pages import synth_documents
    from geospark.training import synth_corpus_pages, training_stages

    n = _n(5_000_000, scale)
    eval_texts = synth_documents(spark, 200)  # benchmark/eval stand-in
    return {"spark": spark, "n": n,
            "source": synth_corpus_pages(spark, n, partitions=_parts(spark)),
            "stages": training_stages(eval_texts, seq_len=2048,
                                      pack_shards=256)}


def _content_hash(df) -> str:
    """Order-insensitive hash of a DataFrame's rows."""
    r = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")).collect()[0]
    return f"{r['n']}:{r['s']}"


def _training_pipeline(inp):
    from geospark.runtime import Pipeline

    root = tempfile.mkdtemp(prefix="geospark_training_")
    try:
        pipe = Pipeline(inp["spark"], root)
        final = pipe.run(inp["source"], inp["stages"])
        inp["final_hash"] = _content_hash(final)
        walls = {r["stage"]: r["wall_ms"] for r in
                 pipe.lineage().select("stage", "wall_ms").distinct().collect()}
        stages = {s.name: {"wall_s": round(walls[s.name] / 1000.0, 3),
                           "rows_out": pipe.table(s.name).current()["rows"]}
                  for s in inp["stages"]}
        return {"rows_out": final.count(), "final_hash": inp["final_hash"],
                "stages": stages}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _training_kill_resume(inp):
    """Commit the stage prefix up to the middle stage (a crash after
    it), resume on the same root, and check the final hash against the
    uninterrupted op and that only the stages after the crash re-ran."""
    from geospark.runtime import Pipeline

    spark, stages = inp["spark"], inp["stages"]
    mid = len(stages) // 2
    root = tempfile.mkdtemp(prefix="geospark_training_kr_")
    try:
        Pipeline(spark, root).run(inp["source"], stages[:mid + 1])
        resume = Pipeline(spark, root)
        final = resume.run(inp["source"], stages)
        got = _content_hash(final)
        rerun = sorted(
            r["stage"] for r in resume.lineage()
            .filter(F.col("run_id") == resume.run_id)
            .select("stage").distinct().collect())
        n = final.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert rerun == sorted(s.name for s in stages[mid + 1:]), rerun
    want = inp.get("final_hash")
    assert want is None or got == want, (got, want)
    return {"rows_out": n, "killed_after": stages[mid].name,
            "rerun_stages": rerun, "final_hash": got,
            "matches_uninterrupted": True if want is not None else None}


SUITES = {
    "registry": (_registry_input, _registry_ops()),
    "pipeline": (_pipeline_input, [
        ("pages_pipeline", lambda i: _pipeline_df(i["pages"]).count())]),
    "points": (_points_input, _points_ops()),
    "documents": (_documents_input, _documents_ops()),
    "embeddings": (_embeddings_input, _embeddings_ops()),
    "graph": (_graph_input, _graph_ops()),
    "stream": (_stream_input, [
        ("geofence_stream_demo_layer", _geofence),
        ("sessionize_stream_gap5m", _sessionize),
        ("geofence_kill_resume", _geofence_kill_resume),
    ]),
    "urls": (_urls_input, [("url_normalize_clean_plus_messy", _url_normalize)]),
    "training": (_training_input, [
        ("training_pipeline", _training_pipeline),
        ("training_kill_resume", _training_kill_resume),
    ]),
}


# ---------------------------------------------------------------------------
# scaling: N -> 4N, one subprocess per config
# ---------------------------------------------------------------------------
def _burn(n):
    x = 0
    for i in range(n):
        x += i * i % 7
    return x


_MEM_ARR = None


def _mem_init(n_mb):
    # per-worker array allocated UNTIMED at pool start, so the timed
    # region is pure sweep traffic (equal total bytes at both counts)
    global _MEM_ARR
    import numpy as np

    _MEM_ARR = np.ones(n_mb * 131_072, dtype=np.float64)


def _mem_sweep(n_sweeps):
    s = 0.0
    for _ in range(n_sweeps):
        s += float(_MEM_ARR.sum())
    return s


def cpu_ceiling(n_lo: int, n_hi: int) -> dict:
    """The host's own parallel-scaling ceiling at the same process
    counts, from a pure-CPU integer loop (clock / turbo / thread cap)
    and a numpy array-sum sweep (memory bandwidth, what a parquet-scan
    pipeline is bound by). The pipeline cannot scale better than the
    hardware does on its binding resource; a CPU probe alone read 1.0
    while identical Spark code varied 1.3-1.7x wall-to-wall (BENCH.md),
    hence the second probe and the pre/post bracket."""
    import multiprocessing as mp

    total, mem_mb, mem_sweeps = 120_000_000, 128, 48
    cpu_secs, mem_secs = {}, {}
    for k in (n_lo, n_hi):
        with mp.Pool(k) as pool:
            t0 = time.time()
            pool.map(_burn, [total // k] * k)
            cpu_secs[k] = time.time() - t0
        with mp.Pool(k, initializer=_mem_init, initargs=(mem_mb,)) as pool:
            pool.map(_mem_sweep, [1] * k)  # warm: init + first touch
            t0 = time.time()
            pool.map(_mem_sweep, [mem_sweeps // k] * k)
            mem_secs[k] = time.time() - t0
    ratio = n_hi / n_lo
    cpu = (cpu_secs[n_lo] / cpu_secs[n_hi]) / ratio
    mem = (mem_secs[n_lo] / mem_secs[n_hi]) / ratio
    return {"cpu": round(cpu, 3), "mem": round(mem, 3)}


def _pipeline_child(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "pipeline"],
        env={**os.environ, "SPARK_GRAFT_CPUS": str(cpus)},
        capture_output=True, text=True, timeout=1200, cwd=str(REPO),
    )
    if out.returncode != 0:
        raise RuntimeError(f"child failed: {out.stderr[-2000:]}")
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    if rec.get("error"):
        raise RuntimeError(f"child failed: {rec['error']}")
    return rec


def scaling(ctx: dict) -> dict:
    """The flagship pipeline at N and 4N cores on the same input. Reps
    are interleaved and the best wall per config kept: on a throttled VM
    one unthrottled N run paired with one throttled 4N run reads as a
    regression that isn't there. The host ceiling is probed before and
    after; the binding one is the worse CPU reading over the bracket
    (the memory probe is context: shared bandwidth keeps it below 1.0
    even on healthy bare metal)."""
    t0 = time.time()
    n_lo = max(1, host()[0] // 4)
    n_hi = 4 * n_lo
    pre = cpu_ceiling(n_lo, n_hi)
    lo, hi = [], []
    for _ in range(SCALING_REPS):
        lo.append(_pipeline_child(n_lo))
        hi.append(_pipeline_child(n_hi))
    best_lo = min(r["wall_s"] for r in lo)
    best_hi = min(r["wall_s"] for r in hi)
    post = cpu_ceiling(n_lo, n_hi)
    speedup = best_lo / best_hi
    eff = speedup / 4.0
    ceiling = min(pre["cpu"], post["cpu"])
    return {
        **ctx, "suite": "scaling", "op": f"pipeline_local{n_lo}_vs_local{n_hi}",
        "input_rows": lo[0]["input_rows"], "rows_out": lo[0]["rows_out"],
        "wall_s": round(time.time() - t0, 3),
        f"local{n_lo}_walls_s": [r["wall_s"] for r in lo],
        f"local{n_hi}_walls_s": [r["wall_s"] for r in hi],
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "pre_ceiling": pre, "post_ceiling": post,
        "hw_ceiling_efficiency": ceiling,
        "efficiency_vs_ceiling": round(min(eff / ceiling, 1.0), 3),
        "target": 0.8,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("suite", nargs="?", default="registry",
                    choices=[*SUITES, "scaling"])
    ap.add_argument("--only", default="",
                    help="comma-separated op names to run (default: all)")
    ap.add_argument("--scale", type=float, default=host()[1] / 2**37,
                    help="input size factor of the operator-scale suites "
                         "(default: physical memory / 128 GiB)")
    args = ap.parse_args()
    only = {s for s in args.only.split(",") if s}
    ctx = run_context()

    if args.suite == "scaling":
        emit(scaling(ctx), RUNS)
        return 0

    spark = get_spark("geospark-bench",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    if args.suite != "registry":
        recs = run_suite(spark, args.suite, args.scale, only, ctx=ctx)
        spark.stop()
        return int(any(r.get("error") for r in recs))

    # TWO full passes over the registry, per-query MIN: a query's wall
    # depends strongly on its POSITION in a fresh session (JVM JIT +
    # janino codegen + page cache warm over the first ~50 queries: the
    # same query measures 0.8s deep in a warm session and 8s first), so
    # a single pass benchmarks the registry ORDER, not the plans.
    passes = int(os.environ.get("GEOSPARK_BENCH_PASSES", "2"))
    recs = run_suite(spark, "registry", only=only, passes=passes, ctx=ctx)
    recs += run_suite(spark, "pipeline", only=only, ctx=ctx)
    spark.stop()
    timings = {r["op"]: r["wall_s"] for r in recs}
    pipe = timings.get("pages_pipeline")
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(sum(t for t in timings.values() if t), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "pipeline_pages": N_PIPELINE_PAGES,
        "pages_per_sec": round(N_PIPELINE_PAGES / pipe, 1) if pipe else None,
        "cpus": ctx["host_cpus"],
    }))
    return int(any(r.get("error") for r in recs))


if __name__ == "__main__":
    raise SystemExit(main())
