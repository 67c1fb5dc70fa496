"""``get_spark``'s session defaults: the generated-code cache holds a
spatial-join working set, so a repeated plan compiles nothing, and
PySpark's per-Column call-site capture is off."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bench import codegen_totals


def _calls(spark, tmp_path):
    """Small knn / PIP-table / box-overlap / salted-join / SemDeDup
    calls over parquet inputs. In a fresh session one pass compiles
    127 classes, more than Spark's default cache (100) holds, so under
    that default the second pass recompiles nearly all of them."""
    from geospark import geodata as G
    from geospark.embeddings import semdedup
    from geospark.joins import box_overlap_join, knn_join_df, pip_join_table
    from geospark.plans.skew import salted_join
    from geospark.sources import areas_to_df

    def parquet(df, name):
        df.write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    pts = parquet(spark.range(3000).select(
        F.col("id").alias("point_id"),
        (F.col("id") * 7919 % 15000 / 100.0 - 75.0).alias("lat"),
        (F.col("id") * 104729 % 35800 / 100.0 - 179.0).alias("lng"),
        F.when(F.col("id") < 2000, F.lit(7)).otherwise(F.col("id") % 10).alias("k"),
    ), "points")
    centers = parquet(spark.range(20).select(
        F.col("id").alias("query_id"), (F.col("id") * 7.0 - 70.0).alias("q_lat"),
        (F.col("id") * 17.0 - 170.0).alias("q_lng")), "centers")

    def boxes(seed, n):
        return parquet(spark.range(n).select(
            (F.col("id") + seed).alias("box_id"),
            ((F.col("id") * 37 + seed) % 100 - 50.0).alias("min_lat"),
            ((F.col("id") * 53 + seed) % 300 - 150.0).alias("min_lng"),
        ).select("*", (F.col("min_lat") + 3.0).alias("max_lat"),
                 (F.col("min_lng") + 5.0).alias("max_lng")), f"boxes{seed}")

    box_a, box_b = boxes(0, 200), boxes(1000, 150)
    layer = G.demo_layer()
    poly = parquet(areas_to_df(spark, layer.areas), "polygons")
    dim = parquet(spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val")), "dim")
    rng = np.random.default_rng(3)
    emb = parquet(spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(64)],
        "vec_id long, embedding array<double>"), "emb")
    return [
        lambda: knn_join_df(pts, centers, 5).collect(),
        lambda: pip_join_table(pts, poly, cover_zoom=layer.cover_zoom).collect(),
        lambda: box_overlap_join(box_a, box_b, zoom=8).collect(),
        lambda: salted_join(pts, dim, "k", n_salt=4, threshold_ratio=0.5).collect(),
        lambda: semdedup(emb, n_centroids=3, iters=2).collect(),
    ]


def test_repeated_spatial_plans_compile_nothing(spark, tmp_path):
    calls = _calls(spark, tmp_path)
    compiled = []
    for _ in range(2):
        n0 = codegen_totals(spark)[0]
        for call in calls:
            call()
        compiled.append(codegen_totals(spark)[0] - n0)
    assert compiled[1] == 0, compiled


def test_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") == "1000"
