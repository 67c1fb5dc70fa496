"""``get_spark``'s session defaults: the generated-code cache holds a
spatial-join working set, so a repeated plan compiles nothing,
PySpark's per-Column call-site capture is off, and local Python
workers fork from ``geospark._pyworker``, which re-reads a zip archive
only when it changed."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pandas as pd
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


def test_worker_rereads_a_zip_only_when_it_changes(spark, tmp_path):
    """PySpark calls ``importlib.invalidate_caches()`` before every
    task; in a worker it must leave an unchanged archive's importer
    unread and re-read the archive once it is touched."""
    tmp = str(tmp_path)

    def probe(batches):
        import importlib
        import zipfile
        import zipimport

        for _ in batches:
            pass
        mod = f"gs_probe_{os.getpid()}"
        path = os.path.join(tmp, f"{mod}.zip")
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{mod}.py", "X = 1\n")
        reads = []
        read = zipimport._read_directory

        def counting(archive):
            if archive == path:
                reads.append(archive)
            return read(archive)

        sys.path.insert(0, path)
        zipimport._read_directory = counting
        try:
            importlib.import_module(mod)
            importlib.invalidate_caches()  # the new importer's first read
            n0 = len(reads)
            importlib.invalidate_caches()
            unchanged = len(reads) - n0
            st = os.stat(path)
            os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
            importlib.invalidate_caches()
            touched = len(reads) - n0 - unchanged
        finally:
            zipimport._read_directory = read
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop(mod, None)
        yield pd.DataFrame({"unchanged": [unchanged], "touched": [touched]})

    rows = spark.range(1, numPartitions=1).mapInPandas(
        probe, "unchanged long, touched long").collect()
    assert [tuple(r) for r in rows] == [(0, 1)]


def test_workers_import_geospark_from_any_cwd(tmp_path):
    """A session started outside the repo, with no PYTHONPATH, runs a
    pandas_udf whose body imports geospark."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from geospark import get_spark

spark = get_spark(master="local[1]", extra_conf={{
    "spark.ui.enabled": "false", "spark.driver.memory": "1g"}})

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    import geospark.cells  # noqa: F401
    return s + 1

print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2, 3]"


def test_worker_daemon_only_on_local_masters():
    """On a cluster the daemon starts before ``--py-files`` reach the
    workers' path, so only local masters get the geospark daemon."""
    from geospark.session import session_conf

    for master in ("local", "local[2]", "local[*]", "local[4,3]"):
        conf = session_conf(master)
        assert conf["spark.python.daemon.module"] == "geospark._pyworker"
        assert os.path.isdir(os.path.join(
            conf["spark.executorEnv.PYTHONPATH"], "geospark"))
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443"):
        conf = session_conf(master)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf
