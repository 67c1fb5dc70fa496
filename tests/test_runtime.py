"""Snapshot tables, checkpoint/resume, lineage, salting, streaming."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from geospark.runtime import Pipeline, SnapshotTable, Stage


def test_snapshot_write_read_timetravel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    m1 = t.write(spark.range(10).withColumn("v", F.col("id") * 2), stage="s1")
    assert t.read().count() == 10
    m2 = t.write(spark.range(5), stage="s2")
    assert t.read().count() == 5
    # time travel to the first snapshot
    assert t.read(m1["snapshot_id"]).count() == 10
    assert t.current()["snapshot_id"] == m2["snapshot_id"]


def test_snapshot_append_mode(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.write(spark.range(10), stage="a")
    m = t.write(spark.range(100, 103), stage="b", mode="append")
    assert m["rows"] == 13
    assert t.read().count() == 13


def test_pipeline_resume_skips_committed_stages(spark, tmp_path):
    calls = {"double": 0, "filter": 0}

    def double(df):
        calls["double"] += 1
        return df.withColumn("v", F.col("id") * 2)

    def filt(df):
        calls["filter"] += 1
        return df.filter(F.col("v") >= 10)

    root = str(tmp_path / "pipe")
    p1 = Pipeline(spark, root, run_id="r1")
    out1 = p1.run(spark.range(20), [Stage("double", double), Stage("filter", filt)])
    assert out1.count() == 15
    assert calls == {"double": 1, "filter": 1}

    # resume: nothing re-runs, same result
    p2 = Pipeline(spark, root, run_id="r2")
    out2 = p2.run(spark.range(20), [Stage("double", double), Stage("filter", filt)])
    assert out2.count() == 15
    assert calls == {"double": 1, "filter": 1}

    # lineage recorded per stage with partition granularity
    lin = p1.lineage().toPandas()
    assert set(lin["stage"]) == {"double", "filter"}
    assert (lin["rows"] >= 0).all()
    assert lin.groupby("stage")["rows"].sum()["filter"] == 15


def test_pipeline_resume_after_partial_failure(spark, tmp_path):
    root = str(tmp_path / "pipe2")
    boom = {"on": True}

    def ok(df):
        return df.withColumn("v", F.col("id") + 1)

    def maybe_fail(df):
        if boom["on"]:
            raise RuntimeError("injected failure")
        return df.filter(F.col("v") % 2 == 0)

    p = Pipeline(spark, root, run_id="r1")
    try:
        p.run(spark.range(10), [Stage("ok", ok), Stage("flaky", maybe_fail)])
        raise AssertionError("expected failure")
    except RuntimeError:
        pass
    # stage 'ok' committed; resume completes without re-running it
    boom["on"] = False
    out = Pipeline(spark, root, run_id="r2").run(
        spark.range(10), [Stage("ok", ok), Stage("flaky", maybe_fail)]
    )
    assert out.count() == 5


def test_salted_join_correctness(spark):
    from geospark.plans.skew import hot_keys, salted_join

    # 90% of fact rows share key 7 (hot); dim has 10 keys
    fact = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("uid"),
    )
    dim = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val")
    )
    hot = hot_keys(fact, "k", threshold_ratio=0.5)
    assert hot == [7]
    got = salted_join(fact, dim, "k", n_salt=4, threshold_ratio=0.5,
                      entropy_col="uid")
    plain = fact.join(dim, "k")
    assert got.count() == plain.count() == 1000
    a = sorted((r["k"], r["uid"], r["dim_val"]) for r in got.collect())
    b = sorted((r["k"], r["uid"], r["dim_val"]) for r in plain.collect())
    assert a == b


def test_streaming_tile_counts_match_batch(spark, tmp_path):
    from geospark.cells import with_tile
    from geospark.extract import extract_points
    from geospark.pages import synth_pages
    from geospark.streaming import (
        read_pages_stream,
        run_to_memory,
        streaming_tile_counts,
    )

    spool = str(tmp_path / "spool")
    pages = synth_pages(spark, 500, partitions=4)
    pages.write.mode("overwrite").parquet(spool)

    stream = read_pages_stream(spark, spool, max_files_per_trigger=2)
    agg = streaming_tile_counts(stream, zoom=6, window="60 minutes")
    q = run_to_memory(agg, "tiles_stream", str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = spark.sql(
        "SELECT tile_x, tile_y, sum(n_points) AS n FROM tiles_stream "
        "GROUP BY 1, 2"
    ).collect()
    batch = (
        with_tile(extract_points(spark.read.parquet(spool)), 6)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted((r["tile_x"], r["tile_y"], r["n"]) for r in got) == sorted(
        (r["tile_x"], r["tile_y"], r["n"]) for r in batch
    )


def test_snapshot_table_ignores_inflight_tmp_manifest(spark, tmp_path):
    """A crash can leave '.tmp-*.json' (possibly truncated) in
    _snapshots — it must be invisible: not parsed (a half-written file
    would brick every read) and not counted as committed."""
    from geospark.runtime import SnapshotTable

    st = SnapshotTable(spark, str(tmp_path / "t"))
    st.write(spark.range(3).toDF("x"), stage="s1")
    # truncated in-flight commit
    with open(f"{st.path}/_snapshots/.tmp-deadbeef.json", "w") as fh:
        fh.write('{"snapshot_id": "dead')
    ms = st._manifests()
    assert len(ms) == 1 and ms[0]["stage"] == "s1"
    assert st.read().count() == 3  # read path unaffected


def test_salted_join_rejects_non_fact_preserving_how(spark):
    import pytest as _pytest

    from geospark.plans.skew import salted_join

    fact = spark.createDataFrame([(1, "a")], "k long, v string")
    dim = spark.createDataFrame([(1, "d")], "k long, w string")
    for how in ("right", "full", "outer", "full_outer"):
        with _pytest.raises(ValueError):
            salted_join(fact, dim, "k", how=how)
    # fact-preserving types still work
    assert salted_join(fact, dim, "k", how="left").count() == 1


def test_snapshot_expire_reclaims_old_data_dirs(spark, tmp_path):
    import os

    from geospark.runtime import SnapshotTable

    st = SnapshotTable(spark, str(tmp_path / "t2"))
    st.write(spark.range(2).toDF("x"), stage="a", mode="append")
    st.write(spark.range(3).toDF("x"), stage="b", mode="append")
    st.write(st.read(), stage="compact", mode="overwrite")
    n_dirs_before = len(os.listdir(f"{st.path}/data"))
    removed = st.expire(keep_last=1)
    assert removed == 2  # the two delta dirs folded by the compaction
    assert len(os.listdir(f"{st.path}/data")) == n_dirs_before - 2
    assert st.read().count() == 5           # live view intact
    assert len(st._manifests()) == 3        # replay markers retained


# -- commits read their own footers -------------------------------------------
LINEAGE_DTYPES = [("partition_id", "int"), ("rows", "bigint"),
                  ("run_id", "string"), ("stage", "string"),
                  ("input_snapshot", "string"), ("output_snapshot", "string"),
                  ("wall_ms", "double")]


def test_snapshot_write_is_one_job_and_read_none(spark, tmp_path, jobs_in):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.range(0, 1000, numPartitions=3).withColumn("v", F.col("id") * 2)
    m, n_write = jobs_in(lambda: t.write(df, stage="s"))
    assert n_write == 1
    assert m["rows"] == 1000
    assert len(m["files"]) == 3 and sum(f["rows"] for f in m["files"]) == 1000
    assert all(f["bytes"] > 0 for f in m["files"])
    schema, n_read = jobs_in(lambda: t.read().schema)
    assert n_read == 0
    assert schema.simpleString() == "struct<id:bigint,v:bigint>"
    assert t.read().count() == 1000


def test_snapshot_read_schema_matches_inference(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType, DecimalType, DoubleType, IntegerType, LongType, MapType,
        StringType, StructField, StructType, TimestampType)

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("amount", DecimalType(12, 3), True),
        StructField("ts", TimestampType(), True),
        StructField("tags", ArrayType(IntegerType(), False), True),
        StructField("attrs", MapType(StringType(), DoubleType()), True),
        StructField("pt", StructType([StructField("a", IntegerType(), False),
                                      StructField("b", StringType())]), False),
    ])
    rows = [(1, Decimal("12.345"), dt.datetime(2024, 1, 2, 3, 4, 5), [1, 2],
             {"x": 1.5}, (7, "s")),
            (2, None, None, None, None, (8, None))]
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    m = t.write(spark.createDataFrame(rows, schema), stage="s")
    inferred = spark.read.parquet(*m["data_dirs"])
    assert t.read().schema == inferred.schema
    assert sorted(t.read().collect()) == sorted(inferred.collect())


def test_snapshot_append_sums_rows_and_keeps_parent_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    m1 = t.write(spark.range(0, 10, numPartitions=2), stage="a")
    m2 = t.write(spark.range(100, 103, numPartitions=1), stage="b", mode="append")
    assert m2["rows"] == 13 and m2["rows_added"] == 3
    assert m2["files"][: len(m1["files"])] == m1["files"]
    assert sum(f["rows"] for f in m2["files"]) == 13
    assert t.read().count() == 13


def test_snapshot_manifest_without_schema_still_reads(spark, tmp_path):
    import json
    import os

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    m = t.write(spark.range(5).withColumn("s", F.col("id").cast("string")))
    name = [f for f in os.listdir(f"{t.path}/_snapshots") if f.endswith(".json")][0]
    path = f"{t.path}/_snapshots/{name}"
    with open(path) as fh:
        old = json.load(fh)
    for key in ("schema", "files"):  # a manifest from before footer reads
        old.pop(key)
    with open(path, "w") as fh:
        json.dump(old, fh)
    got = t.read()
    assert got.schema == t._read(m).schema
    assert sorted(r["s"] for r in got.collect()) == [str(i) for i in range(5)]


def test_snapshot_commit_parses_at_most_one_manifest(spark, tmp_path, monkeypatch):
    import json
    import os
    import shutil

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.write(spark.range(3), stage="s0")
    d = f"{t.path}/_snapshots"
    first = os.listdir(d)[0]
    for seq in range(1, 50):  # 50 committed manifests
        shutil.copy(f"{d}/{first}", f"{d}/{seq:06d}-{first.split('-', 1)[1]}")
    loads = {"n": 0}
    real_load = json.load

    def counting_load(fh):
        loads["n"] += 1
        return real_load(fh)

    monkeypatch.setattr(json, "load", counting_load)
    m = t.write(spark.range(4), stage="s50", mode="append")
    assert loads["n"] <= 1
    assert m["rows"] == 7
    assert sorted(os.listdir(d))[-1] == f"000050-{m['snapshot_id']}.json"


def test_pipeline_lineage_one_row_per_part_file(spark, tmp_path, jobs_in):
    root = str(tmp_path / "pipe")
    p = Pipeline(spark, root, run_id="r1")
    stages = [Stage("double", lambda df: df.withColumn("v", F.col("id") * 2)),
              Stage("empty", lambda df: df.filter(F.col("id") < 0))]
    out, n_jobs = jobs_in(lambda: p.run(spark.range(0, 50, numPartitions=3),
                                                stages))
    # the source commit and the two (map-only) stage writes; lineage and
    # the read-backs run no job
    assert n_jobs == 3
    assert out.count() == 0
    lin = p.lineage()
    assert lin.dtypes == LINEAGE_DTYPES
    rows = lin.toPandas()
    for name in ("double", "empty"):
        m = p.table(name).current()
        got = rows[rows["stage"] == name].sort_values("partition_id")
        assert len(got) == len(m["files"]) >= 1
        assert list(got["partition_id"]) == list(range(len(m["files"])))
        assert list(got["rows"]) == [f["rows"] for f in m["files"]]
        assert got["rows"].sum() == m["rows"]
        assert set(got["output_snapshot"]) == {m["snapshot_id"]}
    assert len(p.table("_source").current()["files"]) == 3
    # an empty stage commits rows 0 and reads back with its schema
    empty = p.table("empty")
    m = empty.current()
    assert m["rows"] == 0
    assert empty.read().schema == spark.read.parquet(*m["data_dirs"]).schema
    assert empty.read().count() == 0
