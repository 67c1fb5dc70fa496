"""Spool backend selection (geospark/spool.py).

The backend policy must be master-aware when the conf is unset:
local masters spool via localCheckpoint, non-local masters demand a
durable target (reliable) or warn loudly — a cluster job must never
silently depend on executor-local blocks. choose_backend is a pure
function so every (explicit, master, target) cell is testable without
standing up a cluster.
"""

import warnings

import pytest

from geospark.spool import SPOOL_CONF, SPOOL_DIR_CONF, choose_backend, spool


@pytest.mark.parametrize(
    "explicit,master,target,want",
    [
        # explicit conf always wins, whatever the master
        ("local", "yarn", True, "local"),
        ("reliable", "local[4]", True, "reliable"),
        ("table", "k8s://https://host", False, "table"),
        # unset + local master -> local, no warning
        (None, "local[32]", False, "local"),
        (None, "local[*]", True, "local"),
        # unset + cluster master + durable target -> reliable
        (None, "yarn", True, "reliable"),
        (None, "spark://master:7077", True, "reliable"),
        (None, "k8s://https://host:443", True, "reliable"),
    ],
)
def test_choose_backend_matrix(explicit, master, target, want):
    backend, warn = choose_backend(explicit, master, target)
    assert backend == want
    assert warn is None


def test_choose_backend_cluster_without_target_warns():
    backend, warn = choose_backend(None, "yarn", False)
    assert backend == "local"  # still runs, but...
    assert warn is not None and "does NOT survive executor loss" in warn
    assert SPOOL_CONF in warn and SPOOL_DIR_CONF in warn


def test_spool_local_default(spark):
    df = spark.range(100)
    out = spool(df)
    assert out.count() == 100


def test_spool_reliable_backend(spark, tmp_path):
    spark.conf.set(SPOOL_CONF, "reliable")
    spark.conf.set(SPOOL_DIR_CONF, str(tmp_path / "ckpt"))
    try:
        out = spool(spark.range(50))
        assert out.count() == 50
    finally:
        spark.conf.unset(SPOOL_CONF)
        spark.conf.unset(SPOOL_DIR_CONF)


def test_spool_table_backend(spark, tmp_path):
    spark.conf.set(SPOOL_CONF, "table")
    spark.conf.set(SPOOL_DIR_CONF, str(tmp_path / "tbl"))
    try:
        out = spool(spark.range(25), name="t")
        assert out.count() == 25
    finally:
        spark.conf.unset(SPOOL_CONF)
        spark.conf.unset(SPOOL_DIR_CONF)


def test_reliable_spool_runs_cluster_and_minhash(spark, tmp_path):
    """The iterative operators (cluster contraction, the minhash
    per-document spool) produce identical results through the reliable
    backend —
    the backend swap is transparent to every spool() call site."""
    from pyspark.sql import functions as F

    from geospark.cluster import cluster_nearby
    from geospark.textops import minhash_neardup_pairs

    pts = spark.createDataFrame(
        [(i, 50.0 + (i % 7) * 1e-5, 8.0 + (i // 7) * 0.5) for i in range(21)],
        "pid long, lat double, lng double",
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different text with no overlap at all here")],
        "doc_id long, text string",
    )

    def run():
        c = (cluster_nearby(pts, max_dist_m=50.0, id_col="pid")
             .groupBy("cluster_id").agg(F.count("*").alias("n"))
             .orderBy("cluster_id").collect())
        m = (minhash_neardup_pairs(docs, threshold=0.5)
             .select("doc_id_a", "doc_id_b").orderBy("doc_id_a").collect())
        return [tuple(r) for r in c], [tuple(r) for r in m]

    base = run()
    spark.conf.set(SPOOL_CONF, "reliable")
    spark.conf.set(SPOOL_DIR_CONF, str(tmp_path / "rel"))
    try:
        assert run() == base
    finally:
        spark.conf.unset(SPOOL_CONF)
        spark.conf.unset(SPOOL_DIR_CONF)


def test_spool_unknown_backend_raises(spark):
    spark.conf.set(SPOOL_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="unknown spool backend"):
            spool(spark.range(1))
    finally:
        spark.conf.unset(SPOOL_CONF)


def test_spool_warning_emitted_for_fake_cluster(spark, monkeypatch):
    """End-to-end: a non-local master with no target warns at spool()."""
    import geospark.spool as S

    real = S.choose_backend

    def fake(explicit, master, target):
        return real(explicit, "yarn", False)

    monkeypatch.setattr(S, "choose_backend", fake)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = S.spool(spark.range(10))
        assert out.count() == 10
    assert any("does NOT survive executor loss" in str(x.message) for x in w)
