"""Similarity search: brute-force cosine vs numpy oracle; LSH ANN vs a
numpy replication of the exact same bucket math; multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospark import embeddings as E

DIM = 8


def _emb_df(spark, n=40, dim=DIM):
    rng = np.random.RandomState(3)
    base = rng.randn(4, dim)
    rows = []
    for i in range(n):
        v = base[i % 4] + rng.randn(dim) * 0.05  # 4 tight clusters
        rows.append((i, [float(x) for x in v.astype(np.float32)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), rows


def _np_cosine(rows):
    V = np.array([np.array(v, np.float64) for _, v in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    return Vn @ Vn.T


def test_cosine_topk_matches_numpy(spark):
    df, rows = _emb_df(spark)
    S = _np_cosine(rows)
    got = E.cosine_topk(df, [0, 5], k=5, vec_col="embedding").collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    for q in (0, 5):
        sims = [(j, S[q, j]) for j in range(len(rows)) if j != q]
        sims.sort(key=lambda t: (-t[1], t[0]))
        expect = [(j, round(s, 6)) for j, s in sims[:5]]
        assert by_q[q] == expect


def test_ann_matches_numpy_bucket_replication(spark):
    df, rows = _emb_df(spark)
    S = _np_cosine(rows)
    n_planes = 4
    planes = np.array(E._plane_weights(n_planes, DIM))
    V = np.array([np.array(v, np.float64) for _, v in rows])
    dots = V @ planes.T
    buckets = ((dots > 0).astype(np.int64) << np.arange(n_planes)).sum(axis=1)

    # probe_radius=0: candidates are exactly the same-bucket vectors
    got = E.ann_topk(df, [0], k=5, n_planes=n_planes, dim=DIM,
                     probe_radius=0).collect()
    cand = [j for j in range(len(rows)) if buckets[j] == buckets[0] and j != 0]
    cand.sort(key=lambda j: (-S[0, j], j))
    expect = [(j, round(S[0, j], 6)) for j in cand[:5]]
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == expect

    # probe_radius=1 widens candidates to all buckets within 1 sign flip
    got1 = E.ann_topk(df, [0], k=5, n_planes=n_planes, dim=DIM,
                      probe_radius=1).collect()
    cand1 = [
        j for j in range(len(rows))
        if bin(buckets[j] ^ buckets[0]).count("1") <= 1 and j != 0
    ]
    cand1.sort(key=lambda j: (-S[0, j], j))
    expect1 = [(j, round(S[0, j], 6)) for j in cand1[:5]]
    assert [(r["vec_id"], r["cos_sim"]) for r in got1] == expect1


def test_embedding_neardup_pairs(spark):
    df, rows = _emb_df(spark)
    S = _np_cosine(rows)
    got = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in E.embedding_neardup_pairs(
            df, threshold=0.99, n_planes=2, dim=DIM
        ).collect()
    }
    # every reported pair is genuinely >= threshold with the right value
    for (a, b), cs in got.items():
        assert round(S[a, b], 6) == cs
        assert S[a, b] >= 0.99 - 1e-9
    # same-cluster pairs that share a 2-plane bucket must be found
    assert len(got) > 0


def test_multimodal_feature_plumbing(spark):
    from geospark.multimodal import (
        _decode_image_real,
        extract_features,
        frame_sample,
        synth_media,
    )

    media = synth_media(spark, 30, partitions=3)
    feats = extract_features(media, decode_fake=True).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-5  # L1-normalized histogram
        assert r["n_bytes"] == 512  # 64 x uint64

    frames = frame_sample(media, every_n_bytes=128, max_frames=3).collect()
    assert len(frames) == 90  # 512 bytes -> 4 chunks, capped at 3 -> 3 x 30
    assert all(len(r["frame_bytes"]) == 128 for r in frames)

    with pytest.raises(NotImplementedError):
        _decode_image_real(b"\x89PNG")


def test_multimodal_resize_plumbing(spark):
    """Block-mean resize: integer pooling matches the independent
    pure-python twin byte-for-byte; metadata and payload shapes hold;
    empty payload pools to zeros."""
    from geospark.goldens import resize_blocks_py
    from geospark.multimodal import resize_media, synth_media

    media = synth_media(spark, 20, partitions=3)
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    out = resize_media(media, out_w=4, out_h=4).collect()
    assert len(out) == 20
    for r in out:
        want = resize_blocks_py(raw[r["media_id"]], 16)
        assert list(r["blocks"]) == want
        assert bytes(r["payload"]) == bytes(want)
        assert (r["width"], r["height"]) == (4, 4)
        assert r["n_bytes_in"] == len(raw[r["media_id"]])

    empty = spark.createDataFrame(
        [(1, "image", b"")], "media_id long, kind string, payload binary")
    r = resize_media(empty, out_w=2, out_h=2).collect()[0]
    assert list(r["blocks"]) == [0, 0, 0, 0]

    # fewer input bytes than blocks: empty ranges pool to 0, the rest
    # carry single bytes
    tiny = spark.createDataFrame(
        [(2, "image", bytes([10, 200]))],
        "media_id long, kind string, payload binary")
    r = resize_media(tiny, out_w=2, out_h=2).collect()[0]
    assert list(r["blocks"]) == resize_blocks_py(bytes([10, 200]), 4)


def test_media_determinism(spark):
    from geospark.multimodal import synth_media

    a = sorted(synth_media(spark, 20, partitions=2).collect(),
               key=lambda r: r["media_id"])
    b = sorted(synth_media(spark, 20, partitions=7).collect(),
               key=lambda r: r["media_id"])
    assert [bytes(r["payload"]) for r in a] == [bytes(r["payload"]) for r in b]


def test_ann_and_neardup_recall_scaling(spark):
    """Recall vs exact ground truth at the scale-credible configs.

    Near-dup pairs (cos >= 0.95): multi-table LSH (4 tables x 8
    planes) must reach >=0.9 recall while candidate pairs stay
    ~L*n^2/2^8 (bucketed), vs the naive 16-bucket self-join."""
    rng = np.random.RandomState(7)
    dim = 64
    rows = []
    vid = 0
    # 60 base vectors, each with one near-duplicate (cos ~0.99)
    for _ in range(60):
        v = rng.randn(dim)
        d = v + rng.randn(dim) * 0.05
        rows.append((vid, [float(x) for x in v.astype(np.float32)])); vid += 1
        rows.append((vid, [float(x) for x in d.astype(np.float32)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    S = _np_cosine(rows)
    n = len(rows)
    truth = {
        (i, j) for i in range(n) for j in range(i + 1, n) if S[i, j] >= 0.95
    }
    assert len(truth) >= 50

    from geospark import embeddings as E

    got = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in E.embedding_neardup_pairs(
            df, threshold=0.95, n_planes=8, dim=dim, n_tables=4
        ).collect()
    }
    recall_multi = len(got & truth) / len(truth)
    got1 = {
        (r["vec_id_a"], r["vec_id_b"])
        for r in E.embedding_neardup_pairs(
            df, threshold=0.95, n_planes=8, dim=dim, n_tables=1
        ).collect()
    }
    recall_single = len(got1 & truth) / len(truth)
    assert recall_multi >= 0.9
    assert recall_multi >= recall_single  # tables only add recall
    # no false positives by construction (exact refine)
    assert got <= truth


def test_ivf_full_probe_equals_exact(spark):
    """Probing every centroid list makes IVF exact — must equal
    cosine_topk; partial probe results are a subset ranked the same."""
    df, rows = _emb_df(spark)
    exact = [
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in E.cosine_topk(df, [0, 5], k=5).collect()
    ]
    full = [
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in E.ivf_topk(df, [0, 5], k=5, n_centroids=8, n_probe=8).collect()
    ]
    assert sorted(full) == sorted(exact)

    part = E.ivf_topk(df, [0], k=5, n_centroids=8, n_probe=2).collect()
    got = {(r["vec_id"], r["cos_sim"]) for r in part}
    allowed = {
        (r["vec_id"], r["cos_sim"])
        for r in E.cosine_topk(df, [0], k=40).collect()
    }
    assert got <= allowed  # every reported hit carries its exact score

def test_neardup_plane_count_sizing():
    """Auto-sizing solves L*n^2/2^(p+1) <= target and clamps."""
    from geospark.embeddings import neardup_plane_count

    # 5M vectors, 4 tables, 50M candidate budget -> ~19 planes
    p = neardup_plane_count(5_000_000, 4, 50_000_000)
    assert 4 * 5e6 * (5e6 - 1) / 2 / 2 ** p <= 50_000_000
    assert 4 * 5e6 * (5e6 - 1) / 2 / 2 ** (p - 1) > 50_000_000 or p in (6, 30)
    # 10^9 vectors hits the clamp (more tables is the lever past 30)
    assert neardup_plane_count(1_000_000_000, 4, 50_000_000) == 30
    # tiny inputs floor at 6 (buckets must still select)
    assert neardup_plane_count(100, 4, 50_000_000) == 6
    assert neardup_plane_count(1, 4, 1) == 6


def test_embedding_neardup_auto_sizing_runs(spark):
    """n_planes=None derives the plane count from n; precision stays
    exact (refine), every reported pair is above threshold."""
    from geospark.embeddings import embedding_neardup_pairs

    df, rows = _emb_df(spark)
    out = embedding_neardup_pairs(
        df, threshold=0.2, n_planes=None, dim=DIM, n_tables=4,
        target_candidates=1000, n_rows=len(rows),
    ).collect()
    assert out, "expected some near-dup pairs at threshold 0.2"
    for r in out:
        assert r["cos_sim"] >= 0.2
        assert r["vec_id_a"] < r["vec_id_b"]


def test_neardup_lsh_params_joint_sizing():
    """Joint (planes, tables) sizing meets BOTH the candidate budget
    and the recall floor — the planes-only sizer can't (20+ planes at
    4 fixed tables is ~0.4 recall at cos 0.95). The candidate check
    uses the finite-dim collision integral (_p_collide_unrelated),
    not the naive 2^-k: at k~23, dim=64 the true unrelated-pair
    collision rate is ~4.7x higher (measured on 1M synthetic vectors),
    and the budget scales with n (10 candidates/row) so refine work
    stays linear, not fixed."""
    import math

    from geospark.embeddings import _p_collide_unrelated, neardup_lsh_params

    for n in (100_000, 5_000_000, 1_000_000_000):
        budget = max(10 * n, 1_000_000)
        k, L = neardup_lsh_params(n, 0.95, 0.9, budget)
        p1 = (1 - math.acos(0.95) / math.pi) ** k
        recall = 1 - (1 - p1) ** L
        cand = L * n * (n - 1) / 2 * _p_collide_unrelated(k, 64)
        assert recall >= 0.9, (n, k, L, recall)
        assert cand <= budget, (n, k, L, cand)
    # the documented operating points (10/row budget, dim=64 integral)
    assert neardup_lsh_params(5_000_000, 0.95, 0.9, 50_000_000) == (26, 36)
    assert neardup_lsh_params(
        1_000_000_000, 0.95, 0.9, 10_000_000_000
    ) == (38, 131)
    assert neardup_lsh_params(1, 0.95, 0.9, 50_000_000) == (6, 1)


def test_p_collide_unrelated_vs_naive():
    """The finite-dim collision integral exceeds 2^-k and approaches
    it from above as dim grows (the correlation penalty e^{(2k/pi)^2
    /2d} shrinks); a Monte-Carlo check pins the dim=64 value."""
    import numpy as np

    from geospark.embeddings import _p_collide_unrelated

    for k in (8, 16, 23):
        p64 = _p_collide_unrelated(k, 64)
        p1024 = _p_collide_unrelated(k, 1024)
        assert p64 > 2.0 ** -k
        assert 2.0 ** -k < p1024 < p64
    # Monte Carlo with shared random planes (the actual LSH setup)
    rng = np.random.default_rng(7)
    k, dim, n = 16, 64, 4000
    planes = rng.standard_normal((k, dim))
    vecs = rng.standard_normal((n, dim))
    sigs = (vecs @ planes.T) > 0
    # pack sign bits -> bucket id, count colliding pairs
    weights = 1 << np.arange(k)
    buckets = (sigs * weights).sum(axis=1)
    _, counts = np.unique(buckets, return_counts=True)
    pairs = float((counts * (counts - 1) // 2).sum())
    p_mc = pairs / (n * (n - 1) / 2)
    p_model = _p_collide_unrelated(k, dim)
    assert 0.5 * p_model < p_mc < 2.0 * p_model, (p_mc, p_model)


def test_arrow_bucketer_matches_sql(spark):
    """lsh_bucket_arrow reproduces the SQL-expression buckets
    bit-for-bit for every table (same deterministic planes, float64
    dots on both sides)."""
    from pyspark.sql import functions as F

    df, rows = _emb_df(spark, n=60)
    n_planes, n_tables = 6, 3
    arrow = {
        (r["vid"], r["tbl"]): r["bucket"]
        for r in E.lsh_bucket_arrow(
            df, n_planes, DIM, n_tables
        ).collect()
    }
    assert len(arrow) == 60 * n_tables
    for t in range(n_tables):
        sql = {
            (r["vec_id"], t): r["bucket"]
            for r in E.lsh_bucket(df, n_planes, DIM, "embedding", table=t)
            .select("vec_id", "bucket").collect()
        }
        for key, b in sql.items():
            assert arrow[key] == b, (key, arrow[key], b)


def test_synth_embeddings_planted_structure(spark):
    """The deterministic embedding synthesizer: unit norms, planted
    (src, dup) pairs land in [min_cos, 1], values stable under
    partitioning (splitmix64 of the id, not the partition)."""
    from geospark.pages import synth_embeddings

    a = synth_embeddings(spark, 500, dim=16, dup_frac=0.3,
                         min_cos=0.9, partitions=2).collect()
    b = synth_embeddings(spark, 500, dim=16, dup_frac=0.3,
                         min_cos=0.9, partitions=7).collect()
    am = {r["vec_id"]: r for r in a}
    bm = {r["vec_id"]: r for r in b}
    assert len(am) == 500
    for k in am:
        assert am[k]["embedding"] == bm[k]["embedding"]
        assert am[k]["src_id"] == bm[k]["src_id"]
    V = {k: np.array(r["embedding"], np.float64) for k, r in am.items()}
    dups = [r for r in a if r["is_dup"]]
    assert len(dups) > 50
    for r in dups:
        v, s = V[r["vec_id"]], V[r["src_id"]]
        cos = float(v @ s / (np.linalg.norm(v) * np.linalg.norm(s)))
        assert 0.9 - 1e-5 <= cos <= 1.0 + 1e-9, (r["vec_id"], cos)
    for k, v in V.items():
        assert abs(np.linalg.norm(v) - 1.0) < 1e-4


def test_pq_topk_matches_python_twin(spark):
    """Integer-quantized PQ-ADC == the independent plain-Python PQ on
    a deterministic 40x8 corpus; codes stay in [0, n_codes)."""
    from geospark.embeddings import pq_encode, pq_topk
    from geospark.goldens import pq_topk_py

    vecs = [
        (i, [((i * 7 + j * 13) % 29) / 29.0 - 0.5 for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    # float32 storage: the twin must quantize the float32-rounded
    # values, exactly like the parquet-backed engine path
    import numpy as np
    vecs32 = [(i, [float(np.float32(x)) for x in v]) for i, v in vecs]

    codes = {r["vec_id"]: r["codes"]
             for r in pq_encode(df, m=2, n_codes=8).collect()}
    assert all(len(c) == 2 and all(0 <= x < 8 for x in c)
               for c in codes.values())

    got = [(r["query_id"], r["rn"], r["vec_id"], r["d2_q"])
           for r in pq_topk(df, [3, 17], k=5, m=2, n_codes=8)
           .orderBy("query_id", "rn").collect()]
    want = pq_topk_py(vecs32, [3, 17], k=5, m=2, n_codes=8)
    assert got == want
    # self-match: a query's own code distance is minimal for itself
    assert got[0][0] == 3 and got[0][3] <= got[1][3]


# --------------------------------------------------------------------
# Integer-exact k-means (embeddings.kmeans_fit) vs the independent
# plain-Python Lloyd twin (goldens.kmeans_py).
# --------------------------------------------------------------------

def _km_vecs(seed=5, n=40, dim=6):
    rng = np.random.default_rng(seed)
    return [(i, [float(x) for x in rng.normal(0, 0.5, dim)])
            for i in range(n)]


def test_kmeans_matches_python_twin(spark):
    from geospark.embeddings import kmeans_fit
    from geospark.goldens import kmeans_py

    vecs = _km_vecs()
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    a, cents = kmeans_fit(df, k=4, iters=3)
    per = {r["centroid_id"]: (r["n"], r["i"]) for r in
           a.groupBy("centroid_id")
           .agg(F.count("*").alias("n"), F.sum("d2").alias("i"))
           .collect()}
    golden = kmeans_py(vecs, 4, 3)
    assert {c: (n, i) for c, n, i, *_ in golden} == per
    for c, n, i, c_sum, c_min, c_max in golden:
        assert (sum(cents[c]), min(cents[c]), max(cents[c])) == \
            (c_sum, c_min, c_max)


def _kmeans_golden(vecs, k, iters):
    """(centroids, sorted (vec_id, centroid_id, d2) rows) from the
    plain-Python Lloyd twin."""
    from geospark.goldens import _d2_int, _lloyd_py, _quantize_vecs

    qv = _quantize_vecs(vecs)
    cents = _lloyd_py(qv, k, iters)
    return cents, sorted(
        (vid, c, d2) for vid, (d2, c) in
        ((vid, min((_d2_int(q, cc), i) for i, cc in enumerate(cents)))
         for vid, q in qv.items()))


@pytest.mark.parametrize("case", ["ties", "empty_cluster", "negative",
                                  "empty_partitions"])
def test_kmeans_numpy_pass_matches_twin(spark, case):
    """The numpy Lloyd pass replays goldens' Lloyd exactly: equal d2
    goes to the lowest centroid_id, a centroid nobody picks keeps its
    value, negative sums floor-divide toward -inf, and partitions
    with no rows add nothing."""
    k, iters = 3, 3
    if case == "ties":
        # every odd vector sits midway between two seeds
        vecs = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 1.0])] + [
            (i, [0.0, 0.25 * (i % 3) - 0.5] if i % 2 else
             [0.5 * (i % 5) - 1.0, 0.125 * i])
            for i in range(3, 24)]
    elif case == "empty_cluster":
        vecs = [(i, [0.5, -0.5, 0.25]) for i in range(2)] + [
            (i, [0.1 * i, -0.3, 0.2]) for i in range(2, 12)]
    elif case == "negative":
        rng = np.random.default_rng(11)
        vecs = [(i, [float(x) for x in -np.abs(rng.normal(0, 0.7, 5)) / 3])
                for i in range(30)]
    else:
        vecs = _km_vecs(seed=9, n=6, dim=4)
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    if case == "empty_partitions":
        df = df.repartition(16)
    a, cents = E.kmeans_fit(df, k=k, iters=iters)
    assert (cents, sorted(map(tuple, a.collect()))) == \
        _kmeans_golden(vecs, k, iters)


def test_kmeans_null_and_ragged_vectors(spark):
    """A null vector is left out of training and assigned centroid 0
    with a null d2 (the literal-array fold's result, kept); a vector
    of another length, or with a null component, raises."""
    schema = "vec_id long, embedding array<double>"
    base = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (3, [0.5, 0.5])]
    df = spark.createDataFrame(base + [(2, None)], schema)
    a, cents = E.kmeans_fit(df, k=2, iters=2)
    assert cents == [[750000, 250000], [0, 1000000]]
    assert sorted(map(tuple, a.collect())) == [
        (0, 0, 125000000000), (1, 1, 0), (2, 0, None), (3, 0, 125000000000)]
    for bad in ([0.3], [0.3, 0.2, 0.1], [None, 0.2]):
        df = spark.createDataFrame(base + [(2, bad)], schema)
        with pytest.raises(Exception, match="non-null components"):
            E.kmeans_fit(df, k=2, iters=2)


def test_kmeans_one_job_per_lloyd_iteration(spark, jobs_in):
    df, _ = _emb_df(spark)
    jobs = [jobs_in(lambda: E.kmeans_fit(df, k=4, iters=n, use_spool=False))[1]
            for n in (1, 3)]
    assert jobs[1] - jobs[0] == 2, jobs


def test_kmeans_duplicate_init_keeps_empty_centroid(spark):
    """vec 0 and 1 identical -> centroid 1 is never nearest (ties go
    to the lowest id) and must keep its init value through training."""
    from geospark.embeddings import kmeans_fit

    vecs = [(i, [1.0, 1.0]) for i in range(5)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    a, cents = kmeans_fit(df, k=2, iters=2)
    assert cents[1] == [1000000, 1000000]        # untouched init
    assert a.filter(F.col("centroid_id") == 1).count() == 0
    rows = a.collect()
    assert all(r["centroid_id"] == 0 and r["d2"] == 0 for r in rows)
    assert len(rows) == 5


def test_ivf_trained_full_probe_equals_bruteforce(spark):
    """ivf_topk_trained probing EVERY trained centroid list is exact —
    must equal an integer-L2 brute force on the quantized vectors; a
    partial probe returns a subset with identical exact distances."""
    import math

    df, rows = _emb_df(spark)
    qv = {vid: [math.floor(float(x) * 1e6) for x in v] for vid, v in rows}

    def brute(qid, k):
        scored = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv[qid], qv[vid])), vid)
            for vid in qv
        )
        return [(qid, rn, vid, d) for rn, (d, vid) in
                enumerate(scored[:k], start=1)]

    full = sorted(
        tuple(r) for r in E.ivf_topk_trained(
            df, [0, 5], k=5, n_centroids=4, iters=2, n_probe=4
        ).collect()
    )
    assert full == sorted(brute(0, 5) + brute(5, 5))

    part = E.ivf_topk_trained(df, [0], k=5, n_centroids=4, iters=2,
                              n_probe=1).collect()
    exact_d = {vid: d for _, _, vid, d in brute(0, len(qv))}
    assert len(part) == 5
    for r in part:
        assert r["d2_q"] == exact_d[r["vec_id"]]


def test_ivf_trained_matches_golden_twin(spark):
    """Spark ivf_topk_trained replays bit-identically in the
    plain-Python twin (goldens.ivf_trained_py) — the oracle contract
    behind the emb_ivf_trained driver query."""
    from geospark import goldens as GO

    df, rows = _emb_df(spark)
    vecs = [(vid, list(v)) for vid, v in rows]
    want = sorted(GO.ivf_trained_py(vecs, [0, 5, 17], 7, 4, 3, 2))
    got = sorted(
        tuple(r) for r in E.ivf_topk_trained(
            df, [0, 5, 17], k=7, n_centroids=4, iters=3, n_probe=2
        ).collect()
    )
    assert got == want


def test_ivfpq_matches_golden_twin(spark):
    """Spark ivfpq_topk (residual-PQ ADC inside kmeans-probed lists)
    replays bit-identically in the plain-Python twin
    (goldens.ivfpq_py) — the oracle contract behind the emb_ivfpq
    driver query."""
    from geospark import goldens as GO

    df, rows = _emb_df(spark)
    vecs = [(vid, list(v)) for vid, v in rows]
    want = sorted(GO.ivfpq_py(vecs, [0, 5, 17], 7, 4, 3, 2, 4, 8))
    got = sorted(
        tuple(r) for r in E.ivfpq_topk(
            df, [0, 5, 17], k=7, n_centroids=4, iters=3, n_probe=2,
            m=4, n_codes=8,
        ).collect()
    )
    assert got == want


def test_ivfpq_recall_vs_exact(spark):
    """ADC is an approximation, but on the 4-tight-cluster corpus a
    2-of-4 probe with an 8-entry residual codebook must place most of
    the exact top-5 in its top-5 (recall >= 0.6) — the quality floor
    that makes the operator usable, not just well-typed."""
    import math

    df, rows = _emb_df(spark)
    qv = {vid: [math.floor(float(x) * 1e6) for x in v] for vid, v in rows}
    got = E.ivfpq_topk(df, [0, 5], k=5, n_centroids=4, iters=3,
                       n_probe=2, m=4, n_codes=8).collect()
    hits = total = 0
    for qid in (0, 5):
        exact = {vid for _, vid in sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv[qid], qv[vid])), vid)
            for vid in qv)[:5]}
        approx = {r["vec_id"] for r in got if r["query_id"] == qid}
        hits += len(exact & approx)
        total += 5
    assert hits / total >= 0.6


def test_arrow_fast_paths_bit_identical(spark):
    """The Arrow (numpy matmul) assignment/encode kernels must be
    BIT-IDENTICAL to the literal-array JVM expression paths — same
    exact int64 L2, same lowest-id tie rule — across pq_encode and the
    full ivfpq_topk composition; kmeans_fit (numpy only) is checked
    against its plain-Python twin."""
    df, rows = _emb_df(spark)
    a1, c1 = E.kmeans_fit(df, k=4, iters=3, with_vec=False)
    assert (c1, sorted(map(tuple, a1.collect()))) == _kmeans_golden(rows, 4, 3)
    e1 = sorted((r["vec_id"], tuple(r["codes"]))
                for r in E.pq_encode(df, m=4, n_codes=8).collect())
    e2 = sorted((r["vec_id"], tuple(r["codes"]))
                for r in E.pq_encode(df, m=4, n_codes=8,
                                     arrow=True).collect())
    assert e1 == e2
    t1 = sorted(tuple(r) for r in E.ivfpq_topk(
        df, [0, 5], k=5, n_centroids=4, iters=2, n_probe=2, m=4,
        n_codes=8).collect())
    t2 = sorted(tuple(r) for r in E.ivfpq_topk(
        df, [0, 5], k=5, n_centroids=4, iters=2, n_probe=2, m=4,
        n_codes=8, arrow=True).collect())
    assert t1 == t2


def test_pq_rerank_matches_twin_and_fixes_adc(spark):
    """pq_topk_rerank == the plain-Python twin; with rerank = corpus
    size the exact rerank must equal integer-L2 brute force (ADC's
    quantization error is fully corrected), and d2_exact is the true
    integer distance (0 for the query itself)."""
    import math

    from geospark import goldens as GO

    df, rows = _emb_df(spark)
    vecs = [(vid, list(v)) for vid, v in rows]
    got = sorted(
        tuple(r) for r in E.pq_topk_rerank(
            df, [0, 5], k=5, rerank=12, m=4, n_codes=8).collect()
    )
    assert got == sorted(GO.pq_rerank_py(vecs, [0, 5], 5, 12, 4, 8))
    # full-corpus rerank == exact brute force
    qv = {vid: [math.floor(float(x) * 1e6) for x in v] for vid, v in rows}

    def brute(qid, k):
        scored = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv[qid], qv[vid])), vid)
            for vid in qv
        )
        return [(qid, rn, vid, d) for rn, (d, vid) in
                enumerate(scored[:k], start=1)]

    full = sorted(
        tuple(r) for r in E.pq_topk_rerank(
            df, [0], k=5, rerank=len(rows), m=4, n_codes=8).collect()
    )
    assert full == sorted(brute(0, 5))
    assert full[0][3] == 0  # the query itself at exact distance 0


def test_ivf_topk_with_trained_centroids(spark):
    """The cosine ivf_topk accepts kmeans-trained centroids via
    kmeans_centroids_df: full probe stays exact (== cosine_topk), and
    with a partial probe the trained lists lose no recall vs the
    deterministic first-k lists on clustered data."""
    df, rows = _emb_df(spark)
    _, cents = E.kmeans_fit(df, k=4, iters=3)
    cdf = E.kmeans_centroids_df(spark, cents)

    exact = sorted(
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in E.cosine_topk(df, [0, 5], k=5).collect()
    )
    full = sorted(
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in E.ivf_topk(df, [0, 5], k=5, n_probe=4,
                            centroids=cdf).collect()
    )
    assert full == exact

    def recall(res):
        hits = {(r["query_id"], r["vec_id"]) for r in res}
        want = {(q, v) for q, v, _ in exact}
        return len(hits & want) / len(want)

    trained = E.ivf_topk(df, [0, 5], k=5, n_probe=1, centroids=cdf).collect()
    naive = E.ivf_topk(df, [0, 5], k=5, n_centroids=4, n_probe=1).collect()
    # 4 trained centroids on 4-cluster data: one probe is enough
    assert recall(trained) == 1.0
    assert recall(trained) >= recall(naive)


def test_frame_sample_ragged_tail(spark):
    """Frame slicing parity vs a pure-python twin on payloads that are
    NOT a multiple of the frame size: the last frame must carry the
    short tail, empty payloads yield no frames, and the max_frames cap
    truncates rather than pads."""
    from geospark.multimodal import frame_sample

    payloads = {
        1: bytes(range(256)) * 2 + b"tail",   # 516 bytes -> 5 frames pre-cap
        2: b"",                                # 0 bytes -> 0 frames
        3: b"x" * 100,                         # 1 short frame
        4: b"y" * 128,                         # exactly one frame
    }
    media = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()], "media_id long, payload binary"
    )
    got = {
        (r["media_id"], r["frame_idx"]): bytes(r["frame_bytes"])
        for r in frame_sample(media, every_n_bytes=128, max_frames=3).collect()
    }
    want = {}
    for mid, p in payloads.items():
        n_frames = min(3, (len(p) + 127) // 128)
        for i in range(n_frames):
            want[(mid, i)] = p[i * 128 : (i + 1) * 128]
    assert got == want
    assert (2, 0) not in got and (1, 3) not in got


def _bmp24_bytes(px: np.ndarray, top_down: bool = False) -> bytes:
    """Independent hand-rolled 24-bit BI_RGB BMP writer (bottom-up
    unless top_down, 4-byte row stride, BGR order) — the golden
    counterpart of multimodal._decode_bmp24."""
    h, w, _ = px.shape
    stride = ((w * 3 + 3) // 4) * 4
    order = range(h) if top_down else range(h - 1, -1, -1)
    rows = b"".join(
        bytes(int(v) for p in px[y] for v in p[::-1]).ljust(stride, b"\x00")
        for y in order
    )
    return (
        b"BM" + (54 + len(rows)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (h if not top_down else -h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(rows).to_bytes(4, "little")
        + b"\x00" * 16 + rows
    )


def test_decode_image_bmp_ppm_golden():
    """Real decode of real image bytes with no imaging library: the
    built-in BMP/PPM decoders recover the exact pixel array from
    hand-built files (incl. row padding, bottom-up vs top-down BMP,
    binary vs ascii PPM, header comments)."""
    from geospark import multimodal as M

    px = np.array(
        [[[255, 0, 10], [0, 128, 20], [7, 8, 9]],
         [[1, 2, 3], [250, 251, 252], [90, 91, 92]]], dtype=np.uint8)
    assert np.array_equal(M.decode_image(_bmp24_bytes(px)), px)
    assert np.array_equal(M.decode_image(_bmp24_bytes(px, top_down=True)), px)
    p6 = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert np.array_equal(M.decode_image(p6), px)
    p3 = (b"P3\n3 2\n# mid-header comment\n255\n"
          + " ".join(str(int(v)) for v in px.reshape(-1)).encode())
    assert np.array_equal(M.decode_image(p3), px)
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG\r\n\x1a\n....")


def test_extract_features_real_decode_spark(spark):
    """extract_features(decode_fake=False) end-to-end on real BMP
    bytes: the feature vector is the 16-bin L1 histogram of DECODED
    pixels, not of the raw payload (header bytes must not leak in)."""
    from geospark import multimodal as M

    px = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3) * 5
    payload = _bmp24_bytes(px)
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, kind string, payload binary")
    row = M.extract_features(df, decode_fake=False).collect()[0]
    want, _ = np.histogram(px.reshape(-1), bins=16, range=(0, 256))
    got = np.array(row["features"], dtype=np.float64)
    assert row["n_bytes"] == len(payload)
    assert np.allclose(got, want / px.size, atol=1e-7)


def test_semdedup_matches_twin_and_plants(spark):
    """SemDeDup vs the independent union-find twin on a corpus with
    PLANTED duplicate groups: three near-identical copies of one
    vector (transitive group, canonical = min id), a scaled copy
    (cosine 1.0 at different magnitude — still a dup), an
    antipodal vector (cos = -1, never a dup), and unrelated
    vectors."""
    import numpy as np

    from geospark import goldens as GO

    rng = np.random.default_rng(99)
    base = rng.uniform(-1, 1, 8)
    rows = [
        (0, list(base)),
        (1, list(base + 1e-5)),            # near-identical
        (2, list(base * 0.5 + 1e-5)),      # scaled copy -> cosine ~1
        (3, list(-base)),                  # antipodal: cos -1
    ] + [(i, list(rng.uniform(-1, 1, 8))) for i in range(4, 16)]
    rows = [(i, [float(x) for x in v]) for i, v in rows]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(tuple(r) for r in E.semdedup(
        df, n_centroids=3, iters=2, tau_num=9801, tau_den=10000).collect())
    want = GO.semdedup_py(rows, 3, 2, tau_num=9801, tau_den=10000)
    assert got == [tuple(r) for r in want]
    by_id = {r[0]: r for r in got}
    # planted copies that share a cluster must collapse to id 0's group
    same_cluster = [i for i in (1, 2) if by_id[i][1] == by_id[0][1]]
    for i in same_cluster:
        assert by_id[i][2] == by_id[0][2] and by_id[i][3] == 1, by_id[i]
    assert by_id[3][3] == 0  # antipodal is never a duplicate


def test_semdedup_group_invariants(spark):
    """Structural invariants on real testdata: canonical ids are group
    minima and fixed points (a canonical row is never itself a dup),
    groups never span clusters (edges exist only within a cluster),
    and is_dup == (canonical != self)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = E.semdedup(emb).collect()
    by_id = {r["vec_id"]: r for r in rows}
    assert len(rows) == len(by_id)
    groups: dict[int, list] = {}
    for r in rows:
        assert r["canonical_id"] <= r["vec_id"]
        assert r["is_dup"] == int(r["canonical_id"] != r["vec_id"])
        groups.setdefault(r["canonical_id"], []).append(r)
    for canon, members in groups.items():
        c = by_id[canon]
        assert c["is_dup"] == 0 and c["canonical_id"] == canon
        assert canon == min(m["vec_id"] for m in members)
        assert len({m["centroid_id"] for m in members}) == 1, canon


def _uf_canonical(ids, v_q, tau_num, tau_den):
    """Brute-force twin of E.semdedup_canonical: Python-int pairs over
    the floor-div-1000 components and a plain union-find keeping the
    lower id as root."""
    v = [[int(x) // 1000 for x in row] for row in v_q]
    ids = [int(i) for i in ids]
    norms = [sum(x * x for x in row) for row in v]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            d = sum(x * y for x, y in zip(v[a], v[b]))
            if d > 0 and tau_den * d * d > tau_num * norms[a] * norms[b]:
                ra, rb = find(ids[a]), find(ids[b])
                parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in ids]


def _planted_cluster(n=301, dim=16, seed=4):
    """n quantized vectors: 40 planted groups (a base plus noisy
    copies, so some copies only join their group transitively) under
    sparse shuffled ids."""
    rng = np.random.default_rng(seed)
    base = rng.integers(-10**6, 10**6, (40, dim))
    v_q = base[rng.integers(0, 40, n)] + rng.integers(-4 * 10**5, 4 * 10**5,
                                                      (n, dim))
    ids = rng.permutation(10 * n)[:n].astype(np.int64) * 3 + 7
    return ids, v_q.astype(np.int64)


def test_semdedup_kernel_spans_tiles_and_matches_union_find(monkeypatch):
    """The per-cluster kernel over many Gram tiles (6 rows each, the
    last one short) equals a brute-force union-find, and a shuffled
    row order returns the same canonical id for every vector."""
    monkeypatch.setattr(E, "_SEMDEDUP_TILE", 6 * 301)
    ids, v_q = _planted_cluster()
    got = E.semdedup_canonical(ids, v_q, 16, 25)
    want = _uf_canonical(ids, v_q, 16, 25)
    assert got.tolist() == want
    groups = {}
    for i, c in zip(ids.tolist(), want):
        groups.setdefault(c, []).append(i)
    assert sum(len(g) > 2 for g in groups.values()) >= 30  # not vacuous
    perm = np.random.default_rng(1).permutation(len(ids))
    shuffled = E.semdedup_canonical(ids[perm], v_q[perm], 16, 25)
    assert dict(zip(ids[perm].tolist(), shuffled.tolist())) == dict(
        zip(ids.tolist(), got.tolist()))


def test_semdedup_kernel_single_vector():
    got = E.semdedup_canonical(np.array([42]), np.array([[5000, -3000]]),
                               49, 400)
    assert got.tolist() == [42]


def test_semdedup_kernel_raises_instead_of_wrapping():
    """Two identical vectors whose tau * dot^2 exceeds 2^63: numpy int64
    wraps that product, the kernel raises ArithmeticError; just inside
    the bound the pair is an exact duplicate."""
    big = np.array([[8 * 10**7] * 2] * 2)     # coarsened |v|^2 = 1.28e10
    d = (big[0] // 1000 * big[1] // 1000).sum()
    with np.errstate(over="ignore"):                 # int64 wraps
        assert int(np.int64(400) * d * d) != 400 * int(d) ** 2
    with pytest.raises(ArithmeticError):
        E.semdedup_canonical(np.array([1, 2]), big, 49, 400)
    with pytest.raises(ArithmeticError):          # |v|^2 itself wraps
        E.semdedup_canonical(np.array([1, 2]), big * 10**5, 49, 400)
    ok = np.array([[8 * 10**6] * 2] * 2)      # 400 * 1.28e8^2 < 2^63
    assert E.semdedup_canonical(np.array([1, 2]), ok, 49, 400).tolist() \
        == [1, 1]
