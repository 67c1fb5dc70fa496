"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exactness baseline — dot products as
  JVM higher-order array expressions (zip_with + aggregate), broadcast
  of the query set, window top-k. No Python in the hot path.
- LSH-bucketed ANN: deterministic random-hyperplane signs -> bucket
  key -> hash join on bucket -> exact re-rank inside the bucket. The
  scale path: candidate set shrinks ~2^n_planes-fold; multiple
  probe tables (sign flips) trade recall for cost.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
    "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)


def dot(a: str, b: str):
    return F.expr(_DOT.format(a=a, b=b))


def norm(a: str):
    return F.expr(_NORM.format(a=a))


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query vector: (query_id, vec_id, cos_sim).

    Plan: broadcast the query vectors, one narrow pass computes all
    similarities (codegen'd array fold), window top-k per query. Ties
    break on vec_id. Self-matches excluded."""
    queries = (
        emb.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    joined = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v_vec")
    ).crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("query_id"))
    sim = joined.withColumn(
        "cos_sim",
        dot("q_vec", "v_vec") / (norm("q_vec") * norm("v_vec")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _plane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random GAUSSIAN hyperplanes: Box-Muller
    over splitmix64 streams keyed on (plane, dim) — reproducible
    across engines/runs (the weights are embedded as literals in both
    the Spark and DuckDB expressions, so any deterministic generator
    keeps the twins in sync).

    Gaussian, because the original LCG-style formula produced planes
    with pairwise |cos| up to 0.99995 once 20+ planes were drawn —
    near-duplicate planes halve the effective bit count, and the
    bucket self-join's candidate volume blew up ~12x over the uniform
    L*C(n,2)/2^k estimate at 23 planes (measured at 1M vectors).
    splitmix64-mixed gaussians keep max |cos| at the ~4/sqrt(dim)
    level random theory predicts, which is what the
    neardup_lsh_params sizing model assumes."""
    import numpy as np

    from geospark.pages import _splitmix64, _u01

    h = np.arange(n_planes, dtype=np.uint64)[:, None]
    j = np.arange(dim, dtype=np.uint64)[None, :]
    base = h * np.uint64(0x9E3779B97F4A7C15) + j * np.uint64(0xBF58476D1CE4E5B9)
    u1 = np.maximum(_u01(_splitmix64(base + np.uint64(101))), 1e-12)
    u2 = _u01(_splitmix64(base + np.uint64(202)))
    g = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    return [[float(x) for x in row] for row in g]


def lsh_bucket(emb: DataFrame, n_planes: int = 8, dim: int = 64,
               vec_col: str = "embedding", table: int = 0,
               bucket_col: str = "bucket"):
    """Append a sign-bucket column: bit h = sign(dot(plane_h, vec)).
    ``table`` selects a disjoint plane block, so L independent hash
    tables come from table=0..L-1 (multi-table LSH)."""
    planes = _plane_weights((table + 1) * n_planes, dim)[table * n_planes:]
    bucket = None
    for h, w in enumerate(planes):
        arr = "array(" + ", ".join(repr(x) for x in w) + ")"
        d = F.expr(_DOT.format(a=arr, b=vec_col))
        bit = F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, h)
        bucket = term if bucket is None else bucket.bitwiseOR(term)
    return emb.withColumn(bucket_col, bucket)


def ann_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
             n_planes: int = 8, dim: int = 64, probe_radius: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: hash join on the sign bucket with MULTI-PROBE
    (each query also probes every bucket within ``probe_radius`` sign
    flips — (n_planes choose <=r)+1 buckets), exact cosine re-rank over
    candidates. Candidates ~ n*(1+n_planes)/2^n_planes per query at
    r=1, so the bucket count can stay high (selective) without the
    single-bucket recall cliff. Returns (query_id, vec_id, cos_sim);
    recall measured in tests against cosine_topk."""
    bucketed = lsh_bucket(emb, n_planes, dim, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v_vec"), "bucket"
    )
    queries = bucketed.filter(
        F.col("vec_id").isin([int(q) for q in query_ids])
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v_vec").alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    # probe table: the query's own bucket + every 1-bit flip (r=1);
    # explode keeps the join an equi-join (broadcastable, skew-safe)
    probes = [F.col("q_bucket")]
    if probe_radius >= 1:
        probes += [
            F.col("q_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
        ]
    queries = queries.select(
        "query_id", "q_vec",
        F.explode(F.array(*probes)).alias("probe_bucket"),
    )
    cand = (
        bucketed.join(
            F.broadcast(queries), F.col("bucket") == F.col("probe_bucket")
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_vec", "vec_id", "v_vec")
        .distinct()
    )
    sim = cand.withColumn(
        "cos_sim", dot("q_vec", "v_vec") / (norm("q_vec") * norm("v_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ivf_centroids(emb: DataFrame, n_centroids: int,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Default deterministic centroid set: the first ``n_centroids``
    vectors by id as (c_id, c_vec). kmeans_centroids_df() produces the
    trained alternative with the same schema."""
    return emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )


def kmeans_centroids_df(spark, cents: list[list[int]]) -> DataFrame:
    """Convert kmeans_fit's integer centroids (floor(x*1e6) components)
    to the float (c_id, c_vec) relation ivf_assign/ivf_topk consume —
    wiring the trainer to the IVF index."""
    return spark.createDataFrame(
        [(i, [c / float(PQ_QSCALE) for c in v]) for i, v in enumerate(cents)],
        "c_id long, c_vec array<double>",
    )


def ivf_assign(emb: DataFrame, n_centroids: int = 16,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids: DataFrame | None = None) -> DataFrame:
    """IVF coarse quantization: assign each vector to its most-cosine-
    similar centroid. ``centroids`` (c_id, c_vec) may come from
    anywhere — kmeans_centroids_df(kmeans_fit(...)) for trained lists,
    or the default deterministic first-``n_centroids`` sample (the
    assignment stage doesn't care where the centroids came from). One
    narrow pass of n x K dot products, centroids broadcast; argmax via
    min-struct ((-cos, centroid_id) — deterministic tie-break)."""
    cents = (centroids if centroids is not None
             else ivf_centroids(emb, n_centroids, id_col, vec_col))
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v_vec"))
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "_score", dot("v_vec", "c_vec") / (norm("v_vec") * norm("c_vec"))
        )
    )
    best = F.min(F.struct((-F.col("_score")).alias("neg"), "c_id")).alias("_b")
    return (
        scored.groupBy("vec_id", "v_vec").agg(best)
        .select("vec_id", "v_vec", F.col("_b.c_id").alias("centroid_id"))
    )


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF-flat ANN: queries probe their ``n_probe`` nearest centroid
    lists, exact cosine re-rank inside the probed lists. Candidate
    cost ~ n * n_probe / n_centroids per query; at 100 TB the inverted
    lists ARE the partitioning (repartition by centroid_id), so a
    query touches n_probe partitions, not the table. Pass trained
    ``centroids`` (kmeans_centroids_df(kmeans_fit(...))) for balanced
    lists and better recall at the same n_probe."""
    cents = (centroids if centroids is not None
             else ivf_centroids(emb, n_centroids, id_col, vec_col))
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col, centroids=cents)
    queries = emb.filter(F.col(id_col).isin([int(q) for q in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("_score"), F.asc("c_id")
    )
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn(
            "_score", dot("q_vec", "c_vec") / (norm("q_vec") * norm("c_vec"))
        )
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "q_vec", F.col("c_id").alias("probe_centroid"))
    )
    cand = (
        assigned.join(
            F.broadcast(probes),
            F.col("centroid_id") == F.col("probe_centroid"),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_vec", "vec_id", "v_vec")
    )
    sim = cand.withColumn(
        "cos_sim", dot("q_vec", "v_vec") / (norm("q_vec") * norm("v_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


def _p_collide_unrelated(k: int, dim: int) -> float:
    """Per-table collision probability of one UNRELATED pair under k
    shared random hyperplanes: E[(1 - theta/pi)^k] over the angle
    between two random unit vectors in ``dim`` dims (cos has density
    ~ (1-c^2)^((dim-3)/2)). This is NOT 2^-k: theta concentrates near
    pi/2 but the k bits share the SAME pair of vectors, so collisions
    correlate — at k=23, dim=64 the true value is ~4.7x larger than
    2^-23 (measured 4.68x on 1M synthetic vectors; the 2^-k model
    under-sized the planes and blew the candidate budget)."""
    import numpy as np

    c = np.linspace(-1.0, 1.0, 20001)[1:-1]
    w = (1.0 - c * c) ** ((dim - 3) / 2.0)
    p = (1.0 - np.arccos(c) / np.pi) ** k
    return float((p * w).sum() / w.sum())


def neardup_lsh_params(n_rows: int, threshold: float = 0.95,
                       target_recall: float = 0.9,
                       target_candidates: int = 50_000_000,
                       max_tables: int = 256,
                       dim: int = 64) -> tuple[int, int]:
    """Jointly size (n_planes, n_tables) for sign-LSH near-dup so that
    BOTH the candidate budget and the recall floor hold:

    - per-table collision prob for a pair at cos=threshold:
      ``p1(k) = (1 - acos(threshold)/pi) ** k``
    - tables needed for overall recall r: ``L(k) =
      ceil(log(1-r) / log(1-p1(k)))`` (recall = 1-(1-p1)^L)
    - expected unrelated candidates: ``L * C(n,2) * p_unrel(k, dim)``
      with the finite-dim collision integral, not the naive 2^-k
      (see :func:`_p_collide_unrelated`).

    Candidates fall as k grows (p_unrel outruns L(k)), so the
    smallest k meeting the budget minimizes total plane work L*k.
    The fixed (8 planes, 4 tables) default tops out around n~10^5 at
    a 50M budget; the auto-sized configs (tens of planes x tens of
    tables) are the price of recall 0.9 at cos 0.95, which is why the
    arrow bucketer computes all L*k signs in ONE BLAS pass per
    batch."""
    import math

    if n_rows < 2:
        return 6, 1
    theta = math.acos(max(min(threshold, 1.0), -1.0))
    cos_frac = 1.0 - theta / math.pi
    pairs = n_rows * (n_rows - 1) / 2.0

    def tables_for(k: int) -> int:
        p1 = cos_frac ** k
        if p1 >= 1.0:
            return 1
        return max(1, math.ceil(math.log(max(1.0 - target_recall, 1e-12))
                                / math.log(1.0 - p1)))

    for k in range(6, 63):
        L = tables_for(k)
        if L > max_tables:
            # recall floor unreachable under the table cap — back off
            # to the largest k the cap allows, and SAY SO: the
            # returned config misses the recall floor and (since k-1
            # already failed the budget test) may blow the candidate
            # budget too
            import warnings

            k = max(6, k - 1)
            L = min(tables_for(k), max_tables)
            exp_cand = L * pairs * _p_collide_unrelated(k, dim)
            warnings.warn(
                f"neardup_lsh_params: table cap {max_tables} cannot "
                f"reach recall {target_recall} at threshold "
                f"{threshold} (needs {tables_for(k + 1)} tables); "
                f"returning (planes={k}, tables={L}) with expected "
                f"~{exp_cand:.0f} unrelated candidates vs budget "
                f"{target_candidates} — raise max_tables or lower "
                f"target_recall", stacklevel=2)
            return k, L
        if L * pairs * _p_collide_unrelated(k, dim) <= target_candidates:
            return k, L
    return 62, min(tables_for(62), max_tables)


def neardup_plane_count(n_rows: int, n_tables: int,
                        target_candidates: int) -> int:
    """Scale-aware sign-LSH sizing: solve the expected unrelated-pair
    candidate count L * C(n,2) / 2^planes <= target for the plane
    count. Clamped to [6, 30]: below 6 buckets stop selecting; above
    30 per-table recall at cos 0.95 drops under ~1% and more tables,
    not more planes, is the right lever."""
    import math

    if n_rows < 2:
        return 6
    need = math.log2(max(n_tables * n_rows * (n_rows - 1) / 2.0
                         / max(target_candidates, 1), 1.0))
    return max(6, min(30, math.ceil(need)))


def lsh_bucket_arrow(emb: DataFrame, n_planes: int, dim: int,
                     n_tables: int, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """All L tables' sign-buckets in ONE scan: per Arrow batch, a
    single float64 BLAS matmul against the (L*k, dim) plane matrix,
    bit-packed per table, exploded to (vid, tbl, bucket) rows.

    Same planes as :func:`lsh_bucket` — table t uses rows
    [t*k, (t+1)*k) of the deterministic plane sequence — so buckets
    agree with the SQL-expression path bit-for-bit (both compute the
    dot in float64; order-of-summation sign flips would need
    |dot| ~ 1e-16, never observed on unit vectors). The SQL path costs
    L separate scans and L*k codegen'd array folds per row; this path
    is the scale engine for the auto-sized configs (e.g. 36 tables x
    26 planes at n=5M, 10-candidates/row budget) where L*k ~ 900."""
    import numpy as np

    W = np.array(_plane_weights(n_tables * n_planes, dim), dtype=np.float64)
    k = n_planes
    L = n_tables
    pows = (np.uint64(1) << np.arange(k, dtype=np.uint64))
    tbl_ids = np.arange(L, dtype=np.int64)

    def bucketize(batches):
        for b in batches:
            ids = b.column(0).to_numpy(zero_copy_only=False)
            flat = b.column(1).values.to_numpy(zero_copy_only=False)
            X = flat.reshape(len(ids), dim).astype(np.float64)
            bits = (X @ W.T) > 0.0  # (n, L*k)
            bk = (bits.reshape(len(ids), L, k).astype(np.uint64)
                  * pows[None, None, :]).sum(axis=2).astype(np.int64)
            n = len(ids)
            yield pa.record_batch(
                [
                    pa.array(np.repeat(ids, L), pa.int64()),
                    pa.array(np.tile(tbl_ids, n), pa.int64()),
                    pa.array(bk.reshape(-1), pa.int64()),
                ],
                names=["vid", "tbl", "bucket"],
            )

    return emb.select(
        F.col(id_col).cast("long").alias("vid"), F.col(vec_col)
    ).mapInArrow(bucketize, "vid long, tbl long, bucket long")


def neardup_candidates(emb: DataFrame, n_planes: int, dim: int = 64,
                       n_tables: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Candidate (vec_id_a, vec_id_b) pairs colliding in ANY table:
    bucketed self-join on (tbl, bucket), distinct. Buckets come from
    the one-scan :func:`lsh_bucket_arrow`."""
    buckets = lsh_bucket_arrow(emb, n_planes, dim, n_tables, id_col, vec_col)
    return (
        buckets.alias("a")
        .join(buckets.alias("b"), ["tbl", "bucket"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_id_a"),
            F.col("b.vid").alias("vec_id_b"),
        )
        .distinct()
    )


def refine_pairs(emb: DataFrame, cand: DataFrame, threshold: float,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Exact cosine refine: fetch both vectors for each candidate
    pair, keep pairs at/above threshold. Precision is exact by
    construction; LSH only bounds recall."""
    vecs = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    pairs = (
        cand.join(vecs.alias("va"), F.col("vec_id_a") == F.col("va.vid"))
        .join(vecs.alias("vb"), F.col("vec_id_b") == F.col("vb.vid"))
        .select(
            "vec_id_a", "vec_id_b",
            F.col("va.vec").alias("va"), F.col("vb.vec").alias("vb"),
        )
    )
    sim = pairs.withColumn(
        "cos_sim", dot("va", "vb") / (norm("va") * norm("vb"))
    )
    return sim.filter(F.col("cos_sim") >= threshold).select(
        "vec_id_a", "vec_id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95,
                            n_planes: int | None = 8, dim: int = 64,
                            n_tables: int | None = 4,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            target_candidates: int = 50_000_000,
                            target_recall: float = 0.9,
                            n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup: MULTI-TABLE sign-LSH (L independent
    plane blocks; a pair is a candidate if it collides in ANY table)
    -> exact cosine refine -> pairs above threshold.

    Scale bound: expected candidate pairs ~ L * n^2 / 2^n_planes for
    unrelated vectors, with per-table recall (1 - theta/pi)^n_planes
    for a true near-dup at angle theta — L tables push overall recall
    to 1-(1-p)^L while keeping each self-join 2^n_planes-bucketed
    (e.g. L=4, n_planes=8: ~64x fewer pairs than a 16-bucket join and
    ~0.90 recall at cos 0.95).

    ``n_planes=None`` sizes the LSH FROM THE DATA: the table is
    counted (or ``n_rows`` passed to skip the scan) and, when
    ``n_tables`` is also None, (n_planes, n_tables) are JOINTLY
    solved by :func:`neardup_lsh_params` so the candidate budget AND
    the ``target_recall`` floor at ``threshold`` both hold — a fixed
    (8, 4) at 10^9 vectors would hand the self-join ~10^16 candidate
    pairs, while planes-only sizing silently trades recall away (20+
    planes with 4 tables is ~0.4 recall at cos 0.95). With an explicit
    ``n_tables``, only the plane count is solved (legacy behavior).
    The chosen sizing and expected candidate count are logged."""
    if n_planes is None:
        n = int(n_rows) if n_rows is not None else emb.count()
        if n_tables is None:
            n_planes, n_tables = neardup_lsh_params(
                n, threshold, target_recall, target_candidates, dim=dim
            )
        else:
            n_planes = neardup_plane_count(n, n_tables, target_candidates)
        expected = (n_tables * n * max(n - 1, 0) / 2.0
                    * _p_collide_unrelated(n_planes, dim))
        import logging

        logging.getLogger("geospark.embeddings").info(
            "embedding_neardup_pairs: n=%d -> n_planes=%d n_tables=%d "
            "(expected unrelated candidates ~%.0f, target %d)",
            n, n_planes, n_tables, expected, target_candidates,
        )
    elif n_tables is None:
        n_tables = 4
    cand = neardup_candidates(emb, n_planes, dim, n_tables, id_col, vec_col)
    return refine_pairs(emb, cand, threshold, id_col, vec_col)


# ---------------------------------------------------------------------------
# int8 quantization — storage/serving compression for embedding tables
# ---------------------------------------------------------------------------
def quantize_int8(emb: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale) in [-127, 127] (round half away from
    zero, the shared Spark/DuckDB semantics). Returns (vec_id, scale,
    q array<int>); an all-zero vector gets scale 0 and zero codes.
    Narrow plan — pure JVM array exprs over one scan, no shuffle: at
    corpus scale this is a map-only 4x storage compression pass.
    Elements widen float->double BEFORE the divide so the math is
    engine-exact."""
    mx = f"array_max(transform({vec_col}, x -> abs(CAST(x AS DOUBLE))))"
    q = (f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 "
         f"/ nullif({mx}, 0.0)) AS INT))")
    return emb.select(
        F.col(id_col).alias("vec_id"),
        (F.expr(mx) / F.lit(127.0)).alias("scale"),
        F.expr(f"transform({q}, x -> coalesce(x, 0))").alias("q"),
    )


# ---------------------------------------------------------------------------
# Product quantization (integer-exact PQ-ADC)
# ---------------------------------------------------------------------------
PQ_QSCALE = "1000000.0"  # component quantizer: floor(x * 1e6) -> BIGINT


def _pq_qsub_sql(vec_col: str, s: int, dsub: int) -> str:
    """SQL text of subspace ``s``'s INTEGER-quantized subvector:
    every float32 component is exactly widened to double, scaled by
    1e6 and floored to BIGINT — all PQ distances downstream are pure
    integer sums, immune to float-summation order in any engine."""
    return (
        f"transform(slice({vec_col}, {s * dsub + 1}, {dsub}), "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_QSCALE}) AS BIGINT))"
    )


_PQ_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "0L, (acc, v) -> acc + v)"
)


def pq_codebook(emb: DataFrame, m: int = 4, n_codes: int = 16,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                dim: int | None = None) -> DataFrame:
    """(s, c_id, c_q) — per-subspace codebooks from the first
    ``n_codes`` vectors by id (the same deterministic-sample
    convention as :func:`ivf_assign`; a k-means trainer feeds the
    identical relation at real scale). m * n_codes rows — always
    broadcastable."""
    d = dim if dim is not None else (
        emb.select(F.size(vec_col).alias("_d")).first()["_d"])
    dsub = d // m
    subs = ", ".join(
        f"struct({s} AS s, {_pq_qsub_sql(vec_col, s, dsub)} AS c_q)"
        for s in range(m)
    )
    return emb.filter(F.col(id_col) < n_codes).select(
        F.col(id_col).alias("c_id"),
        F.explode(F.expr(f"array({subs})")).alias("_e"),
    ).select("_e.s", "c_id", "_e.c_q")


def _collect_codebook(emb: DataFrame, m: int, n_codes: int,
                      id_col: str, vec_col: str,
                      dim: int) -> list[list[list[int]]]:
    """Driver-side codebook: quantized subvectors of the first
    ``n_codes`` vectors by id — n_codes rows, the same O(1) driver
    contract as the BPE argmax aggregate.
    cb[s][c] = BIGINT-quantized subvector of centroid c in subspace
    s (missing ids are skipped; callers need n_codes present)."""
    import math as _math

    dsub = dim // m
    rows = (
        emb.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("v"))
        .orderBy("c_id")
        .collect()
    )
    cb: list[list[list[int]]] = []
    for s in range(m):
        cb.append([
            [_math.floor(float(x) * 1000000.0)
             for x in r["v"][s * dsub:(s + 1) * dsub]]
            for r in rows
        ])
    return cb


def _pq_codes(q: np.ndarray, cbs: list[np.ndarray], dsub: int,
              valid: np.ndarray) -> pa.Array:
    """The Arrow twin of :func:`_pq_code_expr` over an int64 matrix:
    per subspace the argmin of exact int64 L2 against codebook
    ``cbs[s]`` (|c|^2 - 2 q.c, ties to the lowest c_id), as an
    array<int> column; a row whose ``valid`` is False is null."""
    out = np.empty((len(q), len(cbs)), dtype=np.int32)
    for s, c in enumerate(cbs):
        qs = q[:, s * dsub:(s + 1) * dsub]
        out[:, s] = np.argmin((c * c).sum(axis=1)[None, :] - 2 * (qs @ c.T),
                              axis=1)
    offsets = np.arange(len(q) + 1, dtype=np.int32) * len(cbs)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(out.ravel()),
                                    mask=pa.array(~valid))


def _pq_code_expr(cb_s: list[list[int]], s: int, dsub: int,
                  vec_col: str) -> str:
    """SQL text of subspace ``s``'s code: argmin of exact integer L2
    against the LITERAL centroid array (ties -> lowest c_id via the
    (d2, c_id) struct sort). Pure map-side expression — encoding a
    vector never shuffles."""
    arr = ", ".join(
        "array(" + ", ".join(f"{x}L" for x in c) + ")" for c in cb_s
    )
    v_q = _pq_qsub_sql(vec_col, s, dsub)
    return (
        f"sort_array(transform(array({arr}), (c, i) -> "
        f"struct(aggregate(zip_with({v_q}, c, (x, y) -> (x - y) * (x - y)), "
        f"0L, (acc, v) -> acc + v) AS d2, i AS c_id)))[0].c_id"
    )


def pq_encode(emb: DataFrame, m: int = 4, n_codes: int = 16,
              id_col: str = "vec_id",
              vec_col: str = "embedding",
              dim: int | None = None, arrow: bool = False) -> DataFrame:
    """PQ encoding: each vector becomes m uint8-sized codes — the
    64-dim float corpus compresses to m bytes/vector (plus the tiny
    codebook), the memory step that makes billion-vector ANN fit.

    The codebook (n_codes rows — the deterministic-sample convention
    of :func:`ivf_assign`) is collected ONCE to the driver and
    inlined as literal integer arrays, so encoding is a single
    map-side projection: argmin of exact integer L2 per subspace,
    ZERO shuffles and zero joins over the corpus. Returns (vec_id,
    codes: array<int>), codes[s] = nearest centroid of subspace s."""
    d = dim if dim is not None else (
        emb.select(F.size(vec_col).alias("_d")).first()["_d"])
    dsub = d // m
    cb = _collect_codebook(emb, m, n_codes, id_col, vec_col, d)
    if arrow:
        # Arrow fast path: same exact int64 argmin per subspace as the
        # literal-array fold (which is CodegenFallback-interpreted),
        # one numpy matmul per (batch, subspace). Bit-identical
        # (parity-tested) — float32 widens exactly to double, floor,
        # int64; ties to the lowest c_id via argmin-first.
        cbs = [np.asarray(cb[s], dtype=np.int64) for s in range(m)]

        @arrow_udf("array<int>")
        def _codes(v: pa.Array) -> pa.Array:
            x, valid = _vectors(v, d)
            q = np.floor(x.astype(np.float64) * 1000000.0).astype(np.int64)
            return _pq_codes(q, cbs, dsub, valid)

        return emb.select(
            F.col(id_col).alias("vec_id"),
            _codes(F.col(vec_col)).alias("codes"),
        )
    code_cols = ", ".join(
        f"CAST({_pq_code_expr(cb[s], s, dsub, vec_col)} AS INT)"
        for s in range(m)
    )
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"array({code_cols})").alias("codes"),
    )


def pq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
            m: int = 4, n_codes: int = 16, id_col: str = "vec_id",
            vec_col: str = "embedding",
            dim: int | None = None, arrow: bool = False) -> DataFrame:
    """PQ-ADC approximate top-k: asymmetric distance computation —
    each query precomputes its exact integer L2 to every centroid (an
    m x n_codes lookup table, inlined as literal BIGINT arrays), and
    a vector's approximate distance is the sum of m array lookups on
    its codes. Per query the plan is a narrow projection over the
    codes relation followed by orderBy(k).limit — per-partition top-k
    heaps (TakeOrderedAndProject), so there is NO per-query window
    partition to hot-spot and NO corpus shuffle at all; at 10^9+
    vectors each query costs one scan of the m-byte code column.

    Returns (query_id, rn, vec_id, d2_q) with rn = 1..k ranked by
    (adc d2 ASC, vec_id) — integer-deterministic in any engine."""
    import math as _math

    d = dim if dim is not None else (
        emb.select(F.size(vec_col).alias("_d")).first()["_d"])
    dsub = d // m
    cb = _collect_codebook(emb, m, n_codes, id_col, vec_col, d)
    qrows = {
        r["q"]: r["v"]
        for r in emb.filter(
            F.col(id_col).isin([int(q) for q in query_ids])
        ).select(F.col(id_col).alias("q"), F.col(vec_col).alias("v"))
        .collect()
    }
    from geospark.spool import spool as _spool

    # materialize the m-byte code relation once — every query scans
    # codes, never the float corpus (and the 4096-literal encode
    # expression compiles exactly once)
    codes = _spool(
        pq_encode(emb, m, n_codes, id_col, vec_col, dim=d, arrow=arrow),
        "pq_codes",
    )
    per_query = []
    for qid in query_ids:
        qv = [_math.floor(float(x) * 1000000.0) for x in qrows[int(qid)]]
        luts = []
        for s in range(m):
            q_sub = qv[s * dsub:(s + 1) * dsub]
            luts.append([
                sum((x - y) * (x - y) for x, y in zip(q_sub, c))
                for c in cb[s]
            ])
        adc = " + ".join(
            "element_at(array("
            + ", ".join(f"{x}L" for x in luts[s])
            + f"), codes[{s}] + 1)"
            for s in range(m)
        )
        topk = (
            codes.select(
                F.lit(int(qid)).cast("long").alias("query_id"),
                "vec_id",
                F.expr(adc).alias("d2_q"),
            )
            .orderBy("d2_q", "vec_id")
            .limit(k)
        )
        per_query.append(topk)
    out = per_query[0]
    for t in per_query[1:]:
        out = out.unionAll(t)
    w = Window.partitionBy("query_id").orderBy("d2_q", "vec_id")
    return out.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).select("query_id", "rn", "vec_id", "d2_q")


def pq_topk_rerank(emb: DataFrame, query_ids: list[int], k: int = 10,
                   rerank: int = 50, m: int = 4, n_codes: int = 16,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int | None = None,
                   arrow: bool = False) -> DataFrame:
    """PQ-ADC shortlist + EXACT rerank — the production two-stage ANN
    read path: the m-byte code relation prunes the corpus to
    ``rerank`` candidates per query (pq_topk's scan-only ADC), and
    only that |Q| * rerank shortlist is re-scored by exact integer L2
    on the floor(x*1e6) quantized vectors. Fixes ADC's quantization
    error at the top of the ranking while still never reading the
    float corpus beyond the shortlist join.

    Plan: ADC per-query TakeOrdered heaps over codes (zero corpus
    shuffle) -> the model-sized shortlist BROADCASTS into one hash
    join against the quantized-vector relation -> exact fold + final
    per-query top-k window over rerank rows. Returns (query_id, rn,
    vec_id, d2_exact), rn 1..k by (exact d2, vec_id) — integer-
    deterministic (twin: goldens.pq_rerank_py)."""
    d = dim if dim is not None else (
        emb.select(F.size(vec_col).alias("_d")).first()["_d"])
    shortlist = pq_topk(emb, query_ids, k=rerank, m=m, n_codes=n_codes,
                        id_col=id_col, vec_col=vec_col, dim=d,
                        arrow=arrow).select(
        "query_id", "vec_id")
    qv = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(_q_vec_sql(vec_col)).alias("v_q"),
    )
    qids = [int(q) for q in query_ids]
    qrows = {
        int(r["vec_id"]): [int(x) for x in r["v_q"]]
        for r in qv.filter(F.col("vec_id").isin(qids)).collect()
    }
    q_arr = "array(" + ", ".join(
        "array(" + ", ".join(f"{x}L" for x in qrows[q]) + ")" for q in qids
    ) + ")"
    idx = F.lit(None).cast("int")
    for i, q in enumerate(qids):
        idx = F.when(F.col("query_id") == q, i + 1).otherwise(idx)
    d2 = F.expr(
        f"aggregate(zip_with(element_at({q_arr}, _qi), v_q, "
        "(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2_exact"), F.asc("vec_id"))
    return (
        qv.join(F.broadcast(shortlist), "vec_id")
        .withColumn("_qi", idx)
        .select("query_id", "vec_id", d2.alias("d2_exact"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("rn").cast("long").alias("rn"),
                "vec_id", "d2_exact")
    )


# ---------------------------------------------------------------------------
# K-MEANS CODEBOOK TRAINING — integer-exact Lloyd iterations.
#
# ivf_assign and pq_codebook take centroids wherever they come from
# (the deterministic first-k sample by default); this is the trainer
# that produces REAL centroids at corpus scale. Everything the
# executors compute is exact integer arithmetic on floor(x*1e6)
# BIGINT components (the PQ quantizer), so assignments and inertia
# are bit-reproducible in any engine; the only float-free
# driver-side step is the centroid mean, defined as componentwise
# floor division (Python //) over collected (sum, count) pairs —
# k*dim BIGINTs per iteration, the same model-sized-data-only driver
# contract as the BPE argmax loop.
#
# Per-iteration plan: ONE mapInArrow pass over the spooled quantized
# vectors. Each partition assigns its vectors to the nearest centroid
# in numpy (exact int64, ties to the lowest centroid_id: argmin keeps
# the first minimum) and emits one (c_id, sums, count) row per
# centroid it hit, so a task's output is at most k rows, whatever
# the corpus size. The driver adds those rows up and floor-divides:
# one job per iteration, no shuffle. Empty clusters keep their
# previous centroid. The final assignment is the same kernel as an
# Arrow UDF returning (c_id, d2).
# ---------------------------------------------------------------------------


def _q_vec_sql(vec_col: str) -> str:
    """Whole-vector integer quantizer (the PQ component quantizer
    applied to the full array)."""
    return (
        f"transform({vec_col}, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_QSCALE}) AS BIGINT))"
    )


# a worker scores at most this many (vector, centroid) pairs at once
_KMEANS_TILE = 1 << 22


def _vectors(col, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(n x dim matrix of the values' own dtype, validity mask) of an
    Arrow list column without a per-row Python step. A null vector is
    a zero row with mask False; a vector of another length, or with a
    null component, raises ValueError."""
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    flat = col.flatten()
    if flat.null_count or (
            col.value_lengths().fill_null(dim).to_numpy() != dim).any():
        raise ValueError(f"every vector needs {dim} non-null components")
    m = np.zeros((len(col), dim), dtype=flat.type.to_pandas_dtype())
    m[valid] = flat.to_numpy().reshape(-1, dim)
    return m, valid


def _nearest(m: np.ndarray, c: np.ndarray,
             c_norm: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(c_id, d2) of each row of ``m`` against centroids ``c``: exact
    int64 L2 (numpy int64 wraps like a JVM long), ties to the lowest
    c_id. d2 = |v|^2 - 2 v.c + |c|^2; the argmin drops the row's
    constant |v|^2 and keeps the first minimum."""
    ci = np.zeros(len(m), dtype=np.int64)
    d2 = np.zeros(len(m), dtype=np.int64)
    tile = max(1, _KMEANS_TILE // len(c))
    for r0 in range(0, len(m), tile):
        t = m[r0:r0 + tile]
        scores = c_norm[None, :] - 2 * (t @ c.T)
        j = np.argmin(scores, axis=1)
        ci[r0:r0 + tile] = j
        d2[r0:r0 + tile] = (scores[np.arange(len(j)), j]
                            + (t * t).sum(axis=1))
    return ci, d2


def _lloyd_step(qv: DataFrame, cents: list[list[int]]) -> list[list[int]]:
    """One Lloyd iteration as one mapInArrow job: per partition the
    assignment and a segmented per-centroid sum (sort by c_id, then
    ``np.add.reduceat``); on the driver the sum of those rows and a
    componentwise floor division."""
    c = np.asarray(cents, dtype=np.int64)
    k, dim = c.shape
    c_norm = (c * c).sum(axis=1)

    def partial(batches):
        sums = np.zeros((k, dim), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        for b in batches:
            m, valid = _vectors(b.column(0), dim)
            m = m[valid]
            if not len(m):
                continue
            ci = _nearest(m, c, c_norm)[0]
            order = np.argsort(ci, kind="stable")
            cs = ci[order]
            starts = np.flatnonzero(np.diff(cs, prepend=-1))
            sums[cs[starts]] += np.add.reduceat(m[order], starts, axis=0)
            cnt += np.bincount(ci, minlength=k)
        hit = np.flatnonzero(cnt)
        yield pa.RecordBatch.from_arrays([
            pa.array(hit.astype(np.int32)),
            pa.ListArray.from_arrays(
                pa.array(np.arange(len(hit) + 1, dtype=np.int32) * dim),
                pa.array(sums[hit].ravel())),
            pa.array(cnt[hit]),
        ], names=["c_id", "s", "n"])

    t = qv.select("v_q").mapInArrow(
        partial, "c_id int, s array<long>, n long").toArrow()
    ids = t.column("c_id").to_numpy()
    sums = np.zeros((k, dim), dtype=np.int64)
    cnt = np.zeros(k, dtype=np.int64)
    np.add.at(sums, ids, t.column("s").combine_chunks().flatten()
              .to_numpy().reshape(-1, dim))
    np.add.at(cnt, ids, t.column("n").to_numpy())
    hit = cnt > 0
    c[hit] = sums[hit] // cnt[hit, None]  # floor division, like Python //
    return c.tolist()


def _assign_udf(cents: list[list[int]]):
    """Arrow UDF: v_q -> struct(c_id, d2) of the nearest centroid
    (:func:`_nearest`); a null vector gets c_id 0 and a null d2."""
    c = np.asarray(cents, dtype=np.int64)
    c_norm = (c * c).sum(axis=1)

    @arrow_udf("struct<c_id: int, d2: long>")
    def nearest(v: pa.Array) -> pa.Array:
        m, valid = _vectors(v, c.shape[1])
        ci, d2 = _nearest(m, c, c_norm)
        ci[~valid] = 0
        return pa.StructArray.from_arrays(
            [pa.array(ci.astype(np.int32)), pa.array(d2, mask=~valid)],
            names=["c_id", "d2"])

    return nearest


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 3,
               id_col: str = "vec_id", vec_col: str = "embedding",
               use_spool: bool = True, with_vec: bool = False):
    """Integer-exact Lloyd k-means. Init = the first ``k`` vectors by
    id (deterministic). Returns (assign, centroids): ``assign`` is
    (vec_id, centroid_id, d2) under the FINAL centroids — plus the
    quantized ``v_q`` column when ``with_vec`` (so downstream rerank
    stages reuse the spooled quantization instead of re-scanning);
    ``centroids`` the trained integer centroid list. d2 sums are exact while
    n * dim * (2 * 1e6)^2 stays under 2^63 — ~3.5e4 adversarial
    vectors, ~1e8 real unit-normalized ones; quantized inputs keep
    every run engine-reproducible. A null vector takes no part in
    training and is assigned centroid 0 with a null d2; a vector with
    a null component or of another length than the seeds raises."""
    from geospark.spool import spool

    qv = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(_q_vec_sql(vec_col)).alias("v_q"),
    )
    if use_spool:
        qv = spool(qv, "kmeans_qv")
    # Seed = first k vectors ordered by id — matches goldens.kmeans_py's
    # sorted(ids)[:k] on ANY id space (non-dense / non-zero-based included);
    # filter(vec_id < k) would silently diverge there (ADVICE r03).
    cents = [
        [int(x) for x in r["v_q"]]
        for r in qv.orderBy("vec_id").limit(k).collect()
    ]
    if len(cents) != k:
        raise ValueError(
            f"kmeans_fit: k={k} but only {len(cents)} vectors available"
        )
    for _ in range(iters):
        cents = _lloyd_step(qv, cents)
    cols = ["vec_id"] + (["v_q"] if with_vec else [])
    a = qv.select(
        *cols, _assign_udf(cents)(F.col("v_q")).alias("_b")
    ).select(
        *cols, F.col("_b.c_id").alias("centroid_id"),
        F.col("_b.d2").alias("d2"),
    )
    return a, cents


def ivfpq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
               n_centroids: int = 8, iters: int = 3, n_probe: int = 2,
               m: int = 4, n_codes: int = 16,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               arrow: bool = False) -> DataFrame:
    """IVF-PQ: the canonical billion-vector ANN composition — a
    kmeans-trained coarse quantizer prunes the search to ``n_probe``
    inverted lists, and candidates inside the probed lists are scored
    by product-quantization ADC over RESIDUALS (vector minus its
    assigned centroid — the classic IVFADC layout: residuals have far
    smaller spread than raw vectors, so the same per-subspace
    codebook budget quantizes them much more tightly).

    Integer-exact end to end (floor(x*1e6) quantization, BIGINT
    sums), so the result replays bit-identically in the plain-Python
    twin (goldens.ivfpq_py). Returns (query_id, rn, vec_id, d2_adc)
    with rn = 1..k ranked by (adc distance ASC, vec_id).

    Plan shape at corpus scale:
    - training: kmeans_fit's one numpy pass per Lloyd iteration
      (model-sized rows to the driver, no shuffle);
    - assignment + residual + PQ encode: ONE map-side projection over
      the corpus (centroid table and residual codebook are literal
      arrays — zero joins, zero corpus shuffles); the corpus then
      lives as an m-byte-per-vector codes relation;
    - query side: probe lists and the m x n_codes ADC lookup tables
      are computed on the driver from model-sized state (|Q| * n_probe
      * m * n_codes integers) and BROADCAST as a |Q|*n_probe-row
      relation with an array<array<bigint>> LUT column;
    - scoring: broadcast hash join probes -> codes on centroid_id
      (the IVF pruning — only ~n*n_probe/n_centroids candidates
      survive), ADC = m array lookups folded in codegen, per-query
      top-k window over the pruned candidate set only.

    Reference analogue: the filter-refine discipline of
    point_rtree.cc:21-36 (coarse prefilter, cheap refine) applied to
    vector search; coarse quantizer = the trained twin of
    ivf_assign's deterministic lists. ``arrow`` runs the residual
    encode as a numpy kernel instead of the literal-array fold (the
    training is numpy either way)."""
    a, cents = kmeans_fit(emb, k=n_centroids, iters=iters,
                          id_col=id_col, vec_col=vec_col, with_vec=True)
    dim = len(cents[0])
    dsub = dim // m
    cent_arr = "array(" + ", ".join(
        "array(" + ", ".join(f"{x}L" for x in c) + ")" for c in cents
    ) + ")"
    r = a.withColumn(
        "r_q",
        F.expr(f"zip_with(v_q, element_at({cent_arr}, centroid_id + 1), "
               "(x, y) -> x - y)"),
    )
    # residual codebook: first n_codes vectors by id (the module's
    # deterministic-sample convention) — n_codes rows to the driver.
    sample = r.orderBy("vec_id").limit(n_codes).select("r_q").collect()
    if len(sample) < n_codes:
        raise ValueError(
            f"ivfpq_topk: n_codes={n_codes} but only {len(sample)} vectors")
    cb = [
        [[int(x) for x in row["r_q"][s * dsub:(s + 1) * dsub]]
         for row in sample]
        for s in range(m)
    ]
    # inline argmin per subspace — like _pq_code_expr but slicing the
    # ALREADY-quantized residual (re-quantizing BIGINTs would overflow)
    def _code_expr(s: int) -> str:
        arr = ", ".join(
            "array(" + ", ".join(f"{x}L" for x in c) + ")" for c in cb[s]
        )
        sub = f"slice(r_q, {s * dsub + 1}, {dsub})"
        return (
            f"sort_array(transform(array({arr}), (c, i) -> "
            f"struct(aggregate(zip_with({sub}, c, (x, y) -> (x - y) * (x - y)), "
            f"0L, (acc, v) -> acc + v) AS d2, i AS c_id)))[0].c_id"
        )

    code_cols = ", ".join(
        f"CAST({_code_expr(s)} AS INT)" for s in range(m)
    )
    from geospark.spool import spool as _spool

    if arrow:
        # Arrow residual-encode: residual and per-subspace argmin in
        # one numpy kernel (the JVM fold is interpreted); bit-identical
        # int64 math, parity-tested against the expression path.
        cent_np = np.asarray(cents, dtype=np.int64)
        cbs = [np.asarray(cb[s], dtype=np.int64) for s in range(m)]

        @arrow_udf("array<int>")
        def _codes(v: pa.Array, ci: pa.Array) -> pa.Array:
            q, valid = _vectors(v, dim)
            rq = q - cent_np[ci.to_numpy(zero_copy_only=False)]
            return _pq_codes(rq, cbs, dsub, valid)

        codes = _spool(
            a.select("vec_id", "centroid_id",
                     _codes(F.col("v_q"), F.col("centroid_id"))
                     .alias("codes")),
            "ivfpq_codes",
        )
    else:
        codes = _spool(
            r.select("vec_id", "centroid_id",
                     F.expr(f"array({code_cols})").alias("codes")),
            "ivfpq_codes",
        )
    # driver-side probe + LUT construction (model-sized work only)
    qids = [int(q) for q in query_ids]
    qrows = {
        int(row["vec_id"]): [int(x) for x in row["v_q"]]
        for row in a.filter(F.col("vec_id").isin(qids))
        .select("vec_id", "v_q").collect()
    }
    probe_rows = []
    for qid in qids:
        qv = qrows[qid]
        probed = sorted(
            (sum((x - y) * (x - y) for x, y in zip(qv, c)), ci)
            for ci, c in enumerate(cents)
        )[:n_probe]
        for _, ci in probed:
            qr = [x - y for x, y in zip(qv, cents[ci])]
            lut = [
                [sum((x - y) * (x - y)
                     for x, y in zip(qr[s * dsub:(s + 1) * dsub], c))
                 for c in cb[s]]
                for s in range(m)
            ]
            probe_rows.append((qid, ci, lut))
    spark = emb.sparkSession
    probes = spark.createDataFrame(
        probe_rows,
        "query_id long, probe_centroid int, lut array<array<long>>")
    adc = F.expr(
        "aggregate(zip_with(lut, codes, (l, c) -> element_at(l, c + 1)), "
        "0L, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2_adc"), F.asc("vec_id"))
    return (
        codes.join(F.broadcast(probes),
                   F.col("centroid_id") == F.col("probe_centroid"))
        .select("query_id", "vec_id", adc.alias("d2_adc"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("rn").cast("long").alias("rn"),
                "vec_id", "d2_adc")
    )


def ivf_topk_trained(emb: DataFrame, query_ids: list[int], k: int = 10,
                     n_centroids: int = 8, iters: int = 3, n_probe: int = 4,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """IVF-flat ANN over TRAINED centroids, integer-exact end to end:
    kmeans_fit supplies the coarse quantizer, queries probe their
    ``n_probe`` nearest trained centroids (exact integer L2, ties to
    the lower c_id), and candidates in the probed lists are re-ranked
    by exact integer L2 on the floor(x*1e6) quantized vectors — so the
    result replays bit-identically in any engine (oracle:
    goldens.ivf_trained_py). Returns (query_id, rn, vec_id, d2_q),
    rn 1..k ordered by (d2_q, vec_id); the query itself is a candidate
    (rn 1 at d2_q 0), matching pq_topk's convention.

    Plan shape: training is kmeans_fit's one numpy pass per Lloyd
    iteration; the probe set is computed map-side on a
    broadcast |Q|-row relation with the k centroid arrays inlined as
    literals; candidate selection is ONE broadcast hash join of the
    probes against the assignment (corpus never shuffles); the re-rank
    is a zip_with/aggregate integer fold inside codegen ending in a
    per-query top-k window over ~n * n_probe / n_centroids rows."""
    a, cents = kmeans_fit(emb, k=n_centroids, iters=iters,
                          id_col=id_col, vec_col=vec_col, with_vec=True)
    qids = [int(q) for q in query_ids]
    queries = a.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "v_q"
    )
    # probe list: slice(sorted (d2, c_id) structs, 1, n_probe) over the
    # literal trained centroids — exact integer L2, ties to the lowest
    # c_id; one narrow projection on |Q| rows
    arr = ", ".join(
        "array(" + ", ".join(f"{x}L" for x in c) + ")" for c in cents
    )
    probe_expr = (
        f"slice(sort_array(transform(array({arr}), (c, i) -> "
        f"struct(aggregate(zip_with(v_q, c, (x, y) -> (x - y) * (x - y)), "
        f"0L, (acc, v) -> acc + v) AS d2, i AS c_id))), 1, {int(n_probe)})"
    )
    probes = queries.select(
        "query_id", F.col("v_q").alias("q_q"),
        F.explode(F.expr(probe_expr + ".c_id")).alias("probe_centroid"),
    )
    d2q = F.expr(
        "aggregate(zip_with(q_q, v_q, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2_q"), F.asc("vec_id"))
    return (
        a.join(F.broadcast(probes),
               F.col("centroid_id") == F.col("probe_centroid"))
        .select("query_id", "vec_id", d2q.alias("d2_q"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("rn").cast("long").alias("rn"),
                "vec_id", "d2_q")
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-pairwise semantic deduplication
# ---------------------------------------------------------------------------
SEMDEDUP_TAU = (49, 400)  # cos > 0.35  (0.35^2 = 49/400 exactly)


# the Gram matrix is computed in row tiles of at most this many entries,
# so a worker holds one cluster's vectors plus one tile
_SEMDEDUP_TILE = 1 << 22


def semdedup_canonical(ids: np.ndarray, v_q: np.ndarray, tau_num: int,
                       tau_den: int) -> np.ndarray:
    """Canonical ids of ONE k-means cluster: the exact SemDeDup kernel.

    ``ids`` are the cluster's n >= 1 vec_ids, ``v_q`` its n x dim
    int64 1e6-quantized vectors. Components coarsen by floor division
    (floor(floor(x*1e6)/1000) == floor(x*1000)), every pair i < j is
    tested with the integer cosine predicate ``dot > 0 AND tau_den *
    dot^2 > tau_num * |a|^2 * |b|^2`` over an exact int64 Gram matrix
    built in row tiles, and duplicate groups close by min-id label
    propagation. Returns canonical ids aligned with ``ids`` (the
    minimum vec_id of each group; the id itself when unique), for any
    row order of the input.

    Raises ArithmeticError unless max(tau) * max|v|^4 < 2^63 — by
    Cauchy-Schwarz dot^2 <= |a|^2 |b|^2, so this bound keeps every
    product below 2^63 where numpy int64 would otherwise wrap."""
    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    v = np.asarray(v_q, dtype=np.int64)[order] // 1000
    n = len(ids)
    max_abs = int(np.abs(v).max())
    if v.shape[1] * max_abs * max_abs >= 1 << 63:
        raise ArithmeticError("semdedup: squared norm overflows int64")
    norms = (v * v).sum(axis=1)
    max_norm = int(norms.max())
    if max(abs(tau_num), abs(tau_den)) * max_norm * max_norm >= 1 << 63:
        raise ArithmeticError(
            "semdedup: tau * |v|^4 overflows int64 in the cosine predicate")
    tile = max(1, _SEMDEDUP_TILE // n)
    src, dst = [], []
    for r0 in range(0, n, tile):
        g = v[r0:r0 + tile] @ v.T
        # pairs i < j with dot > 0: tile row t is global row r0 + t
        i, j = np.nonzero(np.triu(g > 0, k=r0 + 1))
        d = g[i, j]
        i += r0
        keep = tau_den * d * d > tau_num * norms[i] * norms[j]
        src.append(i[keep])
        dst.append(j[keep])
    src, dst = np.concatenate(src), np.concatenate(dst)
    # rows are in id order, so the min row label is the min vec_id
    lab = np.arange(n)
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, src, lab[dst])
        np.minimum.at(nxt, dst, lab[src])
        nxt = nxt[nxt]
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    out = np.empty(n, dtype=np.int64)
    out[order] = ids[order][lab]
    return out


def semdedup(emb: DataFrame, n_centroids: int = 8, iters: int = 3,
             tau_num: int = SEMDEDUP_TAU[0],
             tau_den: int = SEMDEDUP_TAU[1],
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic keep-one deduplication —
    k-means-cluster the embeddings, compare pairs ONLY within a
    cluster, mark every vector whose cosine similarity to a
    lower-id cluster-mate exceeds sqrt(tau_num/tau_den) as a
    duplicate. The clustering is the scale trick: pairwise cost drops
    from n^2 to sum(|cluster|^2), with cross-cluster duplicates
    missed BY DESIGN (the paper's approximation).

    Integer-exact end to end, so the result replays in plain Python:
    the trained quantized vectors coarsen to floor-div-1000 ints, and
    ``cos > tau`` evaluates as the integer predicate ``dot > 0 AND
    tau_den * dot^2 > tau_num * |a|^2 * |b|^2`` — no sqrt, no float
    division. Duplicate groups close transitively (min-id canonical).
    A cluster whose tau * max|v|^4 reaches 2^63 raises ArithmeticError
    instead of wrapping (see :func:`semdedup_canonical`).

    Plan shape: kmeans_fit's training (one numpy pass per Lloyd
    iteration, no shuffle), then ONE
    ``groupBy(centroid_id).applyInPandas`` — a single shuffle on the
    cluster key, after which :func:`semdedup_canonical` runs per
    cluster in numpy: exact int64 Gram tiles for the pair predicate
    and min-id label propagation for the groups (valid locally,
    since duplicate edges never cross clusters). No self-join, no
    connected-components rounds, no join back. A whole cluster goes
    to one Python worker, so there is no AQE skew split of a hot
    cluster: cluster size is bounded only through ``n_centroids``,
    and worker memory is one cluster's vectors plus one Gram tile of
    at most 2^22 entries.

    Returns one row per vector: (vec_id, centroid_id, canonical_id,
    is_dup) with canonical_id = min vec_id of its semantic-duplicate
    group (itself when unique)."""
    tau_num, tau_den = int(tau_num), int(tau_den)

    def cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        canon = semdedup_canonical(ids, np.stack(pdf["v_q"].to_numpy()),
                                   tau_num, tau_den)
        return pd.DataFrame({
            "vec_id": ids,
            "centroid_id": pdf["centroid_id"].to_numpy(dtype=np.int32),
            "canonical_id": canon,
            "is_dup": (canon != ids).astype(np.int32),
        })

    a, _cents = kmeans_fit(emb, k=n_centroids, iters=iters,
                           id_col=id_col, vec_col=vec_col,
                           with_vec=True)
    return (
        a.select("vec_id", "centroid_id", "v_q")
        .groupBy("centroid_id")
        .applyInPandas(
            cluster,
            "vec_id long, centroid_id int, canonical_id long, is_dup int")
    )
