"""HyperLogLog distinct-count sketch as pure relational algebra.

The 100-TB operation the reference's tile layer can't answer cheaply:
"distinct users per map tile" across a petabyte of events.  An exact
count-distinct shuffles every (tile, user) pair; a HyperLogLog register
relation is ~m rows per tile, MERGEABLE across partitions, files,
days and zoom levels (register max is associative/commutative), so
rollups reuse sketches instead of rescanning raw data.

This implementation is deliberately engine-neutral and DETERMINISTIC —
no Spark-internal `approx_count_distinct` (whose xxhash layout a DuckDB
oracle can't reproduce).  Every step is exact integer/float-pow2 math,
identical in Spark Column ops and ANSI SQL (Flajolet et al. 2007,
"HyperLogLog: the analysis of a near-optimal cardinality estimation
algorithm"; small-range linear-counting correction from the same
paper):

  h     = md5-60(item)                         (engine-neutral hash)
  reg   = h >> (60 - p)                        (top p bits, m = 2^p)
  w     = h & (2^(60-p) - 1)                   (remaining 60-p bits)
  rho   = (60-p) - floor(log2 w) = (60-p)+1 - length(bin(w)), w=0 -> 60-p+1
  M_reg = max(rho)                             (the mergeable state)
  Z     = sum(2^-M_reg) + (m - regs_hit)
  E     = alpha_m * m^2 / Z
  if E <= 2.5m and V = m - regs_hit > 0:  E = m * ln(m / V)

Determinism detail: sum(2^-M_reg) is accumulated as the EXACT integer
sum(2^(S - M_reg)) with S = (60-p)+1, so no float-summation order
dependence can leak between engines — the worst case is
2^p * 2^(60-p) = 2^60 < 2^63, in-range for BIGINT at every valid p;
one deterministic long->double cast and a division by 2^S recovers Z.
The only non-exact scalar op left is the single `ln` in the
linear-counting branch (<= 1 ulp in both engines; estimates are
rounded to 3 dp).

Plan shape (hll_sketch): one distinct on (keys, item), then two
narrowing aggregations — no joins, no Python.  Because item -> reg is
a pure function, per-register distinct-item counts sum to the exact
per-key NDV, so the exact count rides along for free (it is the
ground-truth column the driver oracle checks the estimate against).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_BITS = 60  # md5-60, the engine-neutral hash of the dedup family


def hll_alpha(m: int) -> float:
    """Bias-correction constant (Flajolet et al. 2007, fig. 3)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _md5_60(item: Column) -> Column:
    return F.conv(F.substring(F.md5(item.cast("string")), 1, 15), 16, 10) \
        .cast("long")


def hll_registers(df: DataFrame, keys: list[str], item: str,
                  p: int = 6) -> DataFrame:
    """The MERGEABLE sketch relation: (keys..., reg, m_rho, n_items).
    ``n_items`` is the exact distinct-item count of the register (rides
    along because item -> reg is a function; sums to the exact NDV).

    This is the state you persist per partition/day/tile: merging two
    register relations is groupBy(keys, reg).max(m_rho) — associative,
    no raw-data rescan."""
    tail = HASH_BITS - p
    d = df.select(*keys, item).distinct()
    # staged through real columns (md5 evaluated once per row; the
    # multiply-referenced h/w aliases stay un-inlined — see
    # functions/geohash.py on CollapseProject)
    d = d.withColumns({"_hll_h": _md5_60(F.col(item))})
    d = d.withColumns({
        "reg": F.shiftright(F.col("_hll_h"), tail),
        "_hll_w": F.col("_hll_h").bitwiseAND(F.lit((1 << tail) - 1)),
    })
    d = d.withColumns({
        "rho": F.when(F.col("_hll_w") == 0, F.lit(tail + 1))
        .otherwise(F.lit(tail + 1) - F.length(F.bin(F.col("_hll_w")))),
    })
    return (
        d.groupBy(*keys, "reg")
        .agg(F.max("rho").alias("m_rho"), F.count("*").alias("n_items"))
    )


def hll_merge(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Merge register relations down to coarser keys (e.g. child tiles
    -> parent tile, daily -> monthly): max is the sketch union.
    ``n_items`` does NOT survive a merge (children share items), so the
    merged relation carries registers only."""
    return regs.groupBy(*keys, "reg").agg(F.max("m_rho").alias("m_rho"))


def hll_estimate(regs: DataFrame, keys: list[str], p: int = 6,
                 exact: bool = True) -> DataFrame:
    """Fold a register relation into per-key estimates.  Emits
    (keys..., regs_hit, est_users [, exact_users])."""
    m = 1 << p
    s = HASH_BITS - p + 1  # scale: max m_rho, so every term is >= 1
    alpha = hll_alpha(m)
    aggs = [
        F.count("*").alias("regs_hit"),
        # SQL form: the ShiftLeft expression takes a column shift
        # amount, which the classic-API wrapper doesn't expose
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - m_rho)"))
        .alias("z_int"),
    ]
    if exact:
        aggs.append(F.sum("n_items").alias("exact_users"))
    sk = regs.groupBy(*keys).agg(*aggs)
    z = (F.col("z_int").cast("double") / F.lit(float(1 << s))
         + (F.lit(m) - F.col("regs_hit")).cast("double"))
    e_raw = F.lit(alpha * m * m) / z
    v = F.lit(m) - F.col("regs_hit")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    cols = [*keys, "regs_hit", F.round(est, 3).alias("est_users")]
    if exact:
        cols.append("exact_users")
    return sk.select(*cols)


def hll_sketch(df: DataFrame, keys: list[str], item: str,
               p: int = 6, exact: bool = True) -> DataFrame:
    """End-to-end: per-key HLL distinct estimate (+ exact ground truth).
    Standard error is ~1.04/sqrt(2^p)."""
    return hll_estimate(hll_registers(df, keys, item, p), keys, p, exact)


# ---------------------------------------------------------------------------
# DuckDB-dialect SQL twins (oracle side; formula-identical)
# ---------------------------------------------------------------------------
def hll_register_sql(item: str, p: int) -> tuple[str, str]:
    """(reg_expr, rho_expr) over the DuckDB md5-60 of ``item``."""
    tail = HASH_BITS - p
    h = f"('0x' || substr(md5(CAST({item} AS VARCHAR)), 1, 15))::BIGINT"
    reg = f"(({h}) >> {tail})"
    w = f"(({h}) & {(1 << tail) - 1})"
    rho = (f"(CASE WHEN {w} = 0 THEN {tail + 1} "
           f"ELSE {tail + 1} - length(bin({w})) END)")
    return reg, rho


def hll_zint_sql(p: int) -> str:
    """Aggregate expr for the exact integer Z accumulator over a
    register relation with column m_rho."""
    s = HASH_BITS - p + 1
    return f"sum((1::BIGINT << ({s} - m_rho)))"


def hll_estimate_sql(p: int) -> tuple[str, str]:
    """(z_expr, est_expr) templates over columns named
    regs_hit / z_int (see the driver oracle for usage)."""
    m = 1 << p
    s = HASH_BITS - p + 1
    alpha = hll_alpha(m)
    z = (f"(CAST(z_int AS DOUBLE) / {float(1 << s)!r}"
         f" + CAST({m} - regs_hit AS DOUBLE))")
    # single precomputed double literal, exactly like the Spark side's
    # F.lit(alpha * m * m) (and DECIMAL-parse-safe in DuckDB)
    e_raw = f"({alpha * m * m!r} / {z})"
    v = f"({m} - regs_hit)"
    est = (f"(CASE WHEN {e_raw} <= {2.5 * m!r} AND {v} > 0 "
           f"THEN {float(m)!r} * ln({float(m)!r} / CAST({v} AS DOUBLE)) "
           f"ELSE {e_raw} END)")
    return z, est


def hll_std_error(p: int) -> float:
    return 1.04 / math.sqrt(1 << p)


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data
# stream summary: the count-min sketch and its applications")
# ---------------------------------------------------------------------------
# The 100-TB frequency problem: "how often does this token/host/url
# appear across the corpus" without keeping one counter per distinct
# item.  The sketch is a d x w counter grid; its relational form is a
# (row, bucket, cnt) table of AT MOST d*w rows per key-group no matter
# how large the stream — mergeable by plain sum, so per-partition /
# per-day sketches roll up without rescanning raw data.  Guarantees:
# est >= true always (no false negatives above a heavy-hitter
# threshold), est <= true + (e/w)*N with probability 1 - e^-d.
#
# Plan shape: explode each occurrence into d (row, bucket) cells, then
# ONE groupBy(row, bucket) whose map-side partial aggregation
# compresses every task's contribution to <= d*w cells before the
# shuffle — the shuffle moves O(d*w*tasks) rows, not O(stream).
# Lookups broadcast the tiny sketch.  Hashing is the same
# engine-neutral md5-60 as the rest of the dedup family, salted with
# the row index, so the DuckDB oracle reproduces estimates bit-for-bit
# (all remaining math is integer sum/min).

def cms_bucket(item: Column, row: int, w: int) -> Column:
    """Bucket of ``item`` in sketch row ``row``: md5-60 of the
    row-salted string, mod w.  md5-60 is non-negative (< 2^60) so
    `pmod` == `%` in every engine."""
    return F.pmod(_md5_60(F.concat(F.lit(f"{row}:"), item.cast("string"))),
                  F.lit(w))


def cms_table(df: DataFrame, keys: list[str], item: str,
              d: int = 4, w: int = 1024, weight: str | None = None,
              ) -> DataFrame:
    """The MERGEABLE sketch relation (keys..., row, bucket, cnt):
    <= d*w rows per key-group regardless of stream size.  ``weight``
    counts each input row ``weight`` times (default 1)."""
    wcol = F.col(weight) if weight else F.lit(1)
    e = df.select(
        *keys,
        wcol.alias("_w"),
        F.posexplode(F.array(*[
            cms_bucket(F.col(item), r, w) for r in range(d)
        ])).alias("row", "bucket"),
    )
    return (e.groupBy(*keys, "row", "bucket")
            .agg(F.sum("_w").alias("cnt")))


def cms_merge(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Merge sketch relations (days/partitions/files -> corpus, or
    fine keys -> coarse): counter-wise sum is the sketch union."""
    return (sketches.groupBy(*keys, "row", "bucket")
            .agg(F.sum("cnt").alias("cnt")))


def cms_lookup(sketch: DataFrame, probes: DataFrame, keys: list[str],
               item: str, d: int = 4, w: int = 1024) -> DataFrame:
    """Point-query a sketch relation: per probe (keys..., item) the
    CMS estimate min over d rows (missing cell = 0).  The sketch side
    is <= d*w rows per key-group -> broadcast; the only shuffle is the
    per-item min."""
    pe = probes.select(
        *keys, item,
        F.posexplode(F.array(*[
            cms_bucket(F.col(item), r, w) for r in range(d)
        ])).alias("row", "bucket"),
    )
    joined = pe.join(F.broadcast(sketch), [*keys, "row", "bucket"], "left")
    return (joined.groupBy(*keys, item)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("est_cnt")))


def cms_bucket_sql(item: str, row_expr: str, w: int) -> str:
    """DuckDB twin of cms_bucket; ``row_expr`` may be a column."""
    salted = f"(CAST({row_expr} AS VARCHAR) || ':' || " \
             f"CAST({item} AS VARCHAR))"
    h = f"('0x' || substr(md5({salted}), 1, 15))::BIGINT"
    return f"(({h}) % {w})"


def cms_error_bound(w: int, n: int) -> float:
    """Additive overestimate bound e*N/w (holds per row w.p. 1-1/e)."""
    return math.e * n / w


# ---------------------------------------------------------------------------
# Bloom filter — relational form
# ---------------------------------------------------------------------------
# The crawl-frontier membership problem: "have we already ingested
# this URL/content hash" against a multi-billion-row seen-set, without
# joining the raw set every batch.  State = the DISTINCT set of lit
# bit positions (<= mbits rows, one long each) — mergeable by union,
# broadcastable at any realistic mbits, and rebuildable incrementally
# (new batch's bits union in).  Guarantee: a present item is ALWAYS
# maybe (no false negatives); absent items are maybe with
# p ~ (1 - e^(-k*n/m))^k.

def bloom_bit(item: Column, j: int, mbits: int) -> Column:
    """Bit position of hash function j — row-salted md5-60 mod mbits,
    same construction as cms_bucket."""
    return F.pmod(_md5_60(F.concat(F.lit(f"{j}:"), item.cast("string"))),
                  F.lit(mbits))


def bloom_bits(df: DataFrame, item: str, k: int = 7,
               mbits: int = 1 << 14) -> DataFrame:
    """Build the filter: the distinct (bit) relation of all k salted
    hashes of every item.  One explode + one distinct capped at mbits
    rows out."""
    return df.select(
        F.explode(F.array(*[
            bloom_bit(F.col(item), j, mbits) for j in range(k)
        ])).alias("bit")
    ).distinct()


def bloom_probe(bits: DataFrame, probes: DataFrame, item: str,
                k: int = 7, mbits: int = 1 << 14) -> DataFrame:
    """Membership test: per distinct probe item, maybe = every one of
    its k bits is lit.  The bits relation (<= mbits rows) broadcasts;
    the only shuffle is the per-item fold."""
    pe = probes.select(item).distinct().select(
        item,
        F.explode(F.array(*[
            bloom_bit(F.col(item), j, mbits) for j in range(k)
        ])).alias("bit"),
    )
    marked = bits.withColumn("_lit", F.lit(1))
    joined = pe.join(F.broadcast(marked), "bit", "left")
    return (joined.groupBy(item)
            .agg(F.min(F.coalesce(F.col("_lit"), F.lit(0)))
                 .alias("bloom_maybe")))


def bloom_bit_sql(item: str, j_expr: str, mbits: int) -> str:
    """DuckDB twin of bloom_bit; ``j_expr`` may be a column."""
    salted = f"(CAST({j_expr} AS VARCHAR) || ':' || " \
             f"CAST({item} AS VARCHAR))"
    h = f"('0x' || substr(md5({salted}), 1, 15))::BIGINT"
    return f"(({h}) % {mbits})"


def bloom_fpr(k: int, mbits: int, n: int) -> float:
    """Expected false-positive rate after inserting n items."""
    return (1.0 - math.exp(-k * n / mbits)) ** k


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — distinct counts AND set overlap
# (Bar-Yossef et al. 2002 "Counting distinct elements in a data
# stream"; Beyer et al. 2007 for the unbiased (k-1)/h_k estimator and
# the union/intersection algebra)
# ---------------------------------------------------------------------------
# What HLL can't answer: "how much do two corpora OVERLAP" (crawl
# snapshots, train-vs-eval contamination).  The KMV sketch of a set is
# its k smallest distinct md5-60 hashes — a k-row relation per key.
# Union = k smallest of the concatenation (mergeable); Jaccard(A,B) is
# estimated by |U_k ∩ A_k ∩ B_k| / k over the union sketch U_k; NDV by
# (k-1) * 2^60 / h_(k).  Every step is distinct/sort/min on 60-bit
# integers — bit-identical in any engine; the single double division
# in the estimators is the only float op.
#
# Plan shape: one distinct on (keys, hash), one window top-k ON THE
# DISTINCT HASH RELATION (cardinality NDV, not stream volume), then
# k-row-per-key algebra.  At 100 TB the distinct is the only big
# shuffle — the same one exact NDV would pay — but the k-row sketch
# persists, so repeat overlap queries across snapshots never rescan.

KMV_SPACE = float(1 << HASH_BITS)  # hash space size as exact double


def _k_smallest(d: DataFrame, keys: list[str], k: int) -> DataFrame:
    """k smallest hashes per key.  Un-keyed: sort-limit, which Spark
    plans as TakeOrderedAndProject — per-partition top-k heaps merged
    once, NO single-partition shuffle.  Keyed: window row_number (one
    shuffle on the key over the already-distinct hash relation)."""
    if not keys:
        return d.orderBy("h").limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("h")
    return (d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def kmv_sketch(df: DataFrame, keys: list[str], item: str,
               k: int = 128) -> DataFrame:
    """The sketch relation (keys..., h): per key the k smallest
    distinct md5-60 hashes of ``item``."""
    d = df.select(*keys, _md5_60(F.col(item)).alias("h")).distinct()
    return _k_smallest(d, keys, k)


def kmv_merge(sketches: DataFrame, keys: list[str],
              k: int = 128) -> DataFrame:
    """Union of sketch relations (concatenate first): re-take the k
    smallest distinct hashes per key — kmv(A ∪ B)."""
    return _k_smallest(sketches.select(*keys, "h").distinct(), keys, k)


def kmv_estimate(sk: DataFrame, keys: list[str],
                 k: int = 128) -> DataFrame:
    """Per-key NDV estimate: (k-1) * 2^60 / h_(k); when the key holds
    fewer than k distinct items the sketch IS the set and the count is
    exact."""
    agg = sk.groupBy(*keys) if keys else sk.groupBy()
    g = agg.agg(F.count("*").alias("n_sk"), F.max("h").alias("h_k"))
    est = F.when(
        F.col("n_sk") < k, F.col("n_sk").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE)
        / F.col("h_k").cast("double")
    )
    return g.select(*keys, "n_sk", F.round(est, 3).alias("est_ndv"))


def kmv_jaccard(sk_a: DataFrame, sk_b: DataFrame,
                k: int = 128) -> DataFrame:
    """Jaccard estimate between two (un-keyed) sketches: over the
    union sketch U_k, the fraction of hashes present in BOTH input
    sketches.  Exact set algebra on <= 3k rows."""
    u = kmv_merge(sk_a.select("h").unionAll(sk_b.select("h")), [], k)
    in_both = (u.join(sk_a.select("h"), "h", "left_semi")
               .join(sk_b.select("h"), "h", "left_semi"))
    return u.agg(F.count("*").alias("k_u")).crossJoin(
        in_both.agg(F.count("*").alias("k_both"))
    ).select(
        "k_u", "k_both",
        F.round(F.col("k_both").cast("double")
                / F.col("k_u").cast("double"), 6).alias("est_jaccard"),
    )


def kmv_hash_sql(item: str) -> str:
    """DuckDB twin of the sketch hash."""
    return (f"('0x' || substr(md5(CAST({item} AS VARCHAR)), 1, 15))"
            f"::BIGINT")


def kmv_estimate_sql(k: int) -> str:
    """Estimator over columns n_sk / h_k (matches kmv_estimate)."""
    return (f"(CASE WHEN n_sk < {k} THEN CAST(n_sk AS DOUBLE) "
            f"ELSE {float(k - 1)!r} * {KMV_SPACE!r} "
            f"/ CAST(h_k AS DOUBLE) END)")


def kmv_std_error(k: int) -> float:
    """Relative standard error of the NDV estimate, ~1/sqrt(k-2)."""
    return 1.0 / math.sqrt(k - 2)


# ---------------------------------------------------------------------------
# HDR-HISTOGRAM QUANTILE SKETCH — mergeable bounded-error quantiles.
#
# The quantile question the exact form can't answer at 100 TB:
# `doc_len_quantiles` uses Spark's exact percentile, whose aggregation
# buffer is O(distinct values) per group — fine for bounded domains
# (document character lengths), unusable for unbounded ones (token
# counts across a trillion docs, per-partition byte sizes, latencies).
# The sketch here is the HdrHistogram / DDSketch idea (Masson,
# Rim & Lee, VLDB'19 for the relative-error analysis) reduced to pure
# integer relational algebra:
#
#   s(x)   = max(bit_length(x) - B, 0)          B = sig_bits
#   b(x)   = (x >> s) << s                      bucket = its own lower bound
#
# keeps the top B significant bits of every non-negative integer, so a
# value collapses onto a bucket whose width is < 2^(1-B) of its
# magnitude: any quantile read off the bucket lower bounds
# UNDER-estimates the true order statistic by a relative error
# < 2^(1-B) (6.25% at the default B=5), deterministically — there is
# no probabilistic failure mode, unlike rank sketches.
#
# State is a (keys..., bucket, cnt) relation with at most
# 2^(B-1) * 64 rows per key (16 buckets per octave x <= 59 octaves at
# B=5 — in practice ~a few hundred), so it is BROADCASTABLE, and merge
# is groupBy-sum — associative and commutative, so day/shard/partition
# sketches roll up without rescanning raw data (the same persistence
# contract as the HLL/CMS/KMV family above).
#
# Everything is bit_length (via length(bin(x)), identical in Spark and
# DuckDB — no leading zeros either side) + integer shifts + integer
# ceil-division for ranks: both engines agree bit-for-bit, so the
# driver oracle certifies the SEMANTICS (merge(children) ==
# sketch(union), quantiles included), not a float echo.
#
# Plan shape: sketch = ONE partial-aggregatable shuffle on
# (keys, bucket) — the map-side combine collapses each task's rows to
# its distinct buckets, so shuffle volume is buckets-per-task, not
# rows.  Quantile extraction windows over the tiny sketch relation
# only.
# ---------------------------------------------------------------------------


def hdr_bucket_expr(value: str, sig_bits: int = 5) -> str:
    """Spark-SQL text of the bucket lower bound (column shift amounts
    need the SQL form — the pyspark shiftleft helper only takes
    literal shifts)."""
    s = f"greatest(length(bin(CAST({value} AS BIGINT))) - {sig_bits}, 0)"
    return (f"shiftleft(shiftright(CAST({value} AS BIGINT), {s}), {s})")


def hdr_sketch(df: DataFrame, keys: list[str], value: str,
               sig_bits: int = 5) -> DataFrame:
    """The sketch relation (keys..., b, cnt): per key, how many values
    fell in each top-``sig_bits``-bits bucket.  One
    partial-aggregatable shuffle."""
    return (
        df.select(*keys, F.expr(hdr_bucket_expr(value, sig_bits))
                  .alias("b"))
        .groupBy(*keys, "b").agg(F.count("*").alias("cnt"))
    )


def hdr_merge(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Union of sketch relations (concatenate first): counts sum —
    hdr(A ∪ B).  Associative/commutative, so shard/day/partition
    sketches roll up in any order."""
    return sketches.groupBy(*keys, "b").agg(F.sum("cnt").alias("cnt"))


def hdr_quantiles(sketch: DataFrame, keys: list[str],
                  qs_ppm: list[int]) -> DataFrame:
    """Per-key quantile estimates from a sketch relation: for each
    q (in parts-per-million, so ranks are exact integer ceil-division
    — no float rank), the smallest bucket whose cumulative count
    reaches rank ceil(q*n / 1e6).  The estimate is the bucket LOWER
    bound: est <= true < est * (1 + 2^(1-sig_bits)) for values >=
    2^sig_bits.  Output: (keys..., n, n_buckets, q_<ppm>...) —
    n_buckets rides along so merge-vs-direct oracles can certify the
    bucket SET without a second pass over the sketch."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("b") if keys else (
        Window.orderBy("b"))
    wt = Window.partitionBy(*keys) if keys else (
        Window.partitionBy(F.lit(1)))
    cum = sketch.select(
        *keys, "b",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(wt).alias("_n"),
    )
    aggs = [F.max("_n").alias("n"), F.count("*").alias("n_buckets")]
    for q in qs_ppm:
        rank = F.expr(f"(_n * {int(q)}L + 999999L) DIV 1000000L")
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col("b")))
            .alias(f"q_{int(q)}")
        )
    g = cum.groupBy(*keys) if keys else cum.groupBy()
    return g.agg(*aggs)


def hdr_bucket_sql(value: str, sig_bits: int = 5) -> str:
    """DuckDB twin of the bucket lower bound (bin() has no leading
    zeros in either engine; >>/<< are BIGINT shifts in both)."""
    s = f"greatest(length(bin(CAST({value} AS BIGINT))) - {sig_bits}, 0)"
    return f"((CAST({value} AS BIGINT) >> ({s})) << ({s}))"


def hdr_error_bound(sig_bits: int) -> float:
    """Relative under-estimate bound of any quantile read, for values
    >= 2^sig_bits (smaller values are bucketed exactly)."""
    return 2.0 ** (1 - sig_bits)
