"""Training-data text operators over a documents table.

The web-scale pipeline counterpart of the geo engine: deduplication
(exact, MinHash+LSH, SimHash, exact n-gram Jaccard), language ID,
quality scoring, token counting, and document fingerprinting — all as
DataFrame plans over ``documents(doc_id, text, lang, source,
n_chars)``.

Scale notes (the designs assume 10^12 docs):
- every operator is a groupBy/join on hashed keys — no driver-side
  loops, no collects;
- MinHash/SimHash hash with the engine-neutral 60-bit md5 integer
  (one codegen'd expression; identical in DuckDB, so every signature
  is exactly oracle-checkable);
- MinHash near-dup is one scan + one shuffle up to the candidates:
  codegen'd shingle rows feed ONE groupBy(doc_id) that builds each
  document's shingle set and its signature together, spooled once for
  both the LSH join and the Jaccard refine (no corpus-wide distinct of
  shingle rows); the permutations run in exact double arithmetic, not
  ANSI-checked long math;
- the exact-Jaccard verify only runs on LSH candidate pairs (the
  classic filter-refine shape, same as the spatial joins);
- banding keys are (band_id, band_signature) so hot buckets spread
  across partitions; AQE skew-join is the backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geospark.spool import spool

# ---------------------------------------------------------------------------
# engine-neutral hashing
# ---------------------------------------------------------------------------
# 60-bit integer hash from the md5 hex digest: identical in Spark
# (conv(substring(md5(s),1,15),16,10)) and DuckDB
# (('0x'||substr(md5(s),1,15))::BIGINT) — the whole dedup family hashes
# with this so every operator has an exact cross-engine oracle.
# (xxhash64 would be faster JVM-side but is Spark-only; md5 is still
# one codegen'd expression per row.)
HASH_P = 2_147_483_647  # 2^31 - 1, modulus for permuted/rolling hashes


def md5_60_sql(col: str) -> str:
    """Spark SQL text of the 60-bit md5 hash of ``col``."""
    return f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT)"


def hash60_sql(col: str, hash_fn: str = "md5") -> str:
    """Token/shingle hash used by the dedup family. ``md5`` (default)
    is engine-neutral (DuckDB-oracle-checkable); ``xxhash64`` is the
    production fast path at 100 TB, Spark-only — positive 60-bit range
    kept so downstream banding is identical. On 190k shingle rows (4
    cores, the benchmark's C1 JIT) md5 took 1.3 CPU s and xxhash64
    0.26 s; md5 stays the default because the MinHash pairs, and so
    their DuckDB oracles, depend on it."""
    if hash_fn == "md5":
        return md5_60_sql(col)
    if hash_fn == "xxhash64":
        return f"(xxhash64({col}) & 1152921504606846975)"  # low 60 bits
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def minhash_perm_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th minhash permutation
    h_i(x) = (a*x + b) mod p over x = md5_60 mod p. a,b < 2^31 so the
    product stays under 2^62 (safe in Spark longs and DuckDB BIGINT)."""
    a = (1103515245 * (i + 1) + 12345) % HASH_P
    if a == 0:
        a = 1
    b = (2654435761 * (i + 1)) % HASH_P
    return a, b


# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------
def tokens(docs: DataFrame, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, token) — whitespace tokenization."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "token"),
    ).filter(F.col("token") != "")


def _shingle_rows(docs: DataFrame, n: int, text_col: str,
                  id_col: str) -> DataFrame:
    """(doc_id, shingle) for every word n-gram position, repeats kept.

    One codegen'd ``explode(sequence(0, size(_t) - n))`` over the staged
    token array, then n O(1) index accesses per position — no lambda
    (a ``transform`` lambda is interpreted, not codegen'd). Docs with
    fewer than n tokens, and null text, give no rows; the size filter
    also keeps ``sequence()`` from running backwards."""
    parts = ", ".join(f"_t[_i + {j}]" for j in range(n))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.expr(f"split({text_col}, '\\\\s+')").alias("_t"),
        )
        .filter(F.size("_t") >= n)
        .select("doc_id", "_t",
                F.explode(F.expr(f"sequence(0, size(_t) - {n})")).alias("_i"))
        .select("doc_id", F.expr(f"concat_ws(' ', {parts})").alias("shingle"))
    )


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    return _shingle_rows(docs, n, text_col, id_col).distinct()


def shingle_arrays(docs: DataFrame, n: int, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingles: array<string>) — per-doc DISTINCT word
    n-grams built entirely map-side (``array_distinct`` over the
    staged transform), so consumers that only need per-doc sets never
    pay the global ``distinct()`` shuffle that :func:`shingles` does.
    Docs shorter than ``n`` tokens yield an empty array."""
    parts = ", ".join(f"_t[i + {j}]" for j in range(n))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split({text_col}, '\\\\s+')").alias("_t"),
    )
    return base.select(
        "doc_id",
        F.expr(
            f"array_distinct(CASE WHEN size(_t) >= {n} THEN "
            f"transform(sequence(0, size(_t) - {n}), "
            f"i -> concat_ws(' ', {parts})) "
            f"ELSE CAST(array() AS array<string>) END)"
        ).alias("shingles"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination — eval-set n-gram overlap
# ---------------------------------------------------------------------------
def decontaminate(docs: DataFrame, eval_texts: DataFrame, n: int = 5,
                  max_contam_ppm: int = 0, text_col: str = "text",
                  id_col: str = "doc_id",
                  eval_text_col: str = "text") -> DataFrame:
    """Pre-training decontamination: flag training documents that
    contain word n-grams from an evaluation/benchmark set (the
    standard cross-corpus hygiene step — distinct from dedup, which
    compares the corpus to itself).

    Per doc: ``n_grams`` distinct n-grams, ``n_hit`` of them that
    appear anywhere in the eval set, ``contam_ppm`` =
    floor(n_hit·10^6 / n_grams) (integer, engine-exact), and
    ``keep`` = 1 iff contam_ppm <= ``max_contam_ppm``. Docs shorter
    than ``n`` tokens carry no evidence and are kept (n_grams = 0).

    Plan (scales to corpus >> eval): per-doc distinct n-grams are
    built map-side (:func:`shingle_arrays` — no corpus-wide distinct),
    exploded, LEFT-joined to the BROADCAST distinct eval-shingle set
    (benchmarks are tiny next to a crawl), then one
    partial-aggregatable groupBy on doc_id. One shuffle total; the
    eval side never shuffles the corpus."""
    doc_sh = shingle_arrays(docs, n, text_col=text_col, id_col=id_col)
    exploded = doc_sh.select(
        "doc_id",
        F.explode_outer("shingles").alias("shingle"),
    )
    eval_sh = (
        shingle_arrays(
            eval_texts.select(
                F.monotonically_increasing_id().alias("doc_id"),
                F.col(eval_text_col).alias("text"),
            ),
            n, text_col="text", id_col="doc_id",
        )
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = exploded.join(F.broadcast(eval_sh), "shingle", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count("shingle").alias("n_grams"),
        F.count("_hit").alias("n_hit"),
    )
    # BIGINT floor division (DIV) — bit-exact in any engine, no float
    contam = F.expr(
        "CASE WHEN n_grams > 0 THEN n_hit * 1000000L DIV n_grams "
        "ELSE 0L END"
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_hit",
        contam.alias("contam_ppm"),
        (contam <= F.lit(max_contam_ppm)).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# cross-document duplicated spans — exact-substring-dedup signal
# ---------------------------------------------------------------------------
def dup_span_stats(docs: DataFrame, n: int = 10,
                   text_col: str = "text", id_col: str = "doc_id",
                   hash_fn: str = "md5") -> DataFrame:
    """Per-document duplicated-span statistics at n-gram granularity —
    the signal behind exact-substring training-data dedup (a span is
    'duplicated' when the same n token window appears in ANOTHER
    document). Output per doc: ``n_positions`` (token windows),
    ``n_dup_positions`` (windows whose n-gram occurs cross-document),
    ``dup_ppm`` = floor(dup·10^6/positions) — integer, engine-exact.
    Repeats WITHIN one doc do not count (self-repetition is
    repetition_stats' job); docs shorter than ``n`` report 0/0/0.

    Plan: positional n-grams (no distinct — every window counts) are
    hashed to 60-bit ints (:func:`hash60_sql` — md5 for the
    engine-neutral oracle path, xxhash64 as the production fast
    path), the gram relation aggregates min!=max doc_id per hash (the
    cheapest possible cross-doc test — no count_distinct expansion),
    and rejoins itself on the hash. Two shuffles of the gram relation
    (agg + rejoin) + the final doc rollup; all JVM."""
    parts = ", ".join(f"_t[i + {j}]" for j in range(n))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split({text_col}, '\\\\s+')").alias("_t"),
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(_t) >= {n} THEN "
                f"transform(sequence(0, size(_t) - {n}), "
                f"i -> {hash60_sql(f'concat_ws(chr(31), {parts})')}) "
                f"ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("gh"),
    )
    # ONE exchange of the gram relation: a gh-partitioned window
    # computes min/max doc_id in place. The groupBy+self-join
    # alternative ships the ~|positions| relation through TWO
    # exchanges and builds a ~|distinct grams| hash side (grams are
    # mostly unique, so that build is nearly input-sized) — measured
    # 415s -> see BENCH.md at 5M docs.
    w = Window.partitionBy("gh")
    per_pos = grams.withColumn(
        "_multi",
        (F.min("doc_id").over(w) != F.max("doc_id").over(w)).cast("int"),
    )
    agg = per_pos.groupBy("doc_id").agg(
        F.count("*").alias("n_positions"),
        F.sum("_multi").alias("n_dup_positions"),
    )
    out = agg.select(
        "doc_id", "n_positions", "n_dup_positions",
        F.expr("n_dup_positions * 1000000L DIV n_positions")
        .alias("dup_ppm"),
    )
    # docs shorter than n produce no gram rows — restore them as 0/0/0
    all_ids = docs.select(F.col(id_col).alias("doc_id"))
    return (
        all_ids.join(out, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_positions", F.lit(0)).alias("n_positions"),
            F.coalesce("n_dup_positions", F.lit(0))
            .alias("n_dup_positions"),
            F.coalesce("dup_ppm", F.lit(0)).alias("dup_ppm"),
        )
    )


def scrub_dup_spans(docs: DataFrame, n: int = 10,
                    text_col: str = "text", id_col: str = "doc_id",
                    hash_fn: str = "md5") -> DataFrame:
    """Exact-substring scrubbing — the REMOVAL step behind
    :func:`dup_span_stats`'s signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): every
    n-token window whose gram also appears in ANOTHER document is cut
    from all but one copy of the span. Keep-one policy: the lowest
    doc_id among the gram's holders keeps its occurrence(s); every
    other doc drops tokens ``[i, i+n)`` for each such window start
    ``i`` (overlapping windows union — maximal duplicated runs vanish
    in one pass). Deterministic, so the DuckDB oracle replays it
    exactly. Output per input doc: ``(doc_id, text [scrubbed,
    single-space rejoined], n_tokens [original], n_removed)``.

    Plan (all JVM, no Python, no windows over the token relation):
    positional grams hash to 60-bit ints; ONE gh-partitioned window
    marks each window with the gram's (min doc_id, cross-doc flag);
    flagged non-keeper windows explode to covered token positions
    (<= n x dup-window rows — proportional to the duplicated volume,
    not the corpus); the token relation anti-joins the covered set on
    (doc_id, pos) and regroups per doc with an array_sort
    reconstruction. Shuffles: gram window + covered distinct +
    anti-join + doc rollup — each linear in corpus tokens, partial-agg
    where applicable. Docs shorter than ``n`` pass through verbatim
    (modulo whitespace normalization, which applies corpus-wide)."""
    parts = ", ".join(f"_t[i + {j}]" for j in range(n))
    base = spool(docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split({text_col}, '\\\\s+')").alias("_t"),
    ))
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(_t) >= {n} THEN "
                f"transform(sequence(0, size(_t) - {n}), "
                f"i -> {hash60_sql(f'concat_ws(chr(31), {parts})', hash_fn)}) "
                f"ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("pos", "gh"),
    )
    # one exchange of the gram relation: keeper + cross-doc flag in place
    w = Window.partitionBy("gh")
    flagged = grams.select(
        "doc_id", "pos",
        F.min("doc_id").over(w).alias("_keeper"),
        (F.min("doc_id").over(w) != F.max("doc_id").over(w)).alias("_multi"),
    )
    covered = (
        flagged.filter(F.col("_multi") & (F.col("doc_id") != F.col("_keeper")))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    toks = base.select("doc_id", F.posexplode("_t").alias("tpos", "tok"))
    keep = toks.join(covered, ["doc_id", "tpos"], "left_anti")
    agg = keep.groupBy("doc_id").agg(
        F.count("*").alias("_n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(tpos, tok))),"
            " s -> s.tok), ' ')"
        ).alias("_text"),
    )
    # fully-scrubbed docs lose every token row — restore as empty text
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_text", F.lit("")).alias("text"),
            F.size("_t").cast("long").alias("n_tokens"),
            (F.size("_t") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# exact dedup — hash groupBy (md5 content key)
# ---------------------------------------------------------------------------
def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canonical_id, group_size): canonical = min doc id with
    identical text bytes. One shuffle on the md5 key."""
    w = Window.partitionBy("_h")
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(text_col).alias("_h"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .select("doc_id", "canonical_id", "group_size")
    )


def incremental_dedup(docs: DataFrame, seen: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      seen_hash_col: str = "content_md5") -> DataFrame:
    """New-crawl ingest against an existing training corpus: keep only
    docs whose content hash does NOT appear in ``seen`` (a relation of
    md5 hex content hashes) — the standard incremental-corpus LEFT
    ANTI join. At warehouse scale the probe side shuffles on the hash
    once; with AQE runtime filters enabled Spark inserts a bloom
    filter from the seen side ahead of the shuffle, so most new rows
    never reach it. Output keeps (doc_id[, lang], content_md5) —
    lang only when the input carries it."""
    cols = [F.col(id_col).alias("doc_id")]
    if "lang" in docs.columns:
        cols.append(F.col("lang"))
    cols.append(F.md5(text_col).alias("content_md5"))
    return (
        docs.select(*cols)
        .join(
            seen.select(F.col(seen_hash_col).alias("content_md5")).distinct(),
            "content_md5", "left_anti",
        )
    )


def cap_per_group(docs: DataFrame, k: int, group_col: str = "lang",
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Domain/language balancing: keep at most ``k`` docs per group,
    preferring longer documents (n_chars desc), doc_id asc as the
    deterministic tie-break — one window shuffle on the group key.
    Skewed groups are exactly the hot-host case; the window partitions
    by group so a giant group sorts only within its own partitions."""
    w = Window.partitionBy(group_col).orderBy(
        F.length(text_col).desc(), F.col(id_col).asc()
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(group_col).alias("grp"),
                    F.length(text_col).alias("n_chars_kept"),
                    F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# token counting & quality scoring — pure Column exprs
# ---------------------------------------------------------------------------
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

BPE_ISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_stats(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """n_tokens (whitespace), n_tokens_re (BPE-ish regex pieces),
    n_chars — all JVM-side."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_RE)).alias("n_tokens_re"),
        F.length(text_col).alias("n_chars"),
    )


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + score in [0, 1]:
    stopword ratio, mean token length, alpha ratio."""
    t = F.col(text_col)
    n_tok = F.size(F.split(F.trim(t), r"\s+"))
    stop_pattern = "\\b(" + "|".join(STOPWORDS) + ")\\b"
    n_stop = F.regexp_count(t, F.lit(stop_pattern))
    n_alpha = F.regexp_count(t, F.lit("[A-Za-z]"))
    mean_tok_len = F.length(t) / n_tok
    stop_ratio = n_stop / n_tok
    alpha_ratio = n_alpha / F.length(t)
    score = (
        F.least(F.lit(1.0), stop_ratio * 4.0) * 0.3
        + F.least(F.lit(1.0), mean_tok_len / 8.0) * 0.3
        + alpha_ratio * 0.4
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(score, 6).alias("quality"),
    )


LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ist", "ein"),
    "fr": ("le", "la", "et", "est", "un"),
    "es": ("el", "la", "y", "es", "un"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language guess: count marker-word hits per
    language, argmax with deterministic tie-break (lang asc). All
    regexp_count Column exprs — one narrow scan."""
    t = F.col(text_col)
    scores = [
        (lang, F.regexp_count(t, F.lit("\\b(" + "|".join(ws) + ")\\b")))
        for lang, ws in sorted(LANG_MARKERS.items())
    ]
    # argmax via greatest + chained when (ties -> first lang asc)
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("unknown")
    for lang, s in reversed(scores):
        pred = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return docs.select(F.col(id_col).alias("doc_id"), pred.alias("lang_pred"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup — fully relational filter-refine
# ---------------------------------------------------------------------------
def jaccard_pairs(docs: DataFrame, threshold: float, n: int = 3,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard) for pairs with shingle-set Jaccard
    >= threshold. Shuffle keys: shingle (intersection), doc (sizes).
    The shingle set feeds three consumers (intersection self-join +
    both size joins) — materialize it once instead of re-exploding the
    corpus per consumer (at warehouse scale: a persisted signatures /
    shingles table)."""
    sh = spool(shingles(docs, n, text_col, id_col), "shingles")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_id_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_id_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_id_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup — the scale path
# ---------------------------------------------------------------------------
def _perm_sql(x: str, a: int, b: int) -> str:
    """Spark SQL text of the minhash permutation ``(a*x + b) mod HASH_P``
    for an integer-valued ``x`` in [0, HASH_P), without ANSI-checked
    long arithmetic (``multiplyExact``/``addExact``: 16 minima over
    190k shingle rows took 0.94 CPU s that way, 0.53 s this way, on 4
    cores under the benchmark's C1 JIT). ``a = a1*2^16 + a0`` with
    a1 < 2^15, so ``a1*x`` < 2^46, ``(a1*x mod P)*2^16 + a0*x + b``
    < 2^49, and every intermediate is an integer below 2^53: exact in
    doubles. The two reductions are a double->bigint cast and a long
    ``%``; all terms are non-negative, so ``%`` is ``pmod``."""
    a1, a0 = divmod(a, 1 << 16)
    hi = f"CAST({a1}D * {x} AS BIGINT) % {HASH_P}"
    return (f"CAST(CAST({hi} AS DOUBLE) * 65536D + {a0}D * {x} + {b}D "
            f"AS BIGINT) % {HASH_P}")


def _minhash_groups(sh: DataFrame, k: int, hash_fn: str,
                    *extra) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}, *extra) from a (doc_id, shingle)
    relation: ONE groupBy computing the k permuted-hash minima and any
    ``extra`` aggregates. Every minhash entry point goes through here,
    so all compute identical signatures. Repeated rows do not change a
    minimum, so ``sh`` need not be distinct."""
    hx = sh.withColumn(
        "_x",
        F.expr(f"CAST(pmod({hash60_sql('shingle', hash_fn)}, {HASH_P}) AS DOUBLE)"),
    )
    mins = [F.min(F.expr(_perm_sql("_x", *minhash_perm_params(i)))).alias(f"mh_{i}")
            for i in range(k)]
    return hx.groupBy("doc_id").agg(*mins, *extra)


def minhash_signatures_from_shingles(sh: DataFrame, k: int = 16,
                                     hash_fn: str = "md5") -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}) from a prepared (doc_id, shingle)
    relation: k permuted-hash minima in one groupBy."""
    return _minhash_groups(sh, k, hash_fn)


def minhash_signatures(docs: DataFrame, k: int = 16, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       hash_fn: str = "md5") -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): k minhashes of the shingle set.
    One scan + one shuffle (the groupBy)."""
    return minhash_signatures_from_shingles(
        _shingle_rows(docs, n, text_col, id_col), k, hash_fn
    )


def lsh_candidates(sigs: DataFrame, k: int = 16, bands: int = 4) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band value:
    (doc_id_a, doc_id_b) candidate pairs."""
    r = k // bands
    band_cols = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[F.col(f"mh_{b * r + j}") for j in range(r)]).alias("sig"),
        )
        for b in range(bands)
    ])
    buckets = sigs.select(
        "doc_id", F.explode(band_cols).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    return (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


def minhash_neardup_pairs(docs: DataFrame, threshold: float, k: int = 16,
                          bands: int = 4, n: int = 3,
                          text_col: str = "text", id_col: str = "doc_id",
                          hash_fn: str = "md5") -> DataFrame:
    """LSH candidates -> exact-Jaccard refine (filter-refine, like the
    spatial joins: cheap bucket equi-join, exact verify only on
    candidates).

    The codegen'd shingle rows (repeats kept) go through ONE
    ``groupBy(doc_id)`` computing the shingle set (``collect_set``)
    and the k minima together; that n_docs-row relation is spooled
    once and feeds both the banded candidate join and the refine,
    which joins it twice on doc_id and intersects the sets JVM-side
    (``array_intersect``) — no corpus-wide ``distinct()`` of shingle
    rows. At 5M docs/1.2M candidates a row-level refine (two joins
    against the 190M-row shingle relation on string keys) took
    ~425 s. Sets are bounded by document length — for giant-document
    corpora cap with a length guard upstream. A doc_id on several
    rows gets the union of their shingles; a null doc_id never
    pairs."""
    per_doc = spool(
        _minhash_groups(_shingle_rows(docs, n, text_col, id_col), k, hash_fn,
                        F.collect_set("shingle").alias("_sh")),
        "minhash_docs",
    )
    cand = lsh_candidates(per_doc, k, bands)

    def side(s: str) -> DataFrame:
        return per_doc.select(F.col("doc_id").alias(f"doc_id_{s}"),
                              F.col("_sh").alias(f"_s{s}"),
                              F.size("_sh").alias(f"n_{s}"))

    return (
        cand.join(side("a"), "doc_id_a")
        .join(side("b"), "doc_id_b")
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash — 64-bit signature + banded hamming join
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60  # md5_60 hash width; bits 60-63 of the signature are 0


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", hash_fn: str = "md5") -> DataFrame:
    """(doc_id, simhash): 60-bit simhash over whitespace tokens with
    term-frequency weights. One scan + ONE shuffle: bit-sums are
    linear, so summing ±1 per token OCCURRENCE is exactly the
    TF-weighted sum over distinct tokens — no (doc_id, token)
    pre-aggregation shuffle needed (that extra 195M-row shuffle was
    ~40% of simhash wall at 5M docs). The 60 bit-sums are 60
    partial-aggregatable expressions in a single groupBy."""
    tok = tokens(docs, text_col, id_col)
    tok = tok.withColumn("_h", F.expr(hash60_sql("token", hash_fn)))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    sig = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s_{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_bands(n_bands: int, bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """Split ``bits`` into ``n_bands`` contiguous (offset, width) chunks,
    widths as equal as possible (the narrowest band bounds the bucket
    selectivity, so equal widths maximize it)."""
    base, extra = divmod(bits, n_bands)
    out, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < extra else 0)
        out.append((off, w))
        off += w
    return out


def _flip_masks(width: int, t: int) -> list[int]:
    """All XOR masks with <= t bits set inside a width-bit band
    (V(width, t) = sum_{i<=t} C(width, i) masks, enumerated driver-side
    — a model-sized literal list, never data-sized)."""
    import itertools

    masks = [0]
    for i in range(1, min(t, width) + 1):
        for combo in itertools.combinations(range(width), i):
            m = 0
            for b in combo:
                m |= 1 << b
            masks.append(m)
    return masks


def mih_plan(max_hamming: int, bits: int = SIMHASH_BITS,
             n_docs: int | None = None,
             max_probe_rows: int = 1024) -> tuple[int, int, int]:
    """Pick (n_bands, t1, t2) for recall-complete multi-index simhash
    probing by minimizing a two-term cost model: exploded probe rows
    (shuffle volume, ~n * sum V(w, t_side)) plus expected random
    candidate pairs (~n^2 * sum V*V / 2^w). Contiguous max_hamming+1
    banding is the t=0 point of the same family, so the optimizer
    chooses it automatically for small corpora / small radii and
    shifts to fewer, wider bands with multi-bit probes (Norouzi &
    Fleet, multi-index hashing) as n grows. Recall is guaranteed at
    EVERY point: with m bands and t = floor(r/m), a pair within
    hamming r must differ by <= t on some band (if every band differed
    by >= t+1, the total would be >= m*(t+1) >= r+1), and two-sided
    enumeration of t1 + t2 = t flips covers any <= t band diff."""
    import math

    n = float(n_docs if n_docs else 1_000_000)
    best: tuple[float, int, int, int] | None = None
    for m in range(1, min(max_hamming + 1, bits) + 1):
        t = max_hamming // m
        t1, t2 = t // 2, t - t // 2
        rate = rows1 = rows2 = 0.0
        for _off, w in simhash_bands(m, bits):
            v1 = sum(math.comb(w, i) for i in range(min(t1, w) + 1))
            v2 = sum(math.comb(w, i) for i in range(min(t2, w) + 1))
            rate += v1 * v2 / 2.0 ** w
            rows1 += v1
            rows2 += v2
        if rows1 + rows2 > max_probe_rows:
            continue
        # a candidate costs ~2 probe rows (hash-join match + verify)
        cost = n * (rows1 + rows2) + rate * n * n
        if best is None or cost < best[0]:
            best = (cost, m, t1, t2)
    assert best is not None  # m = max_hamming+1 always fits (2 rows/band)
    return best[1], best[2], best[3]


def _simhash_probe_side(sig: DataFrame, bands: list[tuple[int, int]],
                        t_side: int) -> DataFrame:
    """Explode each signature into (band, probed band value) rows: the
    band's own value XOR every <= t_side-bit flip mask. t_side = 0 is
    plain contiguous banding (one row per band)."""
    entries = []
    for c, (off, w) in enumerate(bands):
        val = F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
        for mask in _flip_masks(w, t_side):
            entries.append(
                F.struct(F.lit(c).alias("band"),
                         val.bitwiseXOR(F.lit(mask)).alias("val"))
            )
    return (
        sig.select("doc_id", "simhash", F.explode(F.array(*entries)).alias("bs"))
        .select("doc_id", "simhash",
                F.col("bs.band").alias("band"), F.col("bs.val").alias("val"))
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  hash_fn: str = "md5", n_bands: int | None = None,
                  n_docs: int | None = None) -> DataFrame:
    """All pairs with hamming(simhash) <= max_hamming — multi-index
    banded bucket join + exact bit_count verify, with GUARANTEED
    recall at every configuration (see mih_plan for the pigeonhole
    argument). The signature is split into m bands; each side of the
    self-join probes every value within t1 (resp. t2) bit flips of its
    own band value, t1 + t2 = floor(max_hamming / m). m defaults to
    the mih_plan cost-model optimum for ``n_docs`` (pass the corpus
    size for a better plan; recall never depends on it): small radii
    pick the classic max_hamming+1 contiguous banding (t=0), large
    radii at corpus scale pick fewer, wider bands — e.g. radius 8 at
    5M docs probes 3 x 20-bit bands with 1 flip per side (2^20 buckets,
    ~126 probe rows/doc) instead of 9 x ~7-bit bands whose 2^6.7
    buckets collide ~n^2/100 times. Precision is exact: candidates are
    verified with bit_count on the full signature BEFORE the distinct,
    so the dedup shuffle only carries surviving pairs."""
    if n_bands is not None:
        if n_bands > SIMHASH_BITS:
            raise ValueError(f"n_bands {n_bands} > signature bits {SIMHASH_BITS}")
        m = n_bands
        t = max_hamming // m
        t1, t2 = t // 2, t - t // 2
    else:
        m, t1, t2 = mih_plan(max_hamming, n_docs=n_docs)
    bands = simhash_bands(m)
    sig = simhash(docs, text_col, id_col, hash_fn)
    side_a = _simhash_probe_side(sig, bands, t1)
    side_b = side_a if t2 == t1 else _simhash_probe_side(sig, bands, t2)
    return (
        side_a.alias("a")
        .join(side_b.alias("b"), ["band", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # verify BEFORE distinct: hamming is a pure function of the
        # pair, so the dedup shuffle only carries surviving pairs
        # (~10^4) instead of every banded candidate (~10^9 at 5M docs)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# document fingerprint — order-sensitive rolling hash
# ---------------------------------------------------------------------------
def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", hash_fn: str = "md5") -> DataFrame:
    """(doc_id, fingerprint): polynomial rolling hash over the token
    sequence, folded JVM-side with aggregate(); order-sensitive (unlike
    the set-based minhash)."""
    toks = f"split({text_col}, '\\\\s+')"
    # modulus keeps the fold inside BIGINT under ANSI mode (no
    # wrap-around multiply); 2^31-1 prime, classic polynomial hash;
    # md5_60 token hash so the fold replays identically in DuckDB
    expr = (
        f"aggregate({toks}, CAST(401862909 AS BIGINT), "
        f"(acc, t) -> pmod(acc * 31 + pmod({hash60_sql('t', hash_fn)}, {HASH_P}), "
        f"{HASH_P}))"
    )
    return docs.select(
        F.col(id_col).alias("doc_id"), F.expr(expr).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Deterministic dataset split — train/val/test by stable content hash
# ---------------------------------------------------------------------------
def split_assign(docs: DataFrame, id_col: str = "doc_id",
                 weights: tuple[int, ...] = (80, 10, 10),
                 names: tuple[str, ...] = ("train", "val", "test"),
                 hash_fn: str = "md5") -> DataFrame:
    """Assign each row to a split by hashing its id — deterministic,
    partition-order-independent, stable across reruns and engines
    (md5-60 mod sum(weights); xxhash64 as the Spark-only fast path).
    The standard training-pipeline requirement: a document's split
    NEVER changes when the corpus is re-sharded, appended to, or
    re-read, because it is a pure function of the id. Adds ``bucket``
    (0..sum(weights)-1) and ``split`` columns; narrow (no shuffle)."""
    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    total = int(sum(weights))
    out = docs.withColumn(
        "bucket",
        F.expr(f"pmod({hash60_sql(f'CAST({id_col} AS STRING)', hash_fn)}, "
               f"{total})"),
    )
    expr = None
    acc = 0
    for w, nm in zip(weights, names):
        acc += int(w)
        branch = (F.col("bucket") < acc, F.lit(nm))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    return out.withColumn("split", expr)


# ---------------------------------------------------------------------------
# Sliding-window chunking — LLM training-sample preparation
# ---------------------------------------------------------------------------
def chunk_documents(docs: DataFrame, chunk_size: int = 64, stride: int = 48,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, chunk_id, start_pos, n_tokens, chunk_text): sliding
    token windows for training-sample prep. Window i starts at
    i*stride and covers ``chunk_size`` tokens; the last start is the
    SMALLEST multiple of stride whose window reaches the end of the
    doc, so every token lands in >=1 chunk and no fully-redundant
    trailing windows are emitted (a doc shorter than chunk_size yields
    exactly one chunk). Narrow plan: split + sequence + posexplode +
    slice, all JVM codegen — zero shuffles, scales as a map over the
    corpus."""
    if chunk_size <= 0 or stride <= 0:
        raise ValueError("chunk_size and stride must be positive")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")
        .alias("_t"),
    ).withColumn("_n", F.size("_t")).filter(F.col("_n") > 0)
    # last start = ceil(max(n - chunk, 0) / stride) * stride
    last = (f"CAST(ceil(greatest(_n - {chunk_size}, 0) / "
            f"CAST({stride} AS DOUBLE)) AS INT) * {stride}")
    return (
        base.select(
            "doc_id", "_t", "_n",
            F.posexplode(F.expr(f"sequence(0, {last}, {stride})"))
            .alias("chunk_id", "start_pos"),
        )
        .withColumn(
            "_c", F.expr(f"slice(_t, start_pos + 1, {chunk_size})")
        )
        .select(
            "doc_id", "chunk_id", "start_pos",
            F.size("_c").alias("n_tokens"),
            F.array_join("_c", " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms — corpus statistics for quality/topic analysis
# ---------------------------------------------------------------------------
def tfidf_top_terms(docs: DataFrame, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-doc top-k TF-IDF terms: (doc_id, rnk, token, tf, df,
    score_r). idf = ln(N/df) (no smoothing — df >= 1 by construction);
    score rounded half-up at 6 decimals so the value is engine-stable.
    Ties rank by token ascending (deterministic). Plan: one shuffle on
    (doc, token) for tf, one map-side-combined shuffle on token for df
    joined back broadcast-free (df relation is |vocab|, re-shuffled on
    token — at web scale vocab << corpus so this join is the cheap
    side), one shuffle on doc for the top-k window. N arrives via a
    broadcast 1-row cross join, not a driver collect."""
    t = tokens(docs, text_col=text_col, id_col=id_col)
    tf = t.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_rel = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_rel = docs.agg(F.count("*").alias("_n_docs"))
    scored = (
        tf.join(df_rel, "token")
        .crossJoin(F.broadcast(n_rel))
        .withColumn(
            "score_r",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_r").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "rnk", "token", "tf", "df", "score_r")
    )


# ---------------------------------------------------------------------------
# Repetition scoring — Gopher-style quality filter signals
# ---------------------------------------------------------------------------
def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, distinct_frac, top_token_frac,
    top_bigram_frac): the classic repetition signals used to filter
    boilerplate/spam from web corpora. ZERO shuffles: the per-doc
    most-frequent-token count is the longest run of equal adjacent
    elements in the SORTED token array, computed with an aggregate()
    fold — the whole scorer is a map over the scan (at 100 TB there is
    no per-doc groupBy shuffle to pay, unlike the explode+count
    formulation)."""

    def max_run(arr: str) -> str:
        # fold state: (prev token, current run, best run)
        return (
            f"aggregate(array_sort({arr}), "
            f"struct(CAST(NULL AS STRING) AS prev, 0 AS run, 0 AS best), "
            f"(acc, x) -> struct(x AS prev, "
            f"CASE WHEN acc.prev IS NOT NULL AND x = acc.prev "
            f"THEN acc.run + 1 ELSE 1 END AS run, "
            f"greatest(acc.best, CASE WHEN acc.prev IS NOT NULL "
            f"AND x = acc.prev THEN acc.run + 1 ELSE 1 END) AS best), "
            f"acc -> acc.best)"
        )

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")
        .alias("_t"),
    ).withColumn("_n", F.size("_t")).filter(F.col("_n") > 0)
    bigrams = ("transform(sequence(0, _n - 2), "
               "i -> concat(_t[i], ' ', _t[i + 1]))")
    staged = base.select(
        "doc_id", "_n",
        F.expr(f"size(array_distinct(_t))").alias("_nd"),
        F.expr(max_run("_t")).alias("_top_tok"),
        F.when(
            F.col("_n") >= 2, F.expr(max_run(bigrams))
        ).otherwise(F.lit(0)).alias("_top_bg"),
    )
    return staged.select(
        "doc_id",
        F.col("_n").alias("n_tokens"),
        F.round(F.col("_nd") / F.col("_n"), 6).alias("distinct_frac"),
        F.round(F.col("_top_tok") / F.col("_n"), 6).alias("top_token_frac"),
        F.round(
            F.col("_top_bg") / F.greatest(F.col("_n") - 1, F.lit(1)), 6
        ).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Line-level dedup — CCNet-style keep-first boilerplate removal
# ---------------------------------------------------------------------------
def line_dedup_stats(docs: DataFrame, line_tokens: int = 8,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_lines, n_kept, kept_frac): corpus-wide line-level
    dedup in the CCNet style — split every document into "lines"
    (fixed ``line_tokens``-token chunks here; real corpora split on
    newlines, which the synthetic token-soup corpus lacks), keep only
    the FIRST occurrence of each distinct line across the whole
    corpus (first = smallest (doc_id, line_idx)), and report per-doc
    survival.

    Scale shape (10^12 docs): the winner per distinct line is a
    groupBy(line) min-struct — ONE shuffle with map-side partial
    aggregation, so a boilerplate line repeated in 10^9 docs ships
    one partial row per map task, not 10^9 rows (the reason this is
    a groupBy argmin and NOT a row_number window, which would move
    every instance of the hot line to one partition). Survivor
    counting then needs no join back: n_kept(doc) = how many winners
    point at the doc — a second tiny shuffle on doc_id over the
    already-distinct winner relation.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")
        .alias("_t"),
    ).withColumn("_n", F.size("_t")).filter(F.col("_n") > 0)
    k = int(line_tokens)
    lines = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(_n / {k}.0)) - 1), "
                f"i -> array_join(slice(_t, i * {k} + 1, {k}), ' '))"
            )
        ).alias("line_idx", "line"),
    )
    winners = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_idx")).alias("_w")
    )
    kept = winners.groupBy(F.col("_w.doc_id").alias("doc_id")).agg(
        F.count("*").alias("_kept")
    )
    n_lines = base.select(
        "doc_id",
        F.expr(f"int(ceil(_n / {k}.0))").alias("n_lines"),
    )
    return (
        n_lines.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("_kept"), F.lit(0)).cast("int").alias("n_kept"),
            F.round(
                F.coalesce(F.col("_kept"), F.lit(0)) / F.col("n_lines"), 6
            ).alias("kept_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing — regex redaction ahead of training
# ---------------------------------------------------------------------------
# Patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no lookaround, explicit classes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", with_text: bool = False) -> DataFrame:
    """Redact emails and E.164-style phone numbers from ``text_col``:
    (doc_id, n_emails, n_phones, n_chars_scrubbed, scrub_hash).
    Narrow plan — two codegen'd regexp passes per row, zero shuffles;
    at 10^12 docs this is a pure map over the corpus (the standard
    pre-training scrub stage). Counting uses regexp_count on the raw
    text; redaction replaces each match with a fixed token so
    downstream tokenization stays stable. ``with_text=True`` appends
    the scrubbed ``text`` itself (the materialize-and-continue shape a
    training pipeline stage needs)."""
    raw = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE, "<PHONE>",
    )
    cols = [
        F.col(id_col).alias("doc_id"),
        F.regexp_count(raw, F.lit(PII_EMAIL_RE)).cast("int")
        .alias("n_emails"),
        F.regexp_count(raw, F.lit(PII_PHONE_RE)).cast("int")
        .alias("n_phones"),
        F.length(scrubbed).alias("n_chars_scrubbed"),
        F.md5(scrubbed).alias("scrub_hash"),
    ]
    if with_text:
        cols.append(scrubbed.alias("text"))
    return docs.select(*cols)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling — training-mix construction
# ---------------------------------------------------------------------------
def weighted_sample(docs: DataFrame, k: int, id_col: str = "doc_id",
                    weight_col: str = "n_chars") -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES order sampling, 2006): each row gets the
    key ln(u)/w with u = (md5_60(id)+0.5)/2^60 strictly inside (0,1) —
    a pure function of the id, so the sample is re-shard/append-stable
    exactly like split_assign. Taking the top-k by this key is
    equivalent to top-k by u^(1/w) (ln is monotone), which ES prove
    draws a weighted sample without replacement: heavier docs (longer,
    here) are proportionally more likely to be kept — the
    quality-weighted corpus-downsampling primitive.

    Plan shape: narrow key computation, then orderBy().limit(k) which
    Spark executes as TakeOrderedAndProject — per-partition top-k
    heaps merged once, NO global sort and NO single-partition window,
    so the same plan holds at 100 TB. Ties (impossible for distinct
    ids, but) break on the id for engine determinism."""
    h = F.expr(md5_60_sql(f"CAST({id_col} AS STRING)"))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    return (
        docs.withColumn("_es_key", F.log(u) / w)
        .orderBy(F.desc("_es_key"), F.col(id_col))
        .limit(k)
        .drop("_es_key")
    )


def weighted_sample_sql(table: str, k: int, id_col: str = "doc_id",
                        weight_col: str = "n_chars",
                        cols: str = "*") -> str:
    """DuckDB twin of weighted_sample (0x-literal md5-60 form)."""
    h = f"('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT"
    u = f"((CAST({h} AS DOUBLE) + 0.5) / {float(1 << 60)!r})"
    w = f"GREATEST(CAST({weight_col} AS DOUBLE), 1.0)"
    return (f"SELECT {cols} FROM {table} "
            f"ORDER BY (ln({u}) / {w}) DESC, {id_col} LIMIT {k}")


DSIR_BUCKETS = 4096   # hashed-feature dimensionality
DSIR_ALPHA = 0.5      # add-alpha smoothing mass per bucket


def importance_resample(docs: DataFrame, k: int,
                        target_langs: tuple[str, ...] = ("en",),
                        n_buckets: int = DSIR_BUCKETS,
                        alpha: float = DSIR_ALPHA,
                        id_col: str = "doc_id", text_col: str = "text",
                        lang_col: str = "lang",
                        hash_fn: str = "md5",
                        sample: bool = False) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by the log-likelihood ratio of its hashed token
    features under a TARGET distribution (here: the docs whose
    ``lang_col`` is in ``target_langs``) vs the RAW corpus
    distribution, and keep the top-k — the principled "make the
    corpus look like the target domain" selection primitive.

    Model: bucket b = md5_60(token) mod n_buckets; add-alpha
    multinomials p_t(b) = (c_t(b)+a)/(T_t+a*B) and p_r likewise.
    Per-doc log weight = sum over tokens of
        floor(1000*ln p_t(b)) - floor(1000*ln p_r(b))
    — each ln floor-quantized to integer MILLI-units SEPARATELY (the
    BM25 lesson: a joint floor puts the libm call next to 1000x more
    boundaries), so document weights are exact BIGINT sums and the
    ranking replays bit-identically in DuckDB.

    Plan shape at 100 TB: the corpus token-explodes TWICE — once into
    the (bucket)-keyed partial-agg model shuffle (capped at B
    rows/task by map-side combine), once into the scoring pass —
    deliberately unspooled: materializing the ~200x token explosion
    costs far more I/O than re-reading the pruned text column, and
    both passes are narrow until their aggregates. Totals are an
    aggregate OF THE MODEL (B rows, no corpus re-scan); the B-row
    delta relation broadcasts into the scoring pass, which
    partial-aggregates per doc — so the corpus shuffles once on
    doc_id and the final top-k is a TakeOrderedAndProject heap merge,
    never a global sort. Docs with zero tokens don't participate (no
    features = no evidence).

    ``sample=True`` switches from arg-top-k to the paper's actual
    SAMPLING step via Gumbel-top-k (Gumbel-max over log-weights draws
    k docs ~ softmax(w) without replacement): key = w_nats + g with
    g = -ln(-ln(u)) and u the same deterministic md5-derived uniform
    weighted_sample uses — re-shard/append-stable, engine-neutral
    (the returned columns stay integer; the float key only orders).

    Returns (rn, doc_id, n_tokens, weight_milli) with rn = 1..k by
    (weight DESC, doc_id) — or by (gumbel key DESC, doc_id) when
    sampling. Reference analogue: none (the geo reference has no
    corpus ops) — this is part of the training-data-pipeline family
    the engine adds."""
    from pyspark.sql import Window

    B, a = int(n_buckets), float(alpha)
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).isin(*[str(x) for x in target_langs])
        .alias("_is_t"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_t"),
    ).filter(F.col("_t") != "").withColumn(
        "_b", F.expr(f"pmod({hash60_sql('_t', hash_fn)}, {B})")
    ).drop("_t")
    model = tok.groupBy("_b").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("n_t"),
    )
    totals = model.agg(
        F.sum("n_raw").alias("tot_raw"), F.sum("n_t").alias("tot_t"))
    lp = (
        f"CAST(floor(1000.0 * ln((CAST({{c}} AS DOUBLE) + {a!r}) "
        f"/ (CAST({{tot}} AS DOUBLE) + {a * B!r}))) AS BIGINT)"
    )
    delta = model.crossJoin(F.broadcast(totals)).select(
        "_b",
        (F.expr(lp.format(c="n_t", tot="tot_t"))
         - F.expr(lp.format(c="n_raw", tot="tot_raw"))).alias("_d"),
    )
    scored = (
        tok.join(F.broadcast(delta), "_b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"),
             F.sum("_d").alias("weight_milli"))
    )
    if sample:
        h = F.expr(md5_60_sql("CAST(doc_id AS STRING)"))
        u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
        key = (F.col("weight_milli").cast("double") / F.lit(1000.0)
               - F.log(F.lit(0.0) - F.log(u)))
        w = Window.orderBy(F.col("_gk").desc(), F.col("doc_id"))
        return (
            scored.withColumn("_gk", key)
            .orderBy(F.desc("_gk"), F.col("doc_id")).limit(k)
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .select("rn", "doc_id", "n_tokens", "weight_milli")
        )
    w = Window.orderBy(F.col("weight_milli").desc(), F.col("doc_id"))
    return (
        scored.orderBy(F.desc("weight_milli"), F.col("doc_id")).limit(k)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .select("rn", "doc_id", "n_tokens", "weight_milli")
    )


def importance_resample_sql(table: str = "documents", k: int = 40,
                            target_langs: tuple[str, ...] = ("en",),
                            n_buckets: int = DSIR_BUCKETS,
                            alpha: float = DSIR_ALPHA,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            lang_col: str = "lang",
                            sample: bool = False) -> str:
    """DuckDB twin of :func:`importance_resample` — identical
    expression tree (md5-60 bucket hash, separate milli-floors around
    each ln, integer weight sums)."""
    B, a = int(n_buckets), float(alpha)
    langs = ", ".join(f"'{x}'" for x in target_langs)
    h = "('0x' || substr(md5(t), 1, 15))::BIGINT"
    lp = ("CAST(floor(1000.0 * ln((CAST({c} AS DOUBLE) + {a!r}) "
          "/ (CAST({tot} AS DOUBLE) + {aB!r}))) AS BIGINT)")
    lp_t = lp.format(c="n_t", tot="tot_t", a=a, aB=a * B)
    lp_r = lp.format(c="n_raw", tot="tot_raw", a=a, aB=a * B)
    return f"""
        WITH tok0 AS (
            SELECT {id_col} AS doc_id, {lang_col} IN ({langs}) AS is_t,
                   unnest(string_split_regex(trim({text_col}), '\\s+')) AS t
            FROM {table}
        ),
        tok AS (
            SELECT doc_id, is_t, {h} % {B} AS b FROM tok0 WHERE t <> ''
        ),
        model AS (
            SELECT b, count(*) AS n_raw,
                   CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_t
            FROM tok GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(n_raw) AS BIGINT) AS tot_raw,
                   CAST(sum(n_t) AS BIGINT) AS tot_t
            FROM model
        ),
        delta AS (
            SELECT b, {lp_t} - {lp_r} AS d FROM model CROSS JOIN tot
        ),
        scored AS (
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(d) AS BIGINT) AS weight_milli
            FROM tok JOIN delta USING (b) GROUP BY 1
        )
        SELECT CAST(row_number() OVER (
                   ORDER BY {{ord}}) AS BIGINT) AS rn,
               doc_id, n_tokens, weight_milli
        FROM {{src}} ORDER BY {{ord}} LIMIT {int(k)}
    """.format(
        ord=("_gk DESC, doc_id" if sample
             else "weight_milli DESC, doc_id"),
        src=(
            "(SELECT *, CAST(weight_milli AS DOUBLE) / 1000.0 "
            "- ln(0.0 - ln((CAST(('0x' || substr(md5("
            "CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)"
            f" + 0.5) / {float(1 << 60)!r})) AS _gk FROM scored)"
            if sample else "scored"
        ),
    )


def stratified_sample(docs: DataFrame, quota: int,
                      stratum_col: str = "lang",
                      id_col: str = "doc_id") -> DataFrame:
    """Keep exactly ``min(quota, |stratum|)`` docs per stratum, chosen
    by md5 order of the id — deterministic, engine-neutral, and stable
    under re-sharding (the sample is a pure function of ids, never of
    partition layout). One window shuffle on the stratum key; strata
    are bounded-cardinality (languages / sources), so no skew risk at
    10^12 rows beyond what AQE's skew-join already handles."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(stratum_col).alias("stratum"),
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Mixture-weighted epoch expansion — corpus upsampling for training
# ---------------------------------------------------------------------------
def mixture_epochs(docs: DataFrame, weight_expr: str | None = None,
                   id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Materialize the epoch plan of a weighted training mixture: each
    doc appears ``floor(w)`` times plus one more with probability
    ``frac(w)``, decided by a deterministic per-doc hash — the exact
    expectation E[copies] = w with zero RNG state (reproducible across
    engines, re-shards and reruns). ``weight_expr`` is a SQL expression
    over the row yielding the per-source weight; the default derives a
    stable weight in [0.5, 3.5) from the source name so the operator
    is self-contained on any corpus. Narrow plan: posexplode of
    array_repeat — no shuffle; output size = sum(w_i), the actual
    token-budget accounting a mixture schedule needs."""
    if weight_expr is None:
        weight_expr = (
            f"0.5D + ({md5_60_sql(source_col)} % 300) / 100.0D"
        )
    mix_key = f"concat(CAST({id_col} AS STRING), ':mix')"
    frac_hash = f"({md5_60_sql(mix_key)} % 1000000) / 1000000.0D"
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.expr(weight_expr).alias("weight"),
        F.expr(frac_hash).alias("_frac"),
    ).withColumn(
        "n_copies",
        (F.floor("weight")
         + (F.col("_frac") < F.col("weight") - F.floor("weight"))
         .cast("bigint")).cast("int"),
    )
    return (
        base.filter(F.col("n_copies") >= 1)
        .select(
            "doc_id", "source",
            F.round("weight", 6).alias("weight"),
            "n_copies",
            F.posexplode(F.expr("array_repeat(true, n_copies)"))
            .alias("_epoch0", "_x"),
        )
        .select(
            "doc_id", "source", "weight", "n_copies",
            (F.col("_epoch0") + 1).cast("int").alias("epoch"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, queries: list[tuple[int, list[str]]],
              k: int = 10, k1: float = BM25_K1, b: float = BM25_B,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25 relevance top-k per query over a token corpus — the
    retrieval primitive a training-data pipeline uses for targeted
    corpus slicing (find the k most on-topic documents per probe).

    Formula (Lucene variant): for each query term t in doc d,
        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        norm(t,d) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    and idf and norm are each FLOOR-QUANTIZED to integer milli-units
    SEPARATELY, then multiplied as integers, BEFORE the per-
    (query, doc) sum, so document scores are BIGINTs: the ranking is
    immune to float-summation order and bit-identical across engines.
    norm is pure +,*,/ (IEEE-correctly-rounded, deterministic across
    engines), so its floor never wobbles; ln is the only libm call,
    isolated inside idf's own coarse 1e-3 floor, where a 1-ulp libm
    disagreement (~1e-13 absolute) would have to land exactly on one
    of the 1000×-sparser milli-boundaries to matter (a joint 1e-6
    floor of the product had 1000× more boundaries and went
    driver-red once on exactly this).

    100-TB plan shape: the corpus explode is filtered to the query
    vocabulary INSIDE the generate stage (narrow — the isin filter
    runs before any exchange), so the one real shuffle carries only
    matched (doc, term) hits, ~sum(df) rows, never the corpus. The
    tiny candidate relation is spooled once and feeds both the df
    aggregate and the scoring join (one corpus scan for candidates,
    one text-only-pruned scan for the global stats); df and the query
    relation broadcast; the final top-k window runs on candidates
    only. (A stacked size(filter(tokens, = term)) variant avoids the
    explode but loses: higher-order-function lambdas are interpreted
    per element, not codegen'd — measured slower at 5M docs.)

    Returns (query_id, rn, doc_id, score_q) with rn = 1..k ranked by
    (score_q DESC, doc_id)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    spark = docs.sparkSession
    all_terms = sorted({t for _, ts in queries for t in ts})
    qrel = spark.createDataFrame(
        [(int(qid), t) for qid, ts in queries for t in ts],
        "query_id long, term string",
    )
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_t"),
        )
        .select(
            "doc_id", F.size("_t").cast("long").alias("dl"),
            F.explode("_t").alias("term"),
        )
        .filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf (the tiny candidate relation) feeds both df and the scoring
    # join — spool it so the corpus scan runs once for the candidates
    # (stats below is a second, text-only-pruned scan)
    from geospark.spool import spool

    tf = spool(tf, "bm25_tf")
    df_rel = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.select(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long").alias("dl")
    ).agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(broadcast(qrel), "term")
        .join(broadcast(df_rel), "term")
        .crossJoin(broadcast(stats))
        .select(
            "query_id", "doc_id",
            (F.floor(F.lit(1000.0) * idf).cast("long")
             * F.floor(F.lit(1000.0) * norm).cast("long")).alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("rn").cast("long").alias("rn"),
                "doc_id", "score_q")
    )


# ---------------------------------------------------------------------------
# Bigram-LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------
LM_ALPHA = 0.5  # add-alpha (Lidstone) smoothing mass per bigram type


def lm_score(docs: DataFrame, ref_lang: str, alpha: float = LM_ALPHA,
             id_col: str = "doc_id", text_col: str = "text",
             lang_col: str = "lang") -> DataFrame:
    """Bigram language-model negative log likelihood per document —
    the CCNet-style quality filter (Wenzek et al. 2020): train a small
    LM on a trusted reference slice, score every document, and keep
    the low-perplexity head of the corpus.  Here the reference slice
    is ``lang = ref_lang`` and the model is an add-alpha bigram LM:

        p(w2 | w1) = (c(w1 w2) + alpha) / (c(w1) + alpha * V)

    with V = reference unigram-type count.  Each bigram contributes
    ``floor(-ln(p) * 1e6)`` integer micro-nats, summed per document
    into a BIGINT ``nll_micro`` — like :func:`bm25_topk`, the score is
    immune to float-summation order (ln is the only libm call,
    isolated inside the quantization), so ranking thresholds are
    bit-reproducible across engines.  Perplexity is the monotone
    transform exp(nll_micro / (1e6 * n_bigrams)); downstream filters
    can threshold ``nll_micro * 1 per n_bigrams`` without ever
    materializing the float.

    100-TB plan shape: the model relations are VOCAB-sized, not
    corpus-sized — unigram and bigram counts are one partial-agg
    shuffle each over the reference slice (which predicate-pushes
    ``lang`` to the scan); scoring is two hash joins of the corpus
    bigram stream against those counts (AQE broadcasts them when they
    fit, which a per-language web vocabulary typically does) plus one
    partial-agg rollup on doc_id.  Documents with < 2 tokens survive
    with n_bigrams = 0 via explode_outer.

    Returns (doc_id, n_bigrams, nll_micro).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("_lang"),
        F.expr(f"split(trim({text_col}), '\\\\s+')").alias("_t"),
    )
    ref = toks.filter(F.col("_lang") == ref_lang)
    uni = (
        ref.select(F.explode("_t").alias("w"))
        .groupBy("w").agg(F.count("*").alias("c1"))
    )
    uni = spool(uni, "lm_uni")
    vocab = uni.agg(F.count("*").alias("v"))
    pairs_expr = (
        "CASE WHEN size(_t) >= 2 THEN "
        "transform(sequence(1, size(_t) - 1), "
        "i -> struct(_t[i - 1] AS w1, _t[i] AS w2)) "
        "ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"
    )
    bi = (
        ref.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    # corpus bigram stream: explode_outer keeps <2-token docs (their
    # pair struct is NULL -> count(w1) = 0, sum coalesces to 0)
    stream = toks.select(
        "doc_id", F.explode_outer(F.expr(pairs_expr)).alias("p")
    ).select("doc_id", "p.w1", "p.w2")
    # unseen bigram/unigram -> counts 0 (the smoothing handles them);
    # the expression tree (left-assoc +, one ln, floor-quantize) is
    # replicated term-identically in the DuckDB oracle
    term = F.floor(
        (F.lit(0.0) - F.log(
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("v"))
        )) * F.lit(1000000.0)
    ).cast("long")
    scored = (
        stream.join(bi, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.col("w1").alias("_hit"),
            F.when(F.col("w1").isNull(), F.lit(None).cast("long"))
            .otherwise(term).alias("_nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("_hit").alias("n_bigrams"),
            F.coalesce(F.sum("_nll"), F.lit(0)).cast("long")
            .alias("nll_micro"),
        )
    )


KN_DISCOUNT = 0.75  # absolute discount D (Kneser-Ney standard)
KN_BETA = 0.5       # add-beta smoothing on the continuation distribution


def lm_score_kn(docs: DataFrame, ref_lang: str,
                discount: float = KN_DISCOUNT, beta: float = KN_BETA,
                id_col: str = "doc_id", text_col: str = "text",
                lang_col: str = "lang") -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the modeling upgrade
    CCNet actually ships (KenLM's modified-KN rather than add-alpha;
    Kneser & Ney 1995, Chen & Goodman 1999): continuation probability
    counts DISTINCT left contexts, so "Francisco" (frequent but only
    ever after "San") stops inflating unseen-context scores the way
    raw unigram backoff does.

        pc(w2)    = (N1+(*w2) + b) / (N1+(**) + b * (V + 1))
        p(w2|w1)  = max(c(w1 w2) - D, 0) / c(w1 *)
                    + D * N1+(w1 *) / c(w1 *) * pc(w2)   if c(w1 *) > 0
                  = pc(w2)                               otherwise

    with c(w1 *) the bigram-table context total (NOT the unigram
    count — a word seen only document-final has no continuations, and
    conditioning on the unigram count would zero its lambda), N1+ the
    distinct-neighbor counts, and the add-beta floor keeping pc > 0
    for OOV continuations so every probability is a positive rational
    BEFORE the single ln. Each bigram contributes
    ``floor(-ln(p) * 1e6)`` integer micro-nats summed per doc into a
    BIGINT (the lm_score precedent: one isolated libm call inside the
    quantization, left-assoc float ops mirrored term-identically in
    the DuckDB oracle).

    100-TB plan shape identical to :func:`lm_score`: every model
    relation (bigrams, per-context totals, continuation counts, the
    two scalars) is VOCAB-sized from one reference-slice partial-agg
    pass; scoring joins the corpus bigram stream against them (AQE
    broadcasts vocab-sized sides) and rolls up per doc. Documents
    with < 2 tokens survive with n_bigrams = 0.

    Returns (doc_id, n_bigrams, nll_micro)."""
    D, b = float(discount), float(beta)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("_lang"),
        F.expr(f"split(trim({text_col}), '\\\\s+')").alias("_t"),
    )
    ref = toks.filter(F.col("_lang") == ref_lang)
    vocab = (
        ref.select(F.explode("_t").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    pairs_expr = (
        "CASE WHEN size(_t) >= 2 THEN "
        "transform(sequence(1, size(_t) - 1), "
        "i -> struct(_t[i - 1] AS w1, _t[i] AS w2)) "
        "ELSE CAST(array() AS array<struct<w1: string, w2: string>>) END"
    )
    bi = (
        ref.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    bi = spool(bi, "kn_bi")
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1b"), F.count("*").alias("n1fw"))
    cont = bi.groupBy("w2").agg(F.count("*").alias("n1bw"))
    n_all = bi.agg(F.count("*").alias("n_all"))
    stream = toks.select(
        "doc_id", F.explode_outer(F.expr(pairs_expr)).alias("p")
    ).select("doc_id", "p.w1", "p.w2")
    pc = (
        (F.coalesce(F.col("n1bw"), F.lit(0)).cast("double") + F.lit(b))
        / (F.col("n_all").cast("double") + F.lit(b) * (F.col("v") + F.lit(1.0)))
    )
    seen = (
        F.when(F.col("c12").isNull(), F.lit(0.0))
        .otherwise((F.col("c12").cast("double") - F.lit(D))
                   / F.col("c1b").cast("double"))
        + F.lit(D) * F.col("n1fw").cast("double")
        / F.col("c1b").cast("double") * pc
    )
    p = F.when(F.col("c1b").isNull(), pc).otherwise(seen)
    term = F.floor((F.lit(0.0) - F.log(p)) * F.lit(1000000.0)).cast("long")
    scored = (
        stream.join(bi, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(n_all))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.col("w1").alias("_hit"),
            F.when(F.col("w1").isNull(), F.lit(None).cast("long"))
            .otherwise(term).alias("_nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("_hit").alias("n_bigrams"),
            F.coalesce(F.sum("_nll"), F.lit(0)).cast("long")
            .alias("nll_micro"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (distributed, word-frequency based)
# ---------------------------------------------------------------------------
def bpe_train(docs: DataFrame, n_merges: int = 10,
              text_col: str = "text") -> DataFrame:
    """Learn byte-pair-encoding merges over the corpus — the tokenizer-
    training step of an LLM data pipeline.  Classic word-frequency BPE
    (Sennrich et al. 2016): aggregate the corpus to (word, freq) once,
    represent each word as its character symbols plus a trailing
    '</w>' marker, then repeatedly (a) count adjacent symbol pairs
    weighted by word freq, (b) take the most frequent pair — ties
    break on (pair_count DESC, left ASC, right ASC), binary string
    order in both engines — and (c) merge that pair left-to-right
    non-overlapping inside every word.

    100-TB plan shape: the ONLY corpus-sized stage is the initial
    word-count shuffle (partial-agg; empty tokens dropped).  Every
    merge round then operates on the VOCAB-sized (word, freq, syms)
    relation — pair counting is one partial-agg shuffle of ~|vocab|
    rows, the argmax moves exactly ONE row to the driver (an
    aggregate, never data rows), and
    the merge itself is a codegen'd aggregate() fold over each symbol
    array (no Python).  The per-round relation is spooled so lineage
    stays flat across rounds.

    Returns (rank, lhs, rhs, pair_count), rank = 1..n_merges
    (fewer if the vocabulary exhausts)."""
    from geospark.spool import spool as _spool

    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(
                F.expr(f"split(trim({text_col}), '\\\\s+')")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("freq"))
    )
    syms = words.select(
        "freq",
        F.expr(
            "concat(transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1)), array('</w>'))"
        ).alias("s"),
    )
    syms = _spool(syms, "bpe_syms_0")
    merges: list[tuple[int, str, str, int]] = []
    pair_expr = (
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(s[i - 1] AS l, s[i] AS r))"
    )
    for rank in range(1, n_merges + 1):
        pc = (
            syms.select("freq", F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy("p.l", "p.r").agg(F.sum("freq").alias("pair_count"))
        )
        top = (
            pc.orderBy(F.col("pair_count").desc(), "l", "r")
            .limit(1).collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["pair_count"])
        merges.append((rank, left, right, cnt))
        merged = F.concat(F.lit(left), F.lit(right))
        syms = syms.select(
            "freq",
            F.aggregate(
                "s",
                F.array().cast("array<string>"),
                lambda acc, c: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (c == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(c))),
            ).alias("s"),
        )
        syms = _spool(syms, f"bpe_syms_{rank}")
    return spark.createDataFrame(
        merges, "rank long, lhs string, rhs string, pair_count long"
    )


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text") -> DataFrame:
    """Apply a trained BPE merge list to the corpus and return the
    resulting token frequency relation (token, n_words, count) —
    count = total occurrences, n_words = distinct words containing
    the token. The encode half of :func:`bpe_train` (Sennrich et al.
    2016): each word starts as characters + '</w>' and the merge
    rules are replayed IN TRAINING ORDER, each as a left-to-right
    non-overlapping pass — the same aggregate() fold the trainer
    uses, so train->encode round-trips exactly.

    100-TB plan shape: the only corpus-sized stage is the initial
    word-count shuffle (partial-agg). Encoding then runs ONCE PER
    DISTINCT WORD on the vocab-sized (word, freq) relation — the
    merge replay is a chain of codegen'd folds with the rules inlined
    as literals (no joins, no Python), and the final token rollup
    shuffles ~|vocab| * avg_tokens rows. Per-document token streams
    (when a caller needs them) are the broadcast join of this
    word->tokens map back to the exploded corpus.

    The vocab relation is SPOOLED before the replay — load-bearing,
    not a cache nicety: the final explode makes Catalyst infer a
    ``size(s) > 0`` predicate, and because the fold chain is a pure
    function of the GROUP KEY ``word``, predicate pushdown moves the
    whole interpreted 10-deep fold expression BELOW the aggregate
    onto every raw token (measured: 600s vs 25s at 5M docs / 1.1B
    tokens — the fold ran 1.1B times instead of 50k). The spool is a
    pushdown barrier, the same discipline as the aggregate-output
    radius filter in joins.match_points_to_segments."""
    from geospark.spool import spool as _spool

    words = _spool(
        docs.select(
            F.explode(
                F.expr(f"split(trim({text_col}), '\\\\s+')")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("freq")),
        "bpe_encode_vocab",
    )
    syms = words.select(
        "word", "freq",
        F.expr(
            "concat(transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1)), array('</w>'))"
        ).alias("s"),
    )
    for left, right in merges:
        merged = F.concat(F.lit(left), F.lit(right))
        syms = syms.select(
            "word", "freq",
            F.aggregate(
                "s",
                F.array().cast("array<string>"),
                lambda acc, c: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (c == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(c))),
            ).alias("s"),
        )
    return (
        syms.select("word", "freq", F.explode("s").alias("token"))
        .groupBy("token")
        .agg(
            F.countDistinct("word").alias("n_words"),
            F.sum("freq").alias("count"),
        )
    )


def pack_sequences(docs: DataFrame, seq_len: int = 128,
                   n_shards: int = 32, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a
    tokenized corpus into fixed-length training sequences with ZERO
    padding: all documents are laid end-to-end in doc_id order into
    one global token stream, and sequence ``s`` is the stream window
    [s*seq_len, (s+1)*seq_len).  Output is one row per (doc,
    sequence) overlap span: (doc_id, seq_id, doc_off, seq_off, len) —
    enough to materialize any sequence by slicing its member docs.

    The global stream offset is a prefix sum, which a naive window
    computes on ONE partition (the 100-TB anti-pattern).  Here it is
    the classic two-level scan: doc_ids are range-sharded, each shard
    cumsums locally IN PARALLEL (window partitioned by shard), shard
    totals (n_shards rows — model-sized) come to the driver for an
    exclusive prefix and rejoin as a broadcast.  Identical result to
    the sequential definition, shuffle volume = one hash exchange on
    the shard key.  Tokens are single-space splits (the corpus
    tokenizer convention shared with the bigram/BM25 family).

    The (doc_id, n_tok) relation is SPOOLED before the three passes
    that read it (max_id agg, shard totals, windowed cumsum) — without
    it each pass would re-scan + re-tokenize the full corpus text
    (ADVICE r03); spooled, the text is read once and the three passes
    run over the 2-column token-count relation."""
    spark = docs.sparkSession
    nt = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    nt = spool(nt, "pack_ntok")
    max_id = nt.agg(F.max("doc_id").alias("m")).first()["m"]
    if max_id is None:
        return spark.createDataFrame(
            [], "doc_id long, seq_id long, doc_off long, "
                "seq_off long, len long")
    shard_w = max_id // n_shards + 1
    sh = nt.withColumn("_sh", (F.col("doc_id") / shard_w).cast("long"))
    w = Window.partitionBy("_sh").orderBy("doc_id")
    local = sh.select(
        "doc_id", "n_tok", "_sh", F.sum("n_tok").over(w).alias("_lc"))
    totals = {
        r["_sh"]: r["t"]
        for r in sh.groupBy("_sh").agg(F.sum("n_tok").alias("t")).collect()
    }
    off, acc = {}, 0
    for s in sorted(totals):
        off[s] = acc
        acc += totals[s]
    odf = spark.createDataFrame(
        [(int(s), int(o)) for s, o in off.items()], "_sh long, _off long")
    L = int(seq_len)
    spans = (
        local.join(F.broadcast(odf), "_sh")
        .select(
            "doc_id",
            (F.col("_lc") + F.col("_off") - F.col("n_tok")).alias("_s"),
            (F.col("_lc") + F.col("_off")).alias("_e"),
        )
        .select(
            "doc_id", "_s", "_e",
            F.explode(F.sequence(
                F.expr(f"_s DIV {L}"), F.expr(f"(_e - 1) DIV {L}")
            )).alias("seq_id"),
        )
    )
    start = F.greatest(F.col("_s"), F.col("seq_id") * L)
    return spans.select(
        "doc_id", "seq_id",
        (start - F.col("_s")).alias("doc_off"),
        (start - F.col("seq_id") * L).alias("seq_off"),
        (F.least(F.col("_e"), (F.col("seq_id") + 1) * L) - start)
        .alias("len"),
    )
