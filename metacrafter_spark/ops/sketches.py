"""Mergeable corpus sketches: HyperLogLog distinct counting and
count-min frequency estimation.

At 10^12 documents the questions "how many unique URLs / paragraph
keys have we ever seen?" and "roughly how often does this n-gram
occur?" cannot be answered by exact distinct/groupBy counts — the
answer sets themselves are corpus-sized.  The production shape (the
same one the incremental dedup stores use) is a **persisted sketch
per crawl dump**: a few KB of state that merges associatively across
dumps, so the cross-dump answer costs O(sketch), never O(corpus).

Both sketches here follow the repo's exactness contract:

- hashing is the DuckDB-replayable sha256 family (``conv(substr(
  sha2(x), 1, 15), 16, 10)`` — a 60-bit integer whose every primitive
  exists identically in DuckDB), never xxhash64;
- register/counter tables are **exact integers**, bit-identical under
  any partitioning and engine (merge = max / sum — associative and
  commutative, so shuffle order can't matter);
- the single floating step (the HLL estimator) is one fixed-shape
  IEEE-double expression over those integers, quantized
  ``round(x, 6) -> decimal(28,6)`` at the output row — the kenlm/BM25
  convention, so the oracle twin reproduces it byte-for-byte.

Scale shape: ``hll_registers`` / ``cms_sketch`` are one groupBy over
at most ``m`` (resp. ``depth x width``) keys — the partial aggregate
is map-side, the Exchange carries only (bucket, value) pairs, and the
result is O(m) rows **regardless of input size**.  Merging N dumps is
a union of N·m tiny rows.  Estimation never touches the corpus.

HLL: Flajolet et al. 2007, with the standard small-range linear
counting correction.  The hash is 60-bit, so the 32-bit large-range
correction is unnecessary (Heule et al. 2013 make the same argument
for 64-bit hashes).  CMS: Cormode & Muthukrishnan 2005 — point
queries overestimate only (est >= true count, always).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from metacrafter_spark.util import sql_ident, sql_literal, sql_string

#: total hash bits (15 hex chars of sha256 — fits a signed 64-bit int)
HASH_BITS = 60

#: default HLL precision: m = 2^12 = 4096 registers, ~1.6% rel. error
HLL_P_DEFAULT = 12


def _hash60_sql(expr: str) -> str:
    """Portable 60-bit hash of the string expression ``expr`` as Spark
    SQL text: first 15 hex chars of sha256, as a long.  Identical
    primitives in DuckDB: ``('0x' || substr(sha256(x), 1, 15))::BIGINT``."""
    return f"CAST(conv(substring(sha2({expr}, 256), 1, 15), 16, 10) AS BIGINT)"


def _as_string(col_name: str) -> str:
    return f"CAST({sql_ident(col_name)} AS STRING)"


def _hash60(col_name: str) -> Column:
    """:func:`_hash60_sql` of column ``col_name`` as a string."""
    return F.expr(_hash60_sql(_as_string(col_name)))


def hll_alpha(m: int) -> float:
    """Standard HLL bias-correction constant for m registers."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _check_p(p: int) -> None:
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")


def hll_registers(
    df: DataFrame,
    item_col: str,
    *,
    p: int = HLL_P_DEFAULT,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """HLL register table ``(*group_cols, bucket, reg)`` for the
    distinct values of ``item_col`` (NULLs ignored; values hashed as
    strings).

    bucket = low ``p`` bits of the 60-bit hash; reg = max over items
    of the leading-zero rank of the remaining ``60-p`` bits (rho).
    Exact integers only — the table is a pure function of the distinct
    value set, so it is identical across runs, partitionings and
    engines, and two tables merge by ``max`` (:func:`hll_merge`).
    At most ``2^p`` rows per group regardless of input size."""
    _check_p(p)
    w_bits = HASH_BITS - p
    item = sql_ident(item_col)
    h = _hash60_sql(_as_string(item_col))
    w = f"shiftright({h}, {p})"  # exact bit shift (h < 2^60 exceeds 2^53)
    rho = (f"CASE WHEN {w} = 0 THEN {w_bits + 1} "
           f"ELSE {w_bits} - length(bin({w})) + 1 END")
    return (
        df.filter(f"{item} IS NOT NULL")
        .selectExpr(*map(sql_ident, group_cols),
                    f"pmod({h}, {1 << p}) AS bucket", f"{rho} AS rho")
        .groupBy(*group_cols, "bucket")
        .agg(F.expr("CAST(max(rho) AS INT) AS reg"))
    )


def hll_merge(
    *tables: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge register tables (e.g. one per crawl dump): union ->
    per-bucket max.  Associative, commutative, idempotent — merging a
    dump twice changes nothing, and ``merge(regs(A), regs(B)) ==
    regs(A UNION B)`` exactly (tested)."""
    if not tables:
        raise ValueError("need at least one register table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return (
        out.groupBy(*group_cols, "bucket")
        .agg(F.expr("CAST(max(reg) AS INT) AS reg"))
    )


def hll_estimate(
    regs: DataFrame,
    *,
    p: int = HLL_P_DEFAULT,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cardinality estimate per group from a register table:
    ``(*group_cols, n_buckets_set, lc_used, est_distinct)``.

    Raw estimator: ``alpha_m * m^2 / sum_j 2^(-reg_j)``.  The harmonic
    sum is computed as the EXACT integer ``S = sum 2^(R - reg_j)``
    (missing buckets contribute ``2^R``, reg = 0) with ``R = 61 - p``
    the maximum possible register value — S <= m * 2^R < 2^63, so the
    sum is order-independent exact long arithmetic; the single double
    division ``C / S`` (C = alpha * m^2 * 2^R, a compile-time literal)
    happens once per group.  Small-range correction: when the raw
    estimate is <= 2.5m and empty buckets remain, linear counting
    ``m * ln(m / V)`` is used instead (lc_used marks the branch).
    Output quantized ``round(x, 6)::decimal(28,6)`` — the repo's
    cross-engine float contract."""
    _check_p(p)
    m = 1 << p
    r_max = HASH_BITS - p + 1
    c_lit = hll_alpha(m) * m * m * float(2**r_max)
    agg = regs.groupBy(*group_cols).agg(
        F.expr("CAST(count(*) AS BIGINT) AS __nb"),
        # coalesce: a grand-total agg over an EMPTY register table
        # yields one row with a NULL sum — an empty corpus must
        # estimate 0 (all m buckets empty -> pure linear counting),
        # not NULL
        F.expr(f"CAST(coalesce(sum(shiftleft(CAST(1 AS BIGINT), "
               f"{r_max} - reg)), 0) AS BIGINT) AS __sp"),
    )
    v = f"(CAST({m} AS BIGINT) - __nb)"
    s = f"(__sp + {v} * CAST({2**r_max} AS BIGINT))"
    raw = f"({sql_literal(c_lit)} / CAST({s} AS DOUBLE))"
    lc_used = f"({raw} <= {sql_literal(2.5 * m)} AND {v} > 0)"
    lc = (f"({sql_literal(float(m))} * "
          f"ln({sql_literal(float(m))} / CAST({v} AS DOUBLE)))")
    est = f"round(CASE WHEN {lc_used} THEN {lc} ELSE {raw} END, 6)"
    return agg.selectExpr(
        *map(sql_ident, group_cols),
        "__nb AS n_buckets_set",
        f"{lc_used} AS lc_used",
        f"CAST({est} AS DECIMAL(28,6)) AS est_distinct",
    )


def hll_sql_snippets(p: int = HLL_P_DEFAULT) -> dict[str, str]:
    """DuckDB SQL fragments that replay this module's exact arithmetic,
    generated from the SAME constants the Spark side uses (the langid
    pack pattern — engine and oracle cannot drift).

    Keys: ``rho`` (per-item SELECT body over a column named ``item``
    producing (bucket, rho)), ``estimate`` (SELECT body over a
    register table named ``regs(bucket, reg)`` producing
    (n_buckets_set, lc_used, est_distinct))."""
    _check_p(p)
    m = 1 << p
    w_bits = HASH_BITS - p
    r_max = w_bits + 1
    c_lit = repr(hll_alpha(m) * m * m * float(2**r_max))
    rho = f"""
        SELECT h % {m} AS bucket,
               CASE WHEN (h // {m}) = 0 THEN {r_max}
                    ELSE {w_bits} - length(bin(h // {m})) + 1 END AS rho
        FROM (SELECT ('0x' || substr(sha256(item), 1, 15))::BIGINT AS h
              FROM __items)
    """
    estimate = f"""
        SELECT n_buckets_set,
               lc_used,
               round(CASE WHEN lc_used
                          THEN {float(m)!r} * ln({float(m)!r} / v)
                          ELSE raw END, 6)::DECIMAL(28,6) AS est_distinct
        FROM (SELECT n_buckets_set, v,
                     {c_lit} / s::DOUBLE AS raw,
                     ({c_lit} / s::DOUBLE) <= {2.5 * m!r} AND v > 0
                         AS lc_used
              FROM (SELECT count(*)::BIGINT AS n_buckets_set,
                           {m}::BIGINT - count(*) AS v,
                           coalesce(sum(1::BIGINT << ({r_max} - reg)),
                                    0)::BIGINT
                             + ({m}::BIGINT - count(*))
                               * (1::BIGINT << {r_max}) AS s
                    FROM __regs))
    """
    return {"rho": rho, "estimate": estimate, "m": str(m)}


# --------------------------------------------------------------------
# Count-min sketch


def _cms_bucket(item_col: str, d: int, width: int) -> Column:
    """Row-d hash bucket: the minhash-family salt convention
    (``sha2("cms{d}:" + item)``)."""
    salted = f"concat({sql_string(f'cms{d}:')}, {_as_string(item_col)})"
    return F.expr(f"pmod({_hash60_sql(salted)}, {width})")


def cms_sketch(
    df: DataFrame,
    item_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Count-min sketch ``(*group_cols, d, bucket, cnt)`` over the
    OCCURRENCES of ``item_col`` (one count per row; NULLs ignored).
    ``depth x width`` exact-integer counters per group regardless of
    input size; two sketches over disjoint inputs merge by summing
    counters (:func:`cms_merge`) — the per-dump term-frequency memory."""
    if depth < 1 or width < 2:
        raise ValueError("need depth >= 1 and width >= 2")
    rows = F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_bucket(item_col, d, width).alias("bucket"))
        for d in range(depth)
    ])
    gcols = [F.col(c) for c in group_cols]
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(*gcols, F.explode(rows).alias("__rb"))
        .select(*gcols, F.col("__rb.d").alias("d"),
                F.col("__rb.bucket").alias("bucket"))
        .groupBy(*group_cols, "d", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_merge(
    *tables: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge CMS tables over disjoint inputs: union -> per-counter sum."""
    if not tables:
        raise ValueError("need at least one sketch table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return (
        out.groupBy(*group_cols, "d", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    group_cols: tuple[str, ...] = (),
    hint_broadcast: bool = True,
) -> DataFrame:
    """Point-query the sketch for each probe row: adds ``est_count`` =
    min over the ``depth`` counters the item hashes to (0 when a
    counter row is absent — an empty counter).  The CMS guarantee:
    ``est_count >= true count`` always (collisions only ever ADD).

    ``group_cols`` must match the sketch's build-time grouping (the
    probe rows carry the same columns and the join keys include them
    — a grouped sketch queried without them would min across groups).

    Plan shape: probes explode to ``depth`` rows, equi-join the
    O(groups*depth*width) sketch, min-agg back to one row per probe —
    the corpus itself is never touched.  The default broadcast hint is
    right for the ungrouped depth×width table (a few thousand rows);
    pass ``hint_broadcast=False`` when a high-cardinality grouping
    makes the sketch table itself large, letting the planner pick a
    shuffle join."""
    missing = [c for c in group_cols if c not in probes.columns]
    if missing:
        raise ValueError(f"probes lack the sketch group columns {missing}")
    rows = F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_bucket(item_col, d, width).alias("bucket"))
        for d in range(depth)
    ])
    probe_cols = probes.columns
    exploded = (
        probes.withColumn("__rb", F.explode(rows))
        .select(*probe_cols, F.col("__rb.d").alias("d"),
                F.col("__rb.bucket").alias("bucket"))
    )
    keys = [*group_cols, "d", "bucket"]
    rhs = F.broadcast(sketch) if hint_broadcast else sketch
    joined = exploded.join(rhs, keys, "left")
    return (
        joined.groupBy(*probe_cols)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
             .alias("est_count"))
    )


def kmv_sketch(df: DataFrame, item_col: str, *, k: int = 256) -> DataFrame:
    """KMV (k-minimum-values) sketch: the ``k`` smallest distinct
    60-bit hashes of ``item_col`` as a one-column table ``(h)``.

    The sketch HLL can't be: a uniform random sample of the distinct
    value set, so two sketches support INTERSECTION estimates
    (:func:`kmv_jaccard` — the "how much does dump N+1 overlap the
    corpus so far" recrawl metric).  Plan shape: one hash-keyed
    distinct (the only Exchange, fixed-width), then a distributed
    top-k (``orderBy().limit()`` compiles to TakeOrderedAndProject —
    per-partition partial top-k merged on the driver, never a global
    sort).  Fewer than ``k`` rows back means the sketch IS the exact
    distinct hash set."""
    if k < 16:
        raise ValueError(f"k must be >= 16, got {k}")
    h = _hash60(item_col)
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(h.alias("h")).distinct()
        .orderBy("h").limit(k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, *, k: int = 256) -> DataFrame:
    """Merge two KMV sketches: k smallest of the union.  Exactly equals
    the sketch of the unioned inputs (the k smallest of A ∪ B are all
    within the k smallest of A plus the k smallest of B — tested)."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def kmv_estimate_distinct(sketch: DataFrame, *, k: int = 256) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: with fewer than k
    hashes the sketch saw every distinct value (exact count);
    otherwise the classic ``(k-1) * 2^60 / h_(k)`` estimator on the
    k-th smallest hash.  One row ``(n_sketch, exact, est_distinct)``;
    quantized decimal(28,6)."""
    agg = sketch.agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.max("h").alias("__hk"),
    )
    exact = F.col("n_sketch") < k
    est = F.when(exact, F.col("n_sketch").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(1 << HASH_BITS))
        / F.col("__hk").cast("double")
    )
    return agg.select(
        "n_sketch", exact.alias("exact"),
        F.round(est, 6).cast("decimal(28,6)").alias("est_distinct"),
    )


def kmv_jaccard(a: DataFrame, b: DataFrame, *, k: int = 256) -> DataFrame:
    """Jaccard similarity of two value sets from their KMV sketches:
    over the k smallest hashes of the union, the fraction present in
    BOTH sketches (an unbiased estimate — the union's k-minima are a
    uniform sample of A ∪ B).  One row ``(n_union_sample, n_both,
    jaccard)``; integer counts, one quantized division.  Intersection
    size ≈ jaccard × the union estimate from
    :func:`kmv_estimate_distinct` over :func:`kmv_merge`."""
    union_k = kmv_merge(a, b, k=k)
    marked = (
        union_k
        .join(a.select(F.col("h").alias("h")).withColumn(
            "__in_a", F.lit(1)), "h", "left")
        .join(b.select(F.col("h").alias("h")).withColumn(
            "__in_b", F.lit(1)), "h", "left")
    )
    return marked.agg(
        F.count("*").cast("long").alias("n_union_sample"),
        # isNotNull, not ==1: a row absent from one sketch carries a
        # NULL marker, and (NULL == 1) AND true is NULL — sum() skips
        # NULLs so mixed rows still count right, but an all-NULL
        # column (zero overlap) sums to NULL instead of 0
        F.coalesce(
            F.sum((F.col("__in_a").isNotNull()
                   & F.col("__in_b").isNotNull()).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_both"),
    ).select(
        "n_union_sample", "n_both",
        # empty union (both sketches empty): a bare 0/0 THROWS under
        # Spark 4's ANSI default — try_divide + coalesce so J(∅, ∅)
        # reports 0 and callers can always float() the column (DuckDB
        # divide-by-zero yields NULL, so the oracle's coalesce agrees)
        F.coalesce(
            F.round(F.try_divide(F.col("n_both").cast("double"),
                                 F.col("n_union_sample").cast("double")),
                    6),
            F.lit(0.0),
        ).cast("decimal(18,6)").alias("jaccard"),
    )


def bottomk_sample(
    df: DataFrame,
    id_col: str,
    *,
    k: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic uniform row sample as a mergeable sketch: the
    rows whose 60-bit id hashes are the ``k`` smallest, as
    ``(h, id_col, *keep_cols)``.

    The distribution-tracking primitive: `corpus/kenlm.with_ppl_buckets`
    documents that at 10^12-doc scale tertile thresholds come from a
    sample — this op IS that sample, persisted per dump and merged
    across dumps (:func:`bottomk_merge`), with
    :func:`sample_quantiles` turning it into thresholds.  Hash-order
    bottom-k = uniform without replacement, a pure function of the
    data (identical across runs/partitionings/engines); plan shape is
    a distributed TakeOrdered (per-partition partial top-k), never a
    global sort.  Ties (astronomically unlikely 60-bit collisions)
    break on the id, keeping the sample total-ordered."""
    if k < 1:
        raise ValueError(f"k must be positive, got {k}")
    h = _hash60(id_col)
    return (
        df.filter(F.col(id_col).isNotNull())
        .select(h.alias("h"), id_col, *keep_cols)
        .orderBy("h", id_col).limit(k)
    )


def bottomk_merge(a: DataFrame, b: DataFrame, *, k: int) -> DataFrame:
    """Merge two bottom-k samples (e.g. one per dump): k smallest of
    the union — exactly the sample of the unioned inputs, because the
    union's bottom-k rows are all within either side's bottom-k."""
    return a.unionByName(b).orderBy("h", *[
        c for c in a.columns if c != "h"][:1]).limit(k)


def sample_quantiles(
    sample: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """One-row quantile estimates over a sample: linear-interpolation
    percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` —
    verified bit-identical), quantized ``round(x, 6)::decimal(28,6)``.
    Columns ``q<percent>`` (e.g. q25, q50, q75)."""
    aggs = [
        F.round(F.percentile(F.col(value_col), F.lit(q)), 6)
        .cast("decimal(28,6)").alias(f"q{round(q * 100)}")
        for q in qs
    ]
    return sample.agg(*aggs)


def cms_sql_snippets(*, depth: int = 4, width: int = 1024) -> dict[str, str]:
    """DuckDB fragments replaying the CMS hashing: ``buckets`` is a
    SELECT body over ``__items(item)`` producing (item, d, bucket) —
    one row per hash row."""
    arms = " UNION ALL ".join(
        f"""SELECT item, {d} AS d,
               ('0x' || substr(sha256('cms{d}:' || item), 1, 15))::BIGINT
                 % {width} AS bucket FROM __items"""
        for d in range(depth)
    )
    return {"buckets": arms}


# --------------------------------------------------------------------
# Bloom filter (mergeable membership sketch)

#: bits packed per BIGINT word — 63, not 64: the high mask would be
#: ``1 << 63`` which a signed long cannot represent positively, and
#: DuckDB's ``<<`` on BIGINT overflows there too.  63 keeps every mask
#: a positive exact long in BOTH engines.
BLOOM_WORD_BITS = 63


def _check_bloom(m_bits: int, k: int) -> None:
    if m_bits < BLOOM_WORD_BITS:
        raise ValueError(f"m_bits must be >= {BLOOM_WORD_BITS}, got {m_bits}")
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16], got {k}")


def _bloom_positions(item_col: str, *, m_bits: int,
                     k: int) -> list[Column]:
    """The k bit positions of one item: Kirsch–Mitzenmacher double
    hashing ``pos_i = (h1 + i*h2) mod m`` over the repo's 60-bit
    sha256-family hash — h1 = low 30 bits, h2 = high 30 bits forced
    odd.  Max operand ``h1 + 15*h2 < 2^30 + 15*2^31 < 2^35``: exact
    long arithmetic, no overflow in any engine."""
    h = _hash60(item_col)
    h1 = F.pmod(h, F.lit(1 << 30))
    h2 = F.shiftright(h, 30) * F.lit(2) + F.lit(1)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def _bloom_word(pos: Column) -> Column:
    """Portable floor division pos // 63 (pos is non-negative)."""
    n = F.lit(BLOOM_WORD_BITS)
    return ((pos - F.pmod(pos, n)) / n).cast("long")


def _bloom_mask(pos: Column) -> Column:
    # F.shiftleft wants a Python int shift; the SQL function takes a
    # column expression
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"),
        F.pmod(pos, F.lit(BLOOM_WORD_BITS)).cast("int"))


def bloom_sketch(
    df: DataFrame, item_col: str, *, m_bits: int, k: int = 7
) -> DataFrame:
    """Bloom filter over the values of ``item_col`` as a packed-word
    table ``(word, bits)`` — at most ``ceil(m_bits/63)`` rows, only
    words with a set bit present.

    The MEMBERSHIP leg of the per-dump store family (HLL counts
    distinct, KMV estimates overlap, this answers "was this exact
    key ever seen?" — the cross-dump exact-URL revisit check at
    10^12 docs, where keeping the URL set itself is corpus-sized but
    ~1.2 bits/key/% gives a fixed-size filter).  No false negatives
    ever; false-positive rate ~ ``(1 - e^(-k*n/m))^k``.

    Repo exactness contract: positions are exact integer arithmetic
    over the DuckDB-replayable sha256-family hash; the table is a
    pure function of the distinct value set (bit-identical across
    runs, partitionings and engines); two filters with equal (m, k)
    merge by per-word ``bit_or`` (:func:`bloom_merge`) — associative,
    commutative, idempotent, and ``merge(bloom(A), bloom(B)) ==
    bloom(A UNION B)`` exactly.

    Plan shape: one groupBy over at most m/63 word keys — partial
    ``bit_or`` is map-side, the Exchange carries (word, bits) pairs,
    output is O(m) **regardless of input size**.  NULL items are
    ignored (consistent with the other sketches)."""
    _check_bloom(m_bits, k)
    pos = F.explode(F.array(*_bloom_positions(item_col, m_bits=m_bits,
                                              k=k)))
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(pos.alias("__pos"))
        .select(_bloom_word(F.col("__pos")).alias("word"),
                _bloom_mask(F.col("__pos")).alias("__m"))
        .groupBy("word")
        .agg(F.bit_or("__m").alias("bits"))
    )


def bloom_merge(*tables: DataFrame) -> DataFrame:
    """Merge Bloom filters built with the SAME (m_bits, k): union ->
    per-word ``bit_or``.  Idempotent: re-merging a dump changes
    nothing, so a crashed-run replay cannot corrupt the store."""
    if not tables:
        raise ValueError("need at least one bloom table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_contains(
    df: DataFrame,
    item_col: str,
    sketch: DataFrame,
    *,
    m_bits: int,
    k: int = 7,
    out_col: str = "member",
) -> DataFrame:
    """Probe every row of ``df`` against a Bloom filter: adds boolean
    ``out_col`` (True = possibly inserted, False = DEFINITELY never
    inserted; NULL items probe False).

    Scale shape: the filter is O(m/63) rows and rides ``k`` broadcast
    hash joins — the corpus stream itself never shuffles and no
    per-probe groupBy exists (each hash index joins its own word
    column and the k hit bits AND together row-local).  EXPLAIN
    audit asserts zero Exchange on the probe side."""
    _check_bloom(m_bits, k)
    positions = _bloom_positions(item_col, m_bits=m_bits, k=k)
    out = df
    hits = []
    for i, pos in enumerate(positions):
        w, b = f"__bw{i}", f"__bb{i}"
        side = F.broadcast(sketch.select(F.col("word").alias(w),
                                         F.col("bits").alias(b)))
        out = out.join(side, _bloom_word(pos) == F.col(w), "left").drop(w)
        hits.append(
            F.coalesce(F.col(b).bitwiseAND(_bloom_mask(pos)) != 0,
                       F.lit(False)))
    member = hits[0]
    for hcol in hits[1:]:
        member = member & hcol
    return out.withColumn(out_col, member).drop(
        *[f"__bb{i}" for i in range(k)])


def bloom_fp_rate(n_items: int, *, m_bits: int, k: int) -> float:
    """Expected false-positive probability after n insertions —
    the classic ``(1 - e^(-k*n/m))^k`` envelope (test helper)."""
    return (1.0 - math.exp(-k * n_items / m_bits)) ** k


def bloom_sql_snippets(*, m_bits: int, k: int = 7) -> dict[str, str]:
    """DuckDB fragments replaying the Bloom arithmetic, generated from
    the SAME constants (engine and oracle cannot drift).

    Keys: ``positions`` — SELECT body over ``__items(item)`` producing
    (item, word, mask), one row per hash index; ``words`` — SELECT
    body folding positions into the packed (word, bits) table."""
    _check_bloom(m_bits, k)
    wb = BLOOM_WORD_BITS
    arms = " UNION ALL ".join(
        f"""SELECT item,
               ((h1 + {i} * h2) % {m_bits}) // {wb} AS word,
               1::BIGINT << (((h1 + {i} * h2) % {m_bits}) % {wb})::INT
                 AS mask
           FROM (SELECT item,
                        h % {1 << 30} AS h1,
                        (h // {1 << 30}) * 2 + 1 AS h2
                 FROM (SELECT item,
                              ('0x' || substr(sha256(item), 1, 15))::BIGINT
                                AS h
                       FROM __items))"""
        for i in range(k)
    )
    words = f"SELECT word, bit_or(mask) AS bits FROM ({arms}) GROUP BY 1"
    return {"positions": arms, "words": words}
