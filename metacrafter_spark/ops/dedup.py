"""Deduplication operators for training-data pipelines.

Hot paths are native Column expressions (JVM, codegen) or Arrow-batched
numpy kernels — never per-row Python:

- exact dedup: sha2 content hash → keep first occurrence;
- MinHash: word-shingle arrays → per-shingle xxhash64 (JVM, once) →
  k multiply-shift permutation minima in ONE vectorized numpy kernel
  per Arrow batch (the k-seed interpreted-HOF loop was
  expression-eval-bound: ~3.5× slower) — no explode of shingles;
- LSH banding: signature slices → band hashes → candidate pairs from
  same-bucket self-join → exact Jaccard verify (array_intersect) →
  drop later duplicates;
- SimHash: majority bit vote over word hashes, again via array
  expressions + bit arithmetic;
- n-gram Jaccard and embedding-cosine near-dup built from the same
  primitives.

Scale notes: the only shuffles are the groupBy/join on hash keys; band
buckets bound candidate-pair fan-out; at 100 TB you'd additionally
cap bucket sizes (skew guard, provided via ``max_bucket``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from metacrafter_spark.util import sql_ident, sql_string, with_sql_columns


def exact_dedup(df: DataFrame, content_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (by order_col) per identical content hash."""
    h = F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]), 256)
    w = Window.partitionBy("__h").orderBy(F.col(order_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


#: Word-token split pattern shared by every split_words-based operator
#: AND its DuckDB oracle twin (the literal must be identical on both
#: sides).  NOT ``\W+``: Java regex and RE2 both make ``\w`` ASCII-only
#: by default, so ``\W+`` tokenizes every non-Latin-script document to
#: NOTHING — Russian/Arabic/Greek/Hindi pages silently bypassed the
#: whole shingle-based dedup/decontam/toxicity layer (found when 18 ru
#: pages of the 200-page ingest fixture could never near-dup).  The
#: explicit class is byte-identical to ``\W+`` on pure-ASCII text
#: (underscore included) and Unicode-correct elsewhere; ``\p{L}\p{N}``
#: parse identically in Java regex, RE2 and Python re (differential
#: test: test_ops.py::test_split_words_unicode_cross_engine).
WORD_SPLIT = r"[^\p{L}\p{N}_]+"


def split_words(text: Column, max_words: int = 2000) -> Column:
    """First ``max_words`` non-empty lowercase word tokens (split on
    :data:`WORD_SPLIT` — ASCII-equivalent to ``\\W+``, but non-Latin
    scripts tokenize instead of vanishing)."""
    return F.slice(
        F.filter(F.split(F.lower(text), WORD_SPLIT),
                 lambda w: F.length(w) > 0),
        1, max_words,
    )


def shingles_from_words(words: Column, n: int = 5) -> Column:
    """Distinct word n-grams from a words array column (native).

    Pass a MATERIALIZED column (an attribute reference), not a derived
    expression: ``words`` is referenced ~2n times below (each shifted
    slice plus the length guards), and Catalyst re-inlines non-trivial
    expression trees per reference — the split+filter would run ~2n
    times per row (observed in the dup_span_stats plan before staging).

    Grams are built by iterated ``zip_with`` over ``n`` shifted slices —
    LINEAR in document length.  The previous ``slice(words, i, n)``
    inside an index lambda re-evaluated the whole words tree once PER
    GRAM — the round-2 O(n²) HOF trap.  Gram strings are space-joined,
    byte-identical across variants, so signatures and oracles agree."""
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.slice(words, 1, k)
    for i in range(1, n):
        grams = F.zip_with(grams, F.slice(words, i + 1, k),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    single = F.when(F.size(words) > 0, F.array(F.concat_ws(" ", words))).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(F.when(k > 0, grams).otherwise(single))


def word_shingles(text: Column, n: int = 5, max_words: int = 2000) -> Column:
    """Distinct word n-grams straight from text (compositional form).

    Prefer staging :func:`split_words` as a tmp column and calling
    :func:`shingles_from_words` on the attribute when the caller
    controls the DataFrame — see that function's re-evaluation note."""
    return shingles_from_words(split_words(text, max_words), n)


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
    max_words: int = 2000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document duplicated-span statistics (substring-dedup signal).

    Distributed re-expression of the substring-level signal from Lee et
    al. 2021 ("Deduplicating Training Data Makes Language Models
    Better"): instead of a global suffix array — inherently sequential —
    every document's distinct ``span_words``-token windows are hashed
    and their document frequency counted across the corpus; a span seen
    in ≥2 documents is duplicated text.  Emits one row per document with
    ``n_spans`` (distinct windows), ``n_dup_spans`` and
    ``dup_span_frac`` — threshold the fraction in a keep/drop pipeline
    to shed boilerplate-heavy documents, or sum ``n_dup_spans`` for a
    corpus-level duplication report.

    Scale shape: gram strings never ride the shuffle under the default
    ``xxhash64`` family — the explode output is projected to
    (id, 8-byte hash) before the Exchange; within-doc de-dup happens in
    ``word_shingles`` (array_distinct, map-side), so document frequency
    is a plain partial-aggregable ``count(*)``; the frequency join
    carries (hash, n_docs) only.  A boilerplate span shared by millions
    of docs is one counter, not a collected list.  Documents with zero
    words emit no row (they have no spans).

    ``hash_family='sha256'`` swaps the key for the DuckDB-replayable
    oracle twin (same mechanism, value-checkable end-to-end).
    """
    if hash_family == "xxhash64":
        key = F.xxhash64(F.col("__gram"))
    elif hash_family == "sha256":
        key = F.sha2(F.col("__gram"), 256)
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    # Stage words as an attribute so the Generate's shingle expression
    # references it ~2n times for free instead of re-inlining the
    # split+filter tree per reference (shingles_from_words docstring).
    g = (
        df.select(
            F.col(id_col),
            split_words(F.col(text_col), max_words).alias("__words"),
        )
        .select(
            F.col(id_col),
            F.explode(shingles_from_words(F.col("__words"), n=span_words)).alias("__gram"),
        )
        .select(F.col(id_col), key.alias("__gh"))
    )
    freq = g.groupBy("__gh").agg(F.count("*").alias("__n_docs"))
    return (
        g.join(freq, "__gh")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("__n_docs") >= 2).cast("long")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4),
        )
    )


def _minhash_consts(n_hashes: int):
    # multiply-shift universal-hash family over Z/2^64: odd multipliers
    # from golden-ratio multiples (deterministic, no RNG)
    k = np.arange(1, n_hashes + 1, dtype=np.uint64)
    a = (k * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
    b = k * np.uint64(0xC2B2AE3D27D4EB4F)
    return a, b


def minhash_signature_udf(n_hashes: int = 64):
    """Arrow-batched signature kernel: per row, min over
    ``a_k * h + b_k (mod 2^64)`` for the k multiply-shift permutations —
    one numpy matmul-shaped op instead of k interpreted array passes.
    (uint64 multiplication wraps in C semantics — exactly the mod-2^64
    family; deterministic, no RNG.)"""
    a, b = _minhash_consts(n_hashes)

    def _sig(hs: pd.Series) -> pd.Series:
        def one(h):
            if h is None or len(h) == 0:
                return None
            x = np.asarray(h, dtype=np.int64).view(np.uint64)
            m = (a[:, None] * x[None, :] + b[:, None]).min(axis=1)
            return m.view(np.int64).tolist()

        return hs.map(one)

    return pandas_udf(_sig, "array<bigint>")


def with_minhash(
    df: DataFrame, text_col: str = "text", n_hashes: int = 64, shingle: int = 5,
    sig_col: str = "minhash", shingles_col: str = "shingles",
) -> DataFrame:
    """Attach shingles + minhash signature.

    Two-level hashing: each shingle STRING is hashed once JVM-side
    (``xxhash64``, materialized as its own column so nothing re-inlines
    into downstream lambdas), then the k permutations run as ONE
    vectorized numpy kernel over the Arrow batch (multiply-shift family)
    — the k×|shingles| re-hash is memory-bandwidth work in C, not k
    interpreted Column-expression passes."""
    base_col = "__mh_base"
    out = df.withColumn("__mh_words", split_words(F.col(text_col)))
    out = out.withColumn(
        shingles_col, shingles_from_words(F.col("__mh_words"), shingle)
    ).drop("__mh_words")
    out = out.withColumn(
        base_col, F.transform(F.col(shingles_col), lambda s: F.xxhash64(s))
    )
    return out.withColumn(
        sig_col, minhash_signature_udf(n_hashes)(F.col(base_col))
    ).drop(base_col)


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, sig_col: str = "minhash",
    bands: int = 16, rows: int = 4, max_bucket: int = 1000,
) -> DataFrame:
    """Same-band-bucket candidate pairs (id_a < id_b).

    ``max_bucket`` drops degenerate buckets (e.g. empty-text collisions)
    — the standard skew guard so one hot bucket can't produce O(n²)
    pairs on a real cluster.
    """
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            F.concat_ws(",", F.transform(
                F.slice(F.col(sig_col), b * rows + 1, rows),
                lambda x: x.cast("string"),
            )),
            b,
        ),
    )
    exploded = (
        df.filter(F.col(sig_col).isNotNull())
        .select(F.col(id_col), F.explode(band_arr).alias("bucket"))
    )
    counts = exploded.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    ok = exploded.join(
        F.broadcast(counts.filter(F.col("n").between(2, max_bucket))), "bucket"
    )
    a = ok.alias("a")
    b = ok.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def near_dup_pairs_minhash(
    df: DataFrame, id_col: str, *, threshold: float = 0.8,
    n_hashes: int = 64, bands: int = 16, rows: int = 4, text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle Jaccard.

    Memory diet (the 100-TB shape): only the ``(id, minhash)`` signature
    frame is persisted for banding — ~0.5 KB/doc instead of caching
    text+shingles (several × the corpus).  Shingles are re-derived from
    the source ONLY for ids that appear in candidate pairs (semi-join
    pushdown), a tiny fraction of the corpus; recomputing that
    projection twice beats materializing it once."""
    base = df.select(F.col(id_col), F.col(text_col))
    sig = (
        with_minhash(base, text_col, n_hashes)
        .select(F.col(id_col), "minhash")  # column-pruned: text/shingles dropped
        .persist()
    )
    pairs = lsh_candidate_pairs(sig, id_col, bands=bands, rows=rows).persist()
    # NOTE(r3): the round-1 forced `pairs.count()` (which worked around a
    # Catalyst re-canonicalization blow-up) is gone — re-measured on
    # Spark 4.1: planning is fine without it, and the extra job was
    # recomputing the candidate join once (14.4s → 4.1s on the sf0.1
    # documents table).  The eager localCheckpoint below still
    # materializes the result while the persisted frames are alive.
    try:
        ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh = (
            base.join(ids, id_col, "left_semi")
            .select(F.col(id_col), split_words(F.col(text_col)).alias("__words"))
            .select(
                F.col(id_col),
                shingles_from_words(F.col("__words")).alias("shingles"),
            )
        )
        out = (
            pairs.join(sh.withColumnRenamed(id_col, "id_a")
                         .withColumnRenamed("shingles", "sh_a"), "id_a")
            .join(sh.withColumnRenamed(id_col, "id_b")
                    .withColumnRenamed("shingles", "sh_b"), "id_b")
            .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        # materialize while the persisted plans are alive
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        pairs.unpersist()
        sig.unpersist()


def near_dup_pairs_minhash_sha(
    df: DataFrame, id_col: str, *, threshold: float = 0.5,
    n_hashes: int = 12, bands: int = 4, rows: int = 3,
    text_col: str = "text", max_bucket: int = 1000, shingle: int = 5,
) -> DataFrame:
    """DuckDB-reproducible MinHash-LSH twin of
    :func:`near_dup_pairs_minhash` (same banding semantics, same
    verify-with-exact-Jaccard shape): signature k is the LEXICOGRAPHIC
    minimum over shingles of ``sha2(f"{k}:" + shingle, 256)`` — hash
    ordering is a random permutation of the shingle universe, so a
    string min is a valid min-hash, and every primitive (sha256 hex,
    string min/concat) exists identically in DuckDB for end-to-end
    value checking.  Band key = the concatenation of ``rows``
    consecutive minima; same ``max_bucket`` skew guard.

    The production path stays xxhash64+numpy (`with_minhash`): this
    family pays k× the hashing cost and exists for oracle-scale
    verification of the banding/verify mechanism."""
    base = df.select(F.col(id_col), F.col(text_col))
    t = (
        base.withColumn("__words", split_words(F.col(text_col)))
        .withColumn("sh", shingles_from_words(F.col("__words"), shingle))
        .drop("__words")
        .filter(F.size("sh") > 0)
    )

    def _seeded(k: int):
        # one-arg closure factory (see with_simhash: a default-arg lambda
        # would bind (element, index) in pyspark's HOF)
        return lambda s: F.sha2(F.concat(F.lit(f"{k}:"), s), 256)

    sig = F.array(*[
        F.array_min(F.transform(F.col("sh"), _seeded(k)))
        for k in range(n_hashes)
    ])
    t = t.withColumn("sig", sig).persist()
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[
                F.element_at(F.col("sig"), b * rows + r + 1)
                for r in range(rows)
            ]).alias("key"),
        )
        for b in range(bands)
    ]
    try:
        exploded = t.select(
            F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
        ).select(id_col, "bk.band", "bk.key")
        counts = exploded.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("n")
        )
        ok = exploded.join(
            F.broadcast(counts.filter(F.col("n").between(2, max_bucket))),
            ["band", "key"],
        )
        a, b2 = ok.alias("a"), ok.alias("b")
        pairs = (
            a.join(b2, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct()
        )
        sh_frame = t.select(F.col(id_col), "sh")
        out = (
            pairs.join(sh_frame.withColumnRenamed(id_col, "id_a")
                       .withColumnRenamed("sh", "sh_a"), "id_a")
            .join(sh_frame.withColumnRenamed(id_col, "id_b")
                  .withColumnRenamed("sh", "sh_b"), "id_b")
            .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        )
        return out.localCheckpoint(eager=True)
    finally:
        t.unpersist()


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_gram_docs: int = 200,
    max_words: int = 2000,
) -> DataFrame:
    """Directional n-gram CONTAINMENT pairs — the subset-duplication
    signal Jaccard misses: a short article syndicated inside a long
    ad-wrapped page has low Jaccard (the wrapper dominates the union)
    but containment ≈ 1 from the short side.  For each candidate pair,
    ``containment = |G_small ∩ G_big| / |G_small|`` where G are the
    distinct word n-gram sets and "small" is the side with fewer grams
    (ties break on the lower id) — emitted as ``(id_small, id_big,
    n_small, n_big, inter, containment)`` for pairs at or above
    ``threshold``.

    Scale shape (the 100-TB contract): the corpus explodes ONCE into
    distinct ``(32-byte gram sha256, id)`` rows — gram text never
    shuffles; the hot-gram guard drops grams appearing in more than
    ``max_gram_docs`` documents from BOTH the pair join and the size
    denominators (boilerplate phrases generate quadratic pairs and
    carry no subset signal — dropping them from one side only would
    bias the ratio, so both sides see the same guarded gram universe).
    The guard is a plain gram-key count join, NOT a broadcast: the
    gram-count table is itself corpus-sized (only its HOT slice is
    small), and the join co-partitions with the count aggregate and
    the pair self-join on the same ``__h`` key, so it adds no extra
    Exchange of the gram stream.  Grams in a single document skip the
    self-join (they cannot intersect) but still count in sizes, so a
    small doc full of unique grams is correctly NOT contained.
    Candidates come from the gram-key equi-join (never a cartesian
    product); everything is exact integer arithmetic plus one
    quantized division, so the full chain replays in SQL."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    base = df.select(F.col(id_col).alias("__id"),
                     split_words(F.col(text_col), max_words).alias("__w"))
    grams = (
        base.select("__id",
                    F.explode(shingles_from_words(F.col("__w"), n))
                    .alias("__g"))
        .select("__id", F.sha2(F.col("__g"), 256).alias("__h"))
    )
    cnt = grams.groupBy("__h").agg(F.count("*").alias("__docs"))
    guarded = (grams.join(cnt, "__h")
               .filter(F.col("__docs") <= max_gram_docs))
    sizes = guarded.groupBy("__id").agg(F.count("*").alias("__ng"))
    joinable = guarded.filter(F.col("__docs") >= 2).select("__id", "__h")
    a = joinable.withColumnRenamed("__id", "id_a")
    b = joinable.withColumnRenamed("__id", "id_b")
    inter = (
        a.join(b, (a["__h"] == b["__h"]) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    with_sizes = (
        inter.join(sizes.withColumnRenamed("__id", "id_a")
                   .withColumnRenamed("__ng", "na"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b")
              .withColumnRenamed("__ng", "nb"), "id_b")
    )
    a_small = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b")))
    out = with_sizes.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b"))
        .alias("id_small"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a"))
        .alias("id_big"),
        F.least("na", "nb").alias("n_small"),
        F.greatest("na", "nb").alias("n_big"),
        "inter",
        F.round(F.col("inter").cast("double")
                / F.least("na", "nb").cast("double"), 6)
        .cast("decimal(18,6)").alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold)


def dedup_by_pairs(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Drop the larger id of every near-dup pair (keep-first policy)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def connected_components(
    pairs: DataFrame, max_iter: int = 25, algorithm: str = "label",
) -> DataFrame:
    """Near-dup pair edges → ``(id, component)`` where component = the
    minimum id reachable through the pair graph (the canonical doc of
    each duplicate cluster).

    ``algorithm="label"``: iterative min-label propagation — every round
    each node takes the smallest label among itself and its neighbours;
    converges in O(graph diameter) rounds (duplicate clusters are
    shallow — template families form stars, so 3-5 rounds in practice).
    Each round is one shuffle keyed on node id; ``localCheckpoint``
    truncates the lineage so plans don't grow with iterations
    (superseded checkpoint blocks are reclaimed by Spark's
    ContextCleaner once the Python reference drops).  If the graph has
    diameter > max_iter the labels would be silently wrong, so
    non-convergence raises.

    ``algorithm="star"``: the alternating large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log² n) rounds regardless of diameter, the right
    engine for billion-edge or chain-shaped graphs."""
    if algorithm == "star":
        return _connected_components_star(pairs, max_iter)
    if algorithm != "label":
        raise ValueError(f"algorithm must be 'label' or 'star', got {algorithm!r}")
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    labels = (
        sym.select(F.col("a").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    try:
        changed = 0
        for _ in range(max_iter):
            prop = (
                sym.join(labels, sym["a"] == labels["id"])
                .groupBy(F.col("b").alias("nid"))
                .agg(F.min("comp").alias("ncomp"))
            )
            new = (
                labels.join(prop, labels["id"] == prop["nid"], "left")
                .select(
                    F.col("id"),
                    F.least(F.col("comp"),
                            F.coalesce(F.col("ncomp"), F.col("comp")))
                    .alias("comp"),
                )
                .localCheckpoint()
            )
            changed = (
                new.alias("n").join(labels.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            labels = new
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"min-label rounds ({changed} labels still moving) — the "
                "graph diameter exceeds max_iter; raise max_iter or use "
                "algorithm='star' (diameter-independent)."
            )
        return labels.select(F.col("id"), F.col("comp").alias("component"))
    finally:
        sym.unpersist()


def _connected_components_star(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Each round: large-star hangs every node's larger neighbours off the
    minimum of its closed neighbourhood; small-star re-parents every
    node's smaller-or-equal neighbourhood onto its minimum.  The edge
    set monotonically flattens into per-component stars rooted at the
    component's minimum id in O(log² n) rounds — independent of graph
    diameter, unlike min-label propagation.  Convergence = the
    canonically-oriented edge set stops changing (checked with an
    order-insensitive count + hash-sum signature, one tiny agg row per
    round)."""
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("a"),
            F.least("id_a", "id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def _signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum over random 64-bit hashes would
            # overflow-raise under ANSI mode
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        m = mins.select("a", F.least("a", "mn").alias("m"))
        return (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e already oriented a > b; group each node with its smaller
        # neighbours, re-parent all of them (and itself) onto the min
        mn = e.groupBy("a").agg(F.min("b").alias("m"))
        nbrs = e.join(mn, "a").select(F.col("b").alias("v"), F.col("m"))
        selfrows = mn.select(F.col("a").alias("v"), F.col("m"))
        return (
            nbrs.union(selfrows)
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    sig = _signature(edges)
    converged = False
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        new_sig = _signature(edges)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"star connected_components did not stabilize in {max_iter} "
            "rounds — raise max_iter (O(log² n) rounds expected)."
        )
    # final state: per-component stars rooted at the minimum id
    children = edges.select(F.col("a").alias("id"), F.col("b").alias("component"))
    roots = edges.select(F.col("b").alias("id"), F.col("b").alias("component"))
    return children.union(roots).distinct()


def dedup_by_clusters(
    df: DataFrame, id_col: str, pairs: DataFrame,
    prefer_col: str | None = None,
) -> DataFrame:
    """Keep ONE document per connected near-dup cluster — unlike
    pair-wise dropping, a chain A-B, B-C keeps one survivor and drops
    the other two exactly once.

    ``prefer_col=None``: the survivor is the minimum id (the canonical
    label the component algorithm already computes — zero extra work).

    ``prefer_col="q_score"``: quality-aware survivor selection (the
    FineWeb/RefinedWeb curation move — near-dup clusters usually mix a
    clean page with its ad-wrapped or truncated mirrors, and min-id
    keeps an arbitrary one): the survivor is the cluster member with
    the MAXIMUM ``prefer_col``, ties broken by minimum id — a total
    order, so the survivor is a pure function of the data under any
    partitioning.  A NULL score ranks below every non-NULL score; a
    cluster whose scores are all NULL falls back to min id (the
    max-score filter is null-safe).  Ids must be unique in ``df``.

    Scale shape: the component table only contains docs that appear in
    ``pairs`` (a small fraction of the corpus); the two winner aggs and
    the score join run on that table, never the corpus — the corpus
    sees exactly one anti-join, same as the min-id path.
    """
    comp = connected_components(pairs)
    if prefer_col is None:
        losers = comp.filter(F.col("id") != F.col("component")) \
            .select(F.col("id").alias(id_col))
        return df.join(losers, id_col, "left_anti")
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(prefer_col).alias("__s")),
        "id",
    )
    best = scored.groupBy("component").agg(F.max("__s").alias("__smax"))
    winners = (
        scored.join(best, "component")
        .filter(F.col("__s").eqNullSafe(F.col("__smax")))
        .groupBy("component").agg(F.min("id").alias("__w"))
    )
    losers = (
        scored.join(winners, "component")
        .filter(F.col("id") != F.col("__w"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def with_simhash(
    df: DataFrame, text_col: str = "text", sim_col: str = "sim",
    max_words: int = 2000,
) -> DataFrame:
    """64-bit SimHash via per-bit majority vote — all native expressions.

    Bit b of a word's projection = parity of hex char b of
    ``sha2(word, 256)`` — an unbiased ±1 family whose every primitive
    (sha256, ascii, substring) exists identically in DuckDB, so the full
    near-dup operator is oracle-checkable end-to-end.  The sha array is
    materialized in its own projection: each word is hashed ONCE
    (CollapseProject keeps multi-referenced non-cheap aliases
    un-inlined), and the 64 per-bit counters are cheap char-parity scans
    over that array."""
    words = F.slice(
        F.filter(F.split(F.lower(F.col(text_col)), WORD_SPLIT),
                 lambda w: F.length(w) > 0),
        1, max_words,
    )
    tmp_sh = "__sim_shas"
    out = df.withColumn(tmp_sh, F.transform(words, lambda w: F.sha2(w, 256)))
    shas = F.col(tmp_sh)
    n = F.size(shas)

    def _parity(pos: int):
        # one-arg closure factory: a `lambda h, b=b:` default-arg capture
        # would give the lambda TWO parameters, which pyspark's HOF
        # binding reads as (element, index) — shadowing the constant
        return lambda h: F.ascii(F.substring(h, pos, 1)) % 2 == 1

    sim = F.lit(0).cast("long")
    for b in range(64):  # static shift amounts; bitwise OR cannot overflow
        cnt = F.size(F.filter(shas, _parity(b + 1)))
        bit = F.when(cnt * 2 > n, F.lit(1).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        sim = sim.bitwiseOR(F.shiftleft(bit, b))
    return out.withColumn(sim_col, sim).drop(tmp_sh)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str = "text", max_distance: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4×16-bit chunks (a pair within
    Hamming distance ≤3 must agree exactly on ≥1 of 4 chunks), verify
    with bit_count — the classic Manku/Charikar chunking trick.

    ``max_bucket`` is the same skew guard as :func:`lsh_candidate_pairs`:
    a hot 16-bit chunk key (template boilerplate, empty texts all
    hashing to sim=0) would otherwise make the self-join quadratic on
    one reducer.  Exactness note: for distance ≤ 3 the blocking is
    lossless *except* pairs inside dropped hot buckets — size the cap to
    your dup-cluster ceiling (or post-process hot buckets separately)."""
    sh = with_simhash(
        df.select(F.col(id_col), F.col(text_col)), text_col
    ).select(id_col, "sim")
    return hamming_near_dup_pairs(
        sh, id_col, "sim", max_distance=max_distance, max_bucket=max_bucket
    )


def hamming_near_dup_pairs(
    sig_df: DataFrame, id_col: str, sig_col: str = "sim",
    max_distance: int = 3, max_bucket: int = 1000,
    checkpoint: bool = True,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column (SimHash, image
    dHash, …) via the Manku 4×16-bit chunk blocking + bit_count verify.

    Shared scale shape: the signature frame is 16 bytes/doc and is
    persisted so the signature pass runs once (it feeds the bucket
    counts AND both self-join sides); the self-join is equi-keyed on
    (chunk, 16-bit key) with a broadcast hot-bucket guard, so no
    cartesian product and no quadratic reducer exists at any corpus
    size.  NULL signatures (e.g. undecodable images in lax mode) are
    dropped — a NULL must never pair with another NULL."""
    # (id, sim) is 16 bytes/doc — persist it so the signature pass runs
    # once (the frame feeds bucket counts AND both self-join sides)
    sh = sig_df.filter(F.col(sig_col).isNotNull()).select(
        F.col(id_col), F.col(sig_col).cast("long").alias("sim")
    ).persist()
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned(F.col("sim"), i * 16)
            .bitwiseAND(F.lit(0xFFFF)).alias("key"),
        )
        for i in range(4)
    ]
    chunks = sh.select(
        id_col, "sim", F.explode(F.array(*chunk_structs)).alias("c")
    ).select(id_col, "sim", "c.chunk", "c.key")
    counts = chunks.groupBy("chunk", "key").agg(F.count(F.lit(1)).alias("n"))
    ok = chunks.join(
        F.broadcast(counts.filter(F.col("n").between(2, max_bucket))),
        ["chunk", "key"],
    )
    a, b = ok.alias("a"), ok.alias("b")
    try:
        out = (
            a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_distance)
            .distinct()
        )
        if not checkpoint:
            # plan-inspection path (scripts/explain_audit.py): return the
            # lazy frame; the signature persist stays caller-managed
            return out
        # materialize while the persisted signature frame is alive
        return out.localCheckpoint(eager=True)
    finally:
        if checkpoint:
            sh.unpersist()


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
    max_words: int = 2000,
    min_docs: int = 2,
    out_col: str = "text_dedup",
) -> DataFrame:
    """Excise corpus-duplicated token spans from every document — the
    ACTION half of the substring-dedup recipe (Lee et al. 2021 remove
    duplicated substrings, not whole documents; ``dup_span_stats`` is
    the corresponding signal).

    A token is removed when any ``span_words``-window covering it
    occurs in ≥ ``min_docs`` documents.  Output is the space-joined
    surviving tokens (token-level reconstruction — original whitespace
    and casing inside removed regions are gone, as in the reference
    recipe which operates on token sequences), plus ``n_tokens`` /
    ``n_removed`` counters.  Documents with no duplicated window pass
    through with their tokens rejoined unchanged.

    Scale shape: identical to ``dup_span_stats`` — the shuffle carries
    (id, 8-byte gram hash, 4-byte position) and then (id, duplicated
    window starts); gram strings never ride an Exchange.  The coverage
    test is ``exists(starts, s -> s <= j < s+k)`` per token — O(|starts|)
    per token, bounded by ``max_words`` both ways.
    """
    k = span_words
    staged = df.withColumn("__words", split_words(F.col(text_col), max_words))
    grams = staged.select(
        F.col(id_col),
        F.posexplode(shingles_positional(F.col("__words"), k)).alias("__i", "__gram"),
    ).select(F.col(id_col), F.col("__i"), F.xxhash64("__gram").alias("__gh"))
    freq = grams.groupBy("__gh").agg(F.count_distinct(id_col).alias("__nd"))
    dup_starts = (
        grams.join(freq.filter(F.col("__nd") >= min_docs), "__gh")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("__i")).alias("__starts"))
    )
    return excise_covered_spans(staged, dup_starts, id_col, k, out_col)


def excise_covered_spans(
    staged: DataFrame,
    starts: DataFrame,
    id_col: str,
    span_words: int,
    out_col: str,
) -> DataFrame:
    """Excision tail shared by :func:`remove_dup_spans` and
    span-level decontamination (ops/decontam.py): drop every token of
    ``staged.__words`` covered by a ``span_words``-window whose start
    appears in ``starts.__starts`` (per ``id_col``), rebuild the text
    space-joined into ``out_col`` with ``n_tokens``/``n_removed``
    counters.  Documents absent from ``starts`` pass through with
    their tokens rejoined unchanged."""
    k = span_words
    out = staged.join(starts, id_col, "left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    idx = F.sequence(F.lit(0), F.greatest(F.size("__words") - 1, F.lit(0)))
    kept = F.when(
        F.size("__words") > 0,
        F.filter(
            idx,
            lambda j: ~F.exists(
                F.col("__starts"), lambda s: (j >= s) & (j < s + F.lit(k))
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    out = out.withColumn("__kept", kept)
    return (
        out.withColumn(
            out_col,
            F.concat_ws(
                " ",
                F.transform(F.col("__kept"),
                            lambda j: F.element_at(F.col("__words"), j + 1)),
            ),
        )
        .withColumn("n_tokens", F.size("__words").cast("long"))
        .withColumn(
            "n_removed",
            (F.size("__words") - F.size("__kept")).cast("long"),
        )
        .drop("__words", "__starts", "__kept")
    )


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
# every ASCII codepoint that is not [0-9A-Za-z]: controls, whitespace,
# punctuation, DEL — collapsed to one space by the key normalization
_ASCII_JUNK = r"[\x00-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f]+"


_PARA_SPLIT_RE = r"\n{2,}"


def _para_norm(p: str) -> str:
    """CCNet-style paragraph normalization for dedup keys, as Spark SQL
    over the string expression ``p``: ASCII-only case fold
    (``translate`` — per-char table, bit-identical in every engine;
    Unicode case folding deliberately never enters the key) and every
    ASCII control/whitespace/punctuation run → one space, trimmed.
    Non-ASCII codepoints pass through verbatim, so boilerplate in ANY
    script deduplicates on its exact bytes; the character classes are
    pure ASCII ranges, so Java regex ≡ RE2 ≡ DuckDB."""
    return (f"trim(regexp_replace(translate({p}, {sql_string(_ASCII_UPPER)}, "
            f"{sql_string(_ASCII_LOWER)}), {sql_string(_ASCII_JUNK)}, ' '))")


def remove_global_dup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    mode: str = "keep_first",
    min_docs: int = 2,
    out_col: str = "text_dedup",
) -> DataFrame:
    """CORPUS-WIDE paragraph dedup — the CCNet recipe (Wenzek et al.
    2020 §3.1: hash every paragraph, drop duplicate occurrences; it
    removes the nav menus / cookie banners / license boilerplate that
    per-document filters can't see, ~70% of raw Common-Crawl text).
    The within-document twin is
    ``corpus.quality.with_dedup_paragraphs``.

    Paragraphs (``\\n{2,}`` blocks) are keyed by a normalized hash
    (:func:`_para_norm` → sha256).  Two modes:

    - ``keep_first``: every paragraph whose key occurs more than once
      anywhere in the corpus (including twice in one document) keeps
      ONLY its minimal ``(id, position)`` occurrence — a pure function
      of the data, so the survivor is identical under any partitioning
      (the ``dedup_url_revisits`` determinism rule).
    - ``drop_common``: paragraphs whose key appears in ≥ ``min_docs``
      distinct documents are dropped from ALL documents (the
      boilerplate-stripper policy — no survivor).

    Punctuation/whitespace-only paragraphs (empty normalized key) are
    never deduplicated — they are layout, not content.  Output:
    ``out_col`` (survivors re-joined with one blank line, original
    bytes — normalization touches only the KEY), ``n_paras``,
    ``n_removed``.  A NULL ``text_col`` passes through as NULL with
    zero counts.

    Scale shape: the paragraph explode is map-side and only
    ``(id, index, 32-byte key hash)`` rides the key-hash Exchange; the
    winner/frequency agg is map-side-combinable (``keep_first``'s
    survivors are a pure projection of the agg output — no join back
    onto the exploded frame); the per-document keep set comes back as
    one fixed-width sorted int array; and the single corpus-side
    Exchange is the final id-keyed rebuild join (the
    ``remove_dup_spans`` shape), which carries each document's text
    once — the paragraph split is recomputed after that join, so the
    split array never rides any Exchange.
    """
    if mode not in ("keep_first", "drop_common"):
        raise ValueError(f"unknown mode {mode!r}")
    hashed = _para_hash_frame(df, id_col, text_col)
    if mode == "keep_first":
        kept = _keep_first_winners(hashed, id_col)
    else:
        freq = hashed.groupBy("__h").agg(
            F.count_distinct(id_col).alias("__nd"))
        kept = hashed.join(freq.filter(F.col("__nd") < min_docs), "__h")
    return _rebuild_from_keep(df, kept, id_col, text_col, out_col)


def _para_hash_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, paragraph index, 32-byte key hash) — the only thing the
    dedup decision stage ever shuffles.  Layout-only paragraphs (empty
    normalized key) are excluded here and re-kept unconditionally at
    rebuild."""
    id_ = sql_ident(id_col)
    return (
        df.selectExpr(id_, f"posexplode(split({sql_ident(text_col)}, "
                           f"{sql_string(_PARA_SPLIT_RE)})) AS (__i, __p)")
        .selectExpr(id_, "__i", f"{_para_norm('__p')} AS __k")
        .filter(F.expr("__k != ''"))
        .selectExpr(id_, "__i", "sha2(__k, 256) AS __h")
    )


def _keep_first_winners(hashed: DataFrame, id_col: str) -> DataFrame:
    """One row per paragraph key: ``(id, __i, __h)``.  The winner
    struct IS the surviving row — project it straight out of the agg
    (joining back onto the exploded frame would re-shuffle the largest
    intermediate for no semantic effect); the key rides along, so the
    rows are also the batch's distinct keys."""
    id_ = sql_ident(id_col)
    return hashed.groupBy("__h").agg(
        F.expr(f"min(struct({id_}, __i)) AS __w")
    ).selectExpr(f"__w.{id_} AS {id_}", "__w.__i AS __i", "__h")


def _rebuild_from_keep(df: DataFrame, kept: DataFrame, id_col: str,
                       text_col: str, out_col: str) -> DataFrame:
    keep_idx = kept.groupBy(id_col).agg(
        F.expr("array_sort(collect_list(__i)) AS __keep"))
    out = with_sql_columns(df.join(keep_idx, id_col, "left"), {
        "__keep": "coalesce(__keep, CAST(array() AS array<int>))",
        # split AFTER the rebuild join: the id-keyed Exchange carries
        # the text once, never the doubled (text + split array) form
        "__paras": f"split({sql_ident(text_col)}, "
                   f"{sql_string(_PARA_SPLIT_RE)})",
    })
    out = with_sql_columns(out, {"__kept": (
        f"filter(__paras, (p, i) -> {_para_norm('p')} = '' "
        "OR array_contains(__keep, i))")})
    out = with_sql_columns(out, {
        out_col: f"array_join(__kept, {sql_string(chr(10) * 2)})",
        "n_paras": "CAST(coalesce(size(__paras), -1) AS BIGINT)",
    })
    out = with_sql_columns(
        out, {"n_removed": "CAST(n_paras - size(__kept) AS BIGINT)"})
    # NULL text: NULL out_col (array_join of NULL), zero counts —
    # size() on a NULL array reports -1, not a count
    return with_sql_columns(out, {
        "n_paras": "greatest(n_paras, 0)",
        "n_removed": "greatest(n_removed, 0)",
    }).drop("__paras", "__keep", "__kept")


def para_keys(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The PERSISTED artifact of a snapshot-aware paragraph-dedup
    pipeline: one ``key`` (hex sha256 of the normalized paragraph) per
    distinct content-bearing paragraph in this batch.  At
    10^12-document scale the corpus-so-far is kept as this one-column
    table only — each new crawl dump dedups against it without ever
    re-reading prior text (the CCNet sequential-shard shape; the
    MinHash sibling is :func:`sha_minhash_signatures`).  Union it with
    the prior store (and ``distinct()`` or anti-join on append) after
    each ingested batch — or, after :func:`incremental_para_dedup` of
    the batch, union its ``winners`` keys, which needs no rescan."""
    return _para_hash_frame(
        df.select(F.lit(0).alias("__z"), F.col(text_col)), "__z", text_col
    ).select(F.col("__h").alias("key")).distinct()


def incremental_para_dedup(
    new_df: DataFrame,
    seen_keys: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    out_col: str = "text_dedup",
) -> DataFrame:
    """Cross-dump incremental paragraph dedup — CCNet's actual
    production shape (each new Common-Crawl dump is deduplicated
    against the dumps already ingested, not just against itself):

    - a paragraph whose key is in ``seen_keys`` (column ``key``, from
      :func:`para_keys` over prior batches) is dropped from EVERY new
      document — its keep-first survivor lives in a prior dump;
    - the remaining paragraphs get the in-batch ``keep_first`` rule of
      :func:`remove_global_dup_paragraphs` (global minimal (id, index)
      occurrence — partitioning-independent).

    ``seen_keys=None`` (first dump) reduces exactly to
    ``remove_global_dup_paragraphs(new_df)``.  Same output contract:
    ``out_col`` + ``n_paras`` + ``n_removed``, NULL text passes
    through.  Scale shape: the store anti-join is fixed-width on both
    sides ((id, idx, hash) vs (hash)); everything else is the batch
    op's plan.

    The returned frame carries ``winners``: the keep-first survivors,
    one row per batch key NOT in ``seen_keys`` (``id_col``, paragraph
    index ``__i``, key ``__h``).  Those keys are exactly what the batch
    adds to the store, so the next store is ``seen_keys`` union
    ``winners.selectExpr("__h AS key")`` — disjoint by the anti-join
    and distinct by the group-by, so no ``distinct()`` and no
    :func:`para_keys` rescan of the batch.  The library persists
    nothing: a caller that persists ``winners`` before the first action
    on the result has that action fill the cache and the store advance
    read it, and owns the ``unpersist``.  Spark's CacheManager keys
    cached data by plan, so two dedups of the same input against the
    same store share one cache entry, and the first ``unpersist``
    releases it for both."""
    hashed = _para_hash_frame(new_df, id_col, text_col)
    if seen_keys is not None:
        hashed = hashed.join(
            seen_keys.select(F.col("key").alias("__h")), "__h", "left_anti")
    kept = _keep_first_winners(hashed, id_col)
    out = _rebuild_from_keep(new_df, kept, id_col, text_col, out_col)
    out.winners = kept
    return out


def shingles_positional(words: Column, n: int) -> Column:
    """Positional word n-grams (NOT distinct — index in the array IS the
    0-based start token position; whole-doc fallback for short docs is
    deliberately omitted: a sub-window doc can't contain a full window).
    Pass a MATERIALIZED column (see :func:`shingles_from_words`)."""
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.slice(words, 1, k)
    for i in range(1, n):
        grams = F.zip_with(grams, F.slice(words, i + 1, k),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


def sha_minhash_signatures(
    df: DataFrame, id_col: str, *, n_hashes: int = 12,
    text_col: str = "text", shingle: int = 2, max_words: int = 2000,
) -> DataFrame:
    """(id, sig) signature table in the DuckDB-reproducible sha256
    family (signature k = lexicographic min over shingles of
    ``sha2(f"{k}:" + shingle)``, the :func:`near_dup_pairs_minhash_sha`
    family).  This is the PERSISTED artifact of a snapshot-aware dedup
    pipeline: at 10^12-document scale the corpus-so-far is kept as this
    table only (k fixed-width hashes per doc, text-free) and each new
    crawl snapshot is deduped against it without ever re-reading prior
    text — the CommonCrawl monthly-ingest shape (FineWeb / CCNet keep
    exactly such a signature store between dumps).  Docs with no
    shingles (empty after tokenization) emit no row."""
    t = (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn("__words", split_words(F.col(text_col), max_words))
        .withColumn("sh", shingles_from_words(F.col("__words"), shingle))
        .filter(F.size("sh") > 0)
    )

    def _seeded(k: int):
        # one-arg closure factory (a default-arg lambda would bind
        # (element, index) in pyspark's HOF)
        return lambda s: F.sha2(F.concat(F.lit(f"{k}:"), s), 256)

    sig = F.array(*[
        F.array_min(F.transform(F.col("sh"), _seeded(k)))
        for k in range(n_hashes)
    ])
    return t.select(F.col(id_col), sig.alias("sig"))


def incremental_keep_decisions(
    new_df: DataFrame, prior_sigs: DataFrame, id_col: str, *,
    threshold: float = 0.8, n_hashes: int = 12, bands: int = 6,
    rows: int = 2, text_col: str = "text", shingle: int = 2,
    max_words: int = 2000, max_bucket: int = 1000,
    _checkpoint: bool = True,
) -> DataFrame:
    """Cross-snapshot incremental near-dup dedup: decide keep/drop for
    every row of a NEW snapshot against (a) a PRIOR corpus given only
    as its :func:`sha_minhash_signatures` table and (b) the new
    snapshot itself (keep-first by id, the repo-wide
    :func:`dedup_by_pairs` policy).  Returns one row per new doc:
    ``(id, keep, n_prior_dups, n_new_dups)`` — exact integers and a
    boolean, so the whole decision is SQL-replayable value-for-value.

    Verification is SIGNATURE-based (est. Jaccard = fraction of
    agreeing signature slots; a pair is a dup when
    ``#agreeing >= ceil(threshold * n_hashes)``, an integer compare —
    no floats anywhere).  That is deliberate: the prior side has no
    text, so exact-Jaccard verification is impossible by construction —
    at scale the signature store IS the corpus memory.  The in-snapshot
    exact-verify variant stays :func:`near_dup_pairs_minhash_sha`.

    Scale shape: both sides explode to (id, band, key) fixed-width
    rows; one count agg over the union guards hot buckets (broadcast
    back, same ``max_bucket`` contract as every LSH join in this
    module); candidate pairs join signature arrays (k hashes/doc);
    new-snapshot text never crosses an Exchange and prior text never
    exists.  ids must be unique across snapshots (URL-keyed corpora
    are; ``src`` tags guard the sig join regardless)."""
    import math

    min_eq = int(math.ceil(threshold * n_hashes - 1e-9))
    new_sigs = sha_minhash_signatures(
        new_df, id_col, n_hashes=n_hashes, text_col=text_col,
        shingle=shingle, max_words=max_words,
    )
    sigs = (
        new_sigs.withColumn("src", F.lit("n"))
        .unionAll(prior_sigs.select(F.col(id_col), "sig")
                  .withColumn("src", F.lit("p")))
        .persist()
    )
    try:
        band_structs = [
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", *[
                    F.element_at(F.col("sig"), b * rows + r + 1)
                    for r in range(rows)
                ]).alias("key"),
            )
            for b in range(bands)
        ]
        exploded = sigs.select(
            F.col(id_col), "src",
            F.explode(F.array(*band_structs)).alias("bk"),
        ).select(id_col, "src", "bk.band", "bk.key")
        counts = exploded.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("n"))
        ok = exploded.join(
            F.broadcast(counts.filter(F.col("n").between(2, max_bucket))),
            ["band", "key"],
        )
        a, o = ok.filter(F.col("src") == "n").alias("a"), ok.alias("o")
        pairs = (
            a.join(o, (F.col("a.band") == F.col("o.band"))
                   & (F.col("a.key") == F.col("o.key"))
                   & ((F.col("o.src") == "p")
                      | ((F.col("o.src") == "n")
                         & (F.col(f"o.{id_col}") < F.col(f"a.{id_col}")))))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"o.{id_col}").alias("id_b"),
                    F.col("o.src").alias("src_b"))
            .distinct()
        )
        sa = sigs.filter(F.col("src") == "n").select(
            F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col(id_col).alias("id_b"),
                         F.col("src").alias("src_b"),
                         F.col("sig").alias("sig_b"))
        eq = F.aggregate(
            F.zip_with("sig_a", "sig_b",
                       lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0), lambda acc, v: acc + v,
        )
        dups = (
            pairs.join(sa, "id_a").join(sb, ["id_b", "src_b"])
            .withColumn("eq", eq)
            .filter(F.col("eq") >= F.lit(min_eq))
        )
        agg = dups.groupBy("id_a").agg(
            F.sum(F.when(F.col("src_b") == "p", 1).otherwise(0))
            .cast("long").alias("n_prior_dups"),
            F.sum(F.when(F.col("src_b") == "n", 1).otherwise(0))
            .cast("long").alias("n_new_dups"),
        )
        out = (
            new_df.select(F.col(id_col))
            .join(agg.withColumnRenamed("id_a", id_col), id_col, "left")
            .select(
                id_col,
                F.coalesce("n_prior_dups", F.lit(0)).alias("n_prior_dups"),
                F.coalesce("n_new_dups", F.lit(0)).alias("n_new_dups"),
            )
            .withColumn(
                "keep",
                (F.col("n_prior_dups") + F.col("n_new_dups")) == 0,
            )
            .select(id_col, "keep", "n_prior_dups", "n_new_dups")
        )
        # _checkpoint=False keeps the chain lazy (plan-audit hook only:
        # explain_audit.py inspects the full physical plan; the eager
        # checkpoint is the production shape — see near_dup_pairs_*)
        return out.localCheckpoint(eager=True) if _checkpoint else out
    finally:
        sigs.unpersist()
