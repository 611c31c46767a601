# -*- coding: utf-8 -*-
"""fastText-style supervised quality classifier: binary logistic
regression over hashed bag-of-n-gram features, trained distributively.

Production web-corpus pipelines (CCNet, GPT-3's WebText filter, DCLM,
FineWeb-Edu) pair the heuristic quality gates with a cheap linear
classifier trained to imitate a reference signal — the fastText
supervised model is the canonical choice.  This module is that shape
on Spark: features are the DSIR tokenization (lowercased ``\\W+``
unigrams+bigrams, sha256-hashed into ``buckets`` slots — the shared,
DuckDB-replayable contract from ``ops/dsir.py``), the model is
``sigmoid(b + Σ w[bucket]·x)``, and training is full-batch gradient
descent, each iteration two bounded aggregations.

Determinism / oracle contract (the ``ops/linkgraph.py`` unroll
pattern): weights and probabilities live as decimal(18,9) —

- ``z = b + Σ w·x`` is EXACT decimal arithmetic (order-independent);
- ``p = round(sigmoid(double(z)), 9)`` — one libm call per doc per
  iteration, quantized straight back to decimal (the dsir ln idiom);
- gradient ``g_j = Σ (p−y)·x`` is exact decimal;
- update ``w −= round(double(g)·lr/N, 9)`` quantizes the one division.

Every iteration is therefore replayable verbatim in SQL; the oracle
unrolls the loop as CTEs and matches the weights and scores
byte-for-byte.

Scale shape: the corpus is featurized ONCE into the long frame
(id, bucket, x) — map-side explode + one agg — and persisted; each
iteration is (a) a broadcast join of the ≤``buckets``-row weight
table onto the features plus a fixed-width per-doc agg, and (b) a
per-bucket gradient agg bounded by ``buckets`` output rows with
map-side partial aggregation.  The corpus text is never touched
again, no iteration shuffles anything wider than (id, bucket,
decimal), and inference is one broadcast join — the 100 TB shape.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DecimalType

from metacrafter_spark.ops.dsir import feature_bucket, word_grams

_DEC = DecimalType(18, 9)


def featurize(df: DataFrame, *, id_col: str = "doc_id",
              text_col: str = "text", buckets: int = 1024,
              max_words: int = 200, binary: bool = False) -> DataFrame:
    """(id, bucket, x) hashed bag-of-n-grams counts — one map-side
    explode plus one aggregation keyed (id, bucket).  ``binary=True``
    yields presence features (x = 1), which train better on
    short-document classes (the fastText default is counts; CCNet-
    style quality filters often binarize).

    Precondition: ``id_col`` is unique per row.  The binary branch
    dedups buckets within one row only, so two rows sharing an id each
    emit the bucket with x = 1, and per-doc sums count it twice.  The
    counted branch's (id, bucket) aggregation merges such rows into
    one count instead.  Training and scoring key on unique ids
    (``classify_corpus`` scores distinct (url, text-hash) keys)."""
    if binary:
        # Round-6: presence features need no (id, bucket) aggregation
        # at all — a document's grams live in ONE array, so the
        # distinct bucket set is computable map-side
        # (array_distinct over the per-gram hash) and the explode
        # yields exactly the groupBy's output rows with ZERO Exchange
        # (guide §2.4 "remove shuffles outright"; set-equality with the
        # old groupBy path is asserted in tests).  Downstream partial
        # aggregation also improves: one doc's rows stay contiguous in
        # one partition, so a per-doc agg collapses map-side.
        per_doc = F.array_distinct(
            F.transform(word_grams(text_col, max_words),
                        lambda g: feature_bucket(g, buckets)))
        return (df
                .select(F.col(id_col), F.explode(per_doc).alias("bucket"))
                .withColumn("x", F.lit(1).cast("long")))
    return (df
            .select(F.col(id_col),
                    F.explode(word_grams(text_col, max_words))
                    .alias("__g"))
            .select(id_col,
                    feature_bucket(F.col("__g"), buckets)
                    .alias("bucket"))
            .groupBy(id_col, "bucket")
            .agg(F.count(F.lit(1)).alias("x")))


@dataclass
class LogRegModel:
    weights: DataFrame   # (bucket, w decimal(18,9))
    bias: DataFrame      # one row (b decimal(18,9))
    buckets: int
    max_words: int
    binary: bool


def _scores(labels: DataFrame, feats: DataFrame, w: DataFrame,
            b: DataFrame, id_col: str) -> DataFrame:
    """(id, [y], z decimal, p decimal): exact-decimal dot product plus
    the quantized sigmoid.  ``labels`` must carry id (+ optionally y);
    docs with no features score z = b."""
    # x is cast to decimal(7,0) so the product type is decimal(26,9):
    # within Spark's 38-digit cap, hence EXACT.  A wider x (long is
    # (20,0)) would push the product past 38 digits and Spark silently
    # REDUCES THE SCALE (allowPrecisionLoss) — rounding that breaks
    # the engine-independence contract.  x ≤ 2·max_words by
    # construction, far under 10^7.
    zs = (feats.join(F.broadcast(w), "bucket")
          .groupBy(id_col)
          .agg(F.sum(F.col("w") * F.col("x").cast("decimal(7,0)"))
               .alias("wx")))
    out = (labels.join(zs, id_col, "left")
           .crossJoin(F.broadcast(b))
           .withColumn("z", (F.coalesce(F.col("wx"), F.lit(0).cast(_DEC))
                             + F.col("b")).cast("decimal(38,9)"))
           .drop("wx", "b"))
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("z").cast("double")))),
        9).cast(_DEC)
    return out.withColumn("p", p)


def train_logreg_hashed(df: DataFrame, *, label_col: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        buckets: int = 1024, max_words: int = 200,
                        iterations: int = 3, lr: float = 0.5,
                        class_weights: tuple = (1.0, 1.0),
                        binary: bool = False) -> LogRegModel:
    """Full-batch gradient descent from w = 0, b = 0.  ``label_col``
    must be 0/1 integers.  ``class_weights=(w_neg, w_pos)`` multiplies
    each class's residuals — the standard fix when the class a quality
    filter exists to catch (junk) is the small minority; set w_neg ≈
    N_pos/N_neg.  The weighted residual re-quantizes to decimal(18,9)
    (round(double(p−y)·cw, 9)) so the gradient sums stay exact; with
    cw = 1.0 the round-trip reproduces p−y exactly (a 9-dp decimal
    survives the double round-trip).  Weight and feature frames
    persist across iterations (each is referenced twice per step —
    the unpersisted recursion would re-execute the whole lineage per
    reference)."""
    w_neg, w_pos = class_weights
    # Round-6: persist features AND labels hash-partitioned on the id
    # (explicit partition count from conf, so AQE coalescing cannot
    # de-align the two sides).  Every iteration joins resid⋈feats and
    # labels⋈zs on the id — co-partitioned caches make those joins and
    # the per-doc aggregation Exchange-free, so the wide feature frame
    # is shuffled ONCE at cache fill instead of once per iteration
    # (guide §2.4: two operations keyed the same way share one
    # exchange).
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    feats = featurize(df, id_col=id_col, text_col=text_col,
                      buckets=buckets, max_words=max_words,
                      binary=binary).repartition(n_part, id_col).persist()
    labels = (df.select(id_col, F.col(label_col).cast("int").alias("y"))
              .repartition(n_part, id_col).persist())
    # N is a single driver-side long and never changes — a literal
    # avoids re-running the count agg inside every iteration's plan
    # (it used to ride along as a crossJoined 1-row frame, recomputed
    # per action).
    n_total = labels.count()

    # One (bucket, w) table carries BOTH parameters: the bias lives at
    # sentinel bucket −1 (feature buckets are pmod ≥ 0, so it can never
    # collide).  One localCheckpoint per iteration materializes the
    # whole parameter state in a single eager action — the previous
    # separate w/b checkpoints each re-executed the scored→resid
    # lineage, doubling per-iteration work.
    # (A round-6 experiment replaced the distinct() with a
    # range(-1, buckets) literal table — semantically identical, but
    # measurably slower end-to-end: the distinct's checkpoint job
    # doubles as the feature-cache warm-up, overlapping the fill with
    # setup instead of serializing it into iteration 1.)
    wb = (feats.select("bucket").distinct()
          .select("bucket", F.lit(0).cast(_DEC).alias("w"))
          .unionByName(df.sparkSession.range(1).select(
              F.lit(-1).alias("bucket"), F.lit(0).cast(_DEC).alias("w")))
          ).localCheckpoint(eager=True)

    for _ in range(iterations):
        w = wb.where(F.col("bucket") >= 0)
        b = wb.where(F.col("bucket") == -1).select(F.col("w").alias("b"))
        scored = _scores(labels, feats, w, b, id_col)
        # r fits decimal(18,9); with x as decimal(7,0) the product is
        # decimal(26,9) — exact (see the note in _scores)
        cw = F.when(F.col("y") == 1, F.lit(w_pos)) \
            .otherwise(F.lit(w_neg))
        # persisted: referenced by the per-bucket gradient AND the bias
        # gradient below — without the persist the sigmoid pass runs
        # once per consumer
        resid = scored.select(
            id_col,
            F.round((F.col("p") - F.col("y")).cast("double") * cw, 9)
            .cast("decimal(18,9)").alias("r")).persist()
        grad = (resid.join(feats, id_col)
                .groupBy("bucket")
                .agg(F.sum(F.col("r") * F.col("x").cast("decimal(7,0)"))
                     .alias("g")))
        step = (F.round(F.col("g").cast("double") * F.lit(lr)
                        / F.lit(n_total), 9).cast(_DEC))
        w_new = (w.join(grad, "bucket", "left")
                 .select("bucket",
                         (F.col("w") - F.coalesce(
                             step, F.lit(0).cast(_DEC)))
                         .cast(_DEC).alias("w")))
        gb = resid.agg(F.sum("r").alias("g"))
        b_new = gb.crossJoin(F.broadcast(b)).select(
            F.lit(-1).alias("bucket"),
            (F.col("b") - F.round(F.col("g").cast("double") * F.lit(lr)
                                  / F.lit(n_total), 9).cast(_DEC))
            .cast(_DEC).alias("w"))
        # EAGER checkpoint per iteration (the ops/linkgraph.py idiom):
        # the parameter table is tiny (≤ buckets+1 rows) but its
        # unpersisted lineage doubles per step — a deep chain of joins
        # back to the corpus that the optimizer chokes on and the
        # executor recomputes exponentially.
        wb = w_new.unionByName(b_new).localCheckpoint(eager=True)
        resid.unpersist(blocking=False)

    # final w/b are views over the checkpointed parameter table (no
    # lineage back to the features)
    feats.unpersist(blocking=False)
    labels.unpersist(blocking=False)
    return LogRegModel(
        weights=wb.where(F.col("bucket") >= 0),
        bias=wb.where(F.col("bucket") == -1).select(F.col("w").alias("b")),
        buckets=buckets, max_words=max_words, binary=binary)


def score_logreg(docs: DataFrame, model: LogRegModel, *,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, score decimal z, p decimal, pred int): one featurize pass
    plus a broadcast weight join — inference never shuffles anything
    wider than (id, bucket, count)."""
    feats = featurize(docs, id_col=id_col, text_col=text_col,
                      buckets=model.buckets, max_words=model.max_words,
                      binary=model.binary)
    ids = docs.select(id_col)
    out = _scores(ids, feats, model.weights, model.bias, id_col)
    return out.select(
        id_col, F.col("z").alias("score"), "p",
        (F.col("p") >= F.lit(0.5)).cast("int").alias("pred"))
