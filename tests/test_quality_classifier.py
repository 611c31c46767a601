# -*- coding: utf-8 -*-
"""fastText-style logistic-regression quality classifier
(ops/quality_classifier.py).

Checks: exact arithmetic parity with an independent pure-Python
replay (including class weighting — the decimal-quantization contract
every iteration), learnability on a separable two-pool corpus,
determinism across partitionings, and the production story — the
classifier distilled from junk markers on the committed BASELINE-shape
webcorpus fixture catches every planted junk doc."""
import hashlib
import math
import re
from decimal import Decimal, ROUND_HALF_UP
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from metacrafter_spark.ops.quality_classifier import (
    featurize, score_logreg, train_logreg_hashed)

FIXTURE = str(Path(__file__).resolve().parent
              / "fixtures/webcorpus/webcorpus_2000.parquet")

POOL_A = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
POOL_B = ["zulu", "yankee", "xray", "whiskey", "victor", "uniform"]
SHARED = ["the", "and", "with", "from"]


def _two_pool_docs(n=60):
    docs = []
    for i in range(n):
        pool = POOL_A if i % 2 else POOL_B
        words = [pool[(i + j) % len(pool)] if j % 3 else
                 SHARED[(i + j) % len(SHARED)] for j in range(24)]
        docs.append((i, " ".join(words), i % 2))
    return docs


@pytest.fixture(scope="module")
def two_pool(spark):
    return spark.createDataFrame(
        _two_pool_docs(), "doc_id long, text string, y int")


def _py_train(rows, *, buckets, max_words, iterations, lr,
              class_weights=(1.0, 1.0), binary=False):
    """Independent pure-Python replay of the training loop."""
    def q9(x):
        return Decimal(repr(x)).quantize(
            Decimal("1e-9"), rounding=ROUND_HALF_UP)

    feats, ys = {}, {}
    for doc_id, text, y in rows:
        # Unicode \W+ ≡ the engine's WORD_SPLIT (ASCII flag dropped
        # when the engine moved off ASCII-only tokenization)
        ws = [w for w in re.split(r"\W+", text.lower()) if w][:max_words]
        grams = ws + [a + " " + b for a, b in zip(ws, ws[1:])]
        f = {}
        for g in grams:
            bk = int(hashlib.sha256(g.encode()).hexdigest()[:8],
                     16) % buckets
            f[bk] = 1 if binary else f.get(bk, 0) + 1
        feats[doc_id], ys[doc_id] = f, y
    n = len(rows)
    w, b = {}, Decimal(0)
    for _ in range(iterations):
        ps = {d: q9(1.0 / (1.0 + math.exp(-float(
            sum(w.get(bk, Decimal(0)) * x for bk, x in f.items()) + b))))
            for d, f in feats.items()}
        g, gb = {}, Decimal(0)
        for d, f in feats.items():
            cw = class_weights[ys[d]]
            r = q9(float(ps[d] - ys[d]) * cw)
            gb += r
            for bk, x in f.items():
                g[bk] = g.get(bk, Decimal(0)) + r * x
        for bk, gv in g.items():
            w[bk] = w.get(bk, Decimal(0)) - q9(float(gv) * lr / n)
        b = b - q9(float(gb) * lr / n)
    return w, b, feats


def test_exact_parity_with_python_replay(spark, two_pool):
    kw = dict(buckets=256, max_words=50, iterations=3, lr=1.0,
              class_weights=(2.5, 1.0))
    model = train_logreg_hashed(two_pool, label_col="y", **kw)
    pw, pb, pf = _py_train(
        [(r.doc_id, r.text, r.y) for r in two_pool.collect()], **kw)
    sw = {r.bucket: Decimal(str(r.w)) for r in model.weights.collect()}
    assert Decimal(str(model.bias.collect()[0].b)) == pb
    assert sw == {bk: pw.get(bk, Decimal(0)) for bk in sw}
    # scoring parity too
    scored = {r.doc_id: Decimal(str(r.score))
              for r in score_logreg(two_pool, model).collect()}
    for d, f in pf.items():
        z = sum(pw.get(bk, Decimal(0)) * x for bk, x in f.items()) + pb
        assert scored[d] == z


def test_learns_separable_classes(spark, two_pool):
    model = train_logreg_hashed(two_pool, label_col="y", buckets=256,
                                max_words=50, iterations=8, lr=2.0)
    pred = score_logreg(two_pool, model).join(
        two_pool.select("doc_id", "y"), "doc_id")
    acc = pred.agg(F.avg((F.col("pred") == F.col("y")).cast("double"))
                   ).collect()[0][0]
    assert acc >= 0.95


def test_deterministic_across_partitionings(spark, two_pool):
    def run(df):
        m = train_logreg_hashed(df, label_col="y", buckets=256,
                                max_words=50, iterations=2, lr=1.0)
        return {r.doc_id: str(r.score)
                for r in score_logreg(df, m).collect()}

    assert run(two_pool.repartition(1)) == run(two_pool.repartition(9))


def test_binary_features(spark, two_pool):
    f = featurize(two_pool, buckets=64, max_words=50, binary=True)
    assert f.agg(F.max("x")).collect()[0][0] == 1


def test_binary_featurize_mapside_matches_groupby(spark, two_pool):
    """Round-6: the binary path computes the per-doc distinct bucket
    set map-side (array_distinct over the per-gram hash, zero
    Exchange) — its output must be row-set-identical to the old
    explode→groupBy(id, bucket) formulation, and its plan must carry
    no Exchange."""
    from metacrafter_spark.ops.dsir import feature_bucket, word_grams

    fast = featurize(two_pool, buckets=64, max_words=50, binary=True)
    slow = (two_pool
            .select(F.col("doc_id"),
                    F.explode(word_grams("text", 50)).alias("g"))
            .select("doc_id", feature_bucket(F.col("g"), 64)
                    .alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.lit(1).cast("long").alias("x")))
    assert (sorted(map(tuple, fast.collect()))
            == sorted(map(tuple, slow.collect())))
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_binary_featurize_requires_unique_ids(spark):
    """The documented precondition of binary featurize: ids are unique.
    With unique ids every (id, bucket) pair appears once, x = 1.  Two
    rows sharing an id each emit their buckets, so a per-doc sum counts
    them twice, while the counted branch merges the rows into one
    (id, bucket) count."""
    docs = spark.createDataFrame(
        [(1, "alpha bravo charlie"), (2, "delta echo foxtrot")],
        "doc_id long, text string")
    dup = docs.unionByName(docs.filter("doc_id = 1"))
    unique = featurize(docs, buckets=64, max_words=50, binary=True)
    pairs = [(r.doc_id, r.bucket) for r in unique.collect()]
    assert len(pairs) == len(set(pairs))
    binary = featurize(dup, buckets=64, max_words=50, binary=True)
    counted = featurize(dup, buckets=64, max_words=50)
    per_doc = {r.doc_id: r.s for r in
               binary.groupBy("doc_id").agg(F.sum("x").alias("s")).collect()}
    n1 = unique.filter("doc_id = 1").count()
    assert per_doc[1] == 2 * n1 and per_doc[2] == n1
    once = {r.bucket: r.x for r in featurize(docs, buckets=64, max_words=50)
            .filter("doc_id = 1").collect()}
    assert {r.bucket: r.x for r in counted.filter("doc_id = 1").collect()} \
        == {b: 2 * x for b, x in once.items()}
    assert len(once) == n1


def test_distills_junk_markers_on_webcorpus(spark):
    """The driver-query configuration: junk labels from lorem-ipsum /
    code markers, 50x minority upweighting — the trained model must
    reproduce >=99% of labels and catch every planted junk doc."""
    corpus = spark.read.parquet(FIXTURE).select("url", "text")
    labeled = corpus.withColumn(
        "y", (~(F.col("text").contains("lorem ipsum")
                | F.col("text").contains("function f() {"))).cast("int"))
    model = train_logreg_hashed(
        labeled, label_col="y", id_col="url", buckets=4096,
        max_words=200, iterations=6, lr=2.0,
        class_weights=(50.0, 1.0), binary=True)
    j = (score_logreg(labeled, model, id_col="url")
         .join(labeled.select("url", "y"), "url"))
    agg = j.agg(
        F.avg((F.col("pred") == F.col("y")).cast("double")).alias("acc"),
        F.sum(((F.col("y") == 0) & (F.col("pred") == 0)).cast("int"))
        .alias("junk_caught"),
        F.sum((F.col("y") == 0).cast("int")).alias("junk_total"),
    ).collect()[0]
    assert agg.acc >= 0.99
    assert agg.junk_caught == agg.junk_total > 0
