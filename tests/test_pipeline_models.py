# -*- coding: utf-8 -*-
"""Trained-model stages of classify_corpus (corpus/pipeline.py):
``kenlm_model``/``kenlm_ppl_max`` (the CCNet LM-perplexity filter) and
``quality_model``/``quality_min_p`` (the FineWeb-Edu model-based
quality filter).  Signal-only by default; thresholds add the
``lm_perplexity`` / ``model_quality`` drop reasons without disturbing
the reasons of documents already dropped upstream.
"""
import pytest
from pyspark.sql import functions as F

from metacrafter_spark.corpus.kenlm import train_kn_bigram
from metacrafter_spark.corpus.pipeline import classify_corpus
from metacrafter_spark.corpus.webpages import synth_webpages
from metacrafter_spark.ops.quality_classifier import train_logreg_hashed

JUNK = " buy cheap pills casino bonus click here winner" * 4


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_webpages(spark, 60, seed=3, partitions=4) \
        .select("url", "text").persist()


def test_kenlm_signal_only(spark, corpus):
    m = train_kn_bigram(corpus.withColumnRenamed("url", "doc_id"),
                        vocab_size=2048)
    base = classify_corpus(corpus)
    assert "kn_ppl" not in base.columns  # default plan byte-stable
    out = classify_corpus(corpus, kenlm_model=m)
    rows = out.select("url", "kn_ppl", "keep", "drop_reason").collect()
    assert all(r["kn_ppl"] is not None and r["kn_ppl"] > 0 for r in rows)
    # signal-only: keep/drop identical to the default path
    got = {r["url"]: (r["keep"], r["drop_reason"]) for r in rows}
    want = {r["url"]: (r["keep"], r["drop_reason"])
            for r in base.select("url", "keep", "drop_reason").collect()}
    assert got == want


def test_kenlm_threshold_drops(spark, corpus):
    m = train_kn_bigram(corpus.withColumnRenamed("url", "doc_id"),
                        vocab_size=2048)
    base_kept = {r["url"] for r in classify_corpus(corpus)
                 .filter("keep").select("url").collect()}
    assert base_kept  # the fixture must exercise the kept path
    # ppl = exp(-avg logp) > 1 always; a 0.5 bar drops every doc that
    # reaches the LM stage, while upstream drop reasons are untouched
    out = classify_corpus(corpus, kenlm_model=m, kenlm_ppl_max=0.5)
    rows = {r["url"]: r["drop_reason"]
            for r in out.select("url", "drop_reason").collect()}
    assert all(rows[u] == "lm_perplexity" for u in base_kept)
    base_reasons = {r["url"]: r["drop_reason"]
                    for r in classify_corpus(corpus)
                    .select("url", "drop_reason").collect()}
    for u, reason in base_reasons.items():
        if reason is not None:
            assert rows[u] == reason  # upstream reasons win unchanged


@pytest.fixture(scope="module")
def junked(spark, corpus):
    # every even-id page gets an unmistakable junk payload; y=0 marks it
    flag = (F.regexp_extract("url", r"/article/(\d+)$", 1)
            .cast("long") % 2 == 0)
    return (corpus
            .withColumn("text", F.when(flag, F.concat(
                F.col("text"), F.lit(JUNK))).otherwise(F.col("text")))
            .withColumn("y", (~flag).cast("int"))
            .persist())


def test_quality_model_threshold(spark, junked):
    m = train_logreg_hashed(junked, label_col="y", id_col="url",
                            buckets=4096, iterations=6, binary=True)
    docs = junked.select("url", "text")
    base = classify_corpus(docs)
    assert "q_model_p" not in base.columns
    out = classify_corpus(docs, quality_model=m, quality_min_p=0.5)
    rows = {r["url"]: (r["q_model_p"], r["drop_reason"], r["keep"])
            for r in out.select("url", "q_model_p", "drop_reason",
                                "keep").collect()}
    assert all(v[0] is not None for v in rows.values())
    truth = {r["url"]: r["y"] for r in junked.select("url", "y").collect()}
    base_state = {r["url"]: (r["keep"], r["drop_reason"])
                  for r in base.select("url", "keep",
                                       "drop_reason").collect()}
    for u, (p, reason, keep) in rows.items():
        b_keep, b_reason = base_state[u]
        if truth[u] == 0 and b_keep:
            # junk that the heuristics kept: the model catches it
            assert reason == "model_quality" and not keep
        if truth[u] == 1:
            # clean pages keep their default-path verdict exactly
            assert (keep, reason) == (b_keep, b_reason)


def test_quality_model_signal_only(spark, junked):
    m = train_logreg_hashed(junked, label_col="y", id_col="url",
                            buckets=4096, iterations=6, binary=True)
    docs = junked.select("url", "text")
    out = classify_corpus(docs, quality_model=m)  # no threshold
    base = classify_corpus(docs)
    got = {r["url"]: (r["keep"], r["drop_reason"])
           for r in out.select("url", "keep", "drop_reason").collect()}
    want = {r["url"]: (r["keep"], r["drop_reason"])
            for r in base.select("url", "keep", "drop_reason").collect()}
    assert got == want
    assert "q_model_p" in out.columns


def test_duplicate_url_captures_score_independently(spark, corpus):
    """Two captures of one url (a revisit) must keep exactly two rows
    and each must carry the score of ITS text — not a fan-out, not a
    blended score of both captures' grams."""
    m = train_kn_bigram(corpus.withColumnRenamed("url", "doc_id"),
                        vocab_size=2048)
    one = corpus.limit(1).collect()[0]
    dup = spark.createDataFrame(
        [(one["url"], one["text"]),
         (one["url"], one["text"] + " zq zq unusual rareword tokens")],
        "url string, text string")
    both = corpus.filter(F.col("url") != one["url"]).unionByName(dup)
    out = classify_corpus(both, kenlm_model=m)
    assert out.count() == corpus.count() + 1  # no fan-out
    rows = out.filter(F.col("url") == one["url"]) \
        .select("text", "kn_ppl").collect()
    assert len(rows) == 2
    # per-text scores match scoring the two texts under distinct ids
    from metacrafter_spark.corpus.kenlm import score_kn_bigram
    solo = spark.createDataFrame(
        [(i, r["text"]) for i, r in enumerate(rows)],
        "doc_id long, text string")
    want = {r2["text"]: s["ppl"] for r2, s in zip(
        rows, score_kn_bigram(solo, m).orderBy("doc_id").collect())}
    for r in rows:
        assert r["kn_ppl"] == pytest.approx(want[r["text"]], rel=1e-12)


def test_langid_model_signal_columns(spark, corpus):
    from metacrafter_spark.corpus.langid_ft import train_langid_ft
    from metacrafter_spark.corpus.pipeline import classify_corpus

    labeled = spark.createDataFrame(
        [(0, "en", "the quick brown fox jumps over the lazy dog"),
         (1, "en", "all work and no play makes a dull day today"),
         (2, "fr", "le renard brun saute par dessus le chien"),
         (3, "fr", "tout le travail et pas de jeu du jour")],
        "doc_id int, lang string, text string")
    m = train_langid_ft(labeled, buckets=512, iterations=2, lr=8.0)
    out = classify_corpus(corpus, langid_model=m)
    rows = out.select("url", "ft_lang", "ft_score",
                      "keep", "drop_reason").collect()
    assert all(r["ft_lang"] in ("en", "fr") for r in rows)
    assert all(r["ft_score"] is not None for r in rows)
    # signal-only: keep/drop identical to the default path
    base = {r["url"]: (r["keep"], r["drop_reason"])
            for r in classify_corpus(corpus)
            .select("url", "keep", "drop_reason").collect()}
    assert {r["url"]: (r["keep"], r["drop_reason"])
            for r in rows} == base


def test_two_model_pipelines_keep_their_own_caches(spark, corpus):
    """Each model-scored pipeline hands its persisted score source to
    its caller as ``score_cache``.  Building a second pipeline in the
    same session must not release the first one's cache (a process-wide
    release list used to unpersist it), and releasing one cache leaves
    the other in place."""
    from pyspark.storagelevel import StorageLevel

    m = train_kn_bigram(corpus.withColumnRenamed("url", "doc_id"),
                        vocab_size=2048)
    a = classify_corpus(corpus, kenlm_model=m)
    # another input: plan-identical score sources share one cache entry
    b = classify_corpus(corpus.filter("url NOT LIKE '%7'"), kenlm_model=m)
    try:
        assert a.score_cache is not None and b.score_cache is not None
        assert a.score_cache.storageLevel != StorageLevel.NONE
        assert b.score_cache.storageLevel != StorageLevel.NONE
        want = {r["url"]: r["kn_ppl"]
                for r in a.select("url", "kn_ppl").collect()}
        b.score_cache.unpersist(blocking=True)
        assert a.score_cache.storageLevel != StorageLevel.NONE
        assert {r["url"]: r["kn_ppl"]
                for r in a.select("url", "kn_ppl").collect()} == want
    finally:
        a.score_cache.unpersist()
        b.score_cache.unpersist()
    assert classify_corpus(corpus).score_cache is None
