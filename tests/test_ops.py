"""Tests for dedup / similarity / textstats / multimodal operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from metacrafter_spark.ops.dedup import (
    dedup_by_pairs,
    exact_dedup,
    near_dup_pairs_minhash,
    simhash_near_dups,
    with_minhash,
)
from metacrafter_spark.ops.multimodal import extract_features, sample_frames, synth_media
from metacrafter_spark.ops.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    lsh_topk,
    topk_join,
)
from metacrafter_spark.ops.textstats import with_text_stats

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the green forest near the old river bank every morning")


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(40):
        text = BASE + f" extra tail number {i}"
        rows.append((i, text))
    # exact duplicates of doc 0
    rows.append((100, BASE + " extra tail number 0"))
    # near duplicate of doc 1 (one word changed)
    rows.append((101, BASE.replace("quick", "swift") + " extra tail number 1"))
    # unrelated doc
    rows.append((102, "completely different content about astrophysics and "
                      "galactic rotation curves measured with radio telescopes "
                      "during long winter nights at the observatory"))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, ["text"], "doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert 100 not in ids and 0 in ids
    assert 101 in ids  # near-dup, not exact


def test_minhash_near_dups(docs):
    pairs = near_dup_pairs_minhash(docs, "doc_id", threshold=0.6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 100) in got
    assert (1, 101) in got
    assert all(102 not in p for p in got)
    deduped = dedup_by_pairs(docs, "doc_id", pairs)
    ids = {r.doc_id for r in deduped.collect()}
    assert 100 not in ids and 101 not in ids and 102 in ids


def test_minhash_sha_twin_matches_prod_semantics(docs):
    """The DuckDB-reproducible sha256-min family must find the same
    high-similarity pairs as the xxhash64 prod path on the fixture."""
    from metacrafter_spark.ops.dedup import near_dup_pairs_minhash_sha

    pairs = near_dup_pairs_minhash_sha(docs, "doc_id", threshold=0.6,
                                       n_hashes=12, bands=6, rows=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 100) in got      # exact duplicate: every band collides
    assert all(102 not in p for p in got)
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert jac[(0, 100)] == 1.0


def test_minhash_deterministic(docs):
    s1 = with_minhash(docs.repartition(1)).select("doc_id", "minhash").collect()
    s2 = with_minhash(docs.repartition(5)).select("doc_id", "minhash").collect()
    assert {r.doc_id: r.minhash for r in s1} == {r.doc_id: r.minhash for r in s2}


def test_connected_components_and_cluster_dedup(spark, docs):
    from metacrafter_spark.ops.dedup import connected_components, dedup_by_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (3, 9)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 8: 1, 9: 1, 5: 5, 6: 5}
    # chain semantics: A-B, B-C keeps only A (pair-drop would too here,
    # but the cluster id is the canonical doc even without direct edges)
    base = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 5, 6, 7, 8, 9)],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup_by_clusters(base, "doc_id", pairs).collect()}
    assert kept == {1, 5, 7}


def test_split_words_unicode_cross_engine(spark):
    """WORD_SPLIT tokenizes every script identically in Java regex
    (Spark), RE2 (DuckDB) and Python re — and non-Latin text tokenizes
    at all (``\\W+`` is ASCII-only in Java/RE2, so ru/ar/el/hi docs
    used to produce ZERO tokens and bypass the dedup layer)."""
    import re

    import duckdb

    from metacrafter_spark.ops.dedup import WORD_SPLIT, split_words

    texts = [
        "Для правительство как — система, был поездка! 42 раз",
        "مرحبا بالعالم، هذا نصٌ عربي 123",
        "你好，世界。これは日本語です 2024年",
        "Hello, world_x: naïve café ÆØÅ 3.14",
        "Ελληνικά κείμενο؛ עברית טקסט",
        "हिन्दी पाठ और देवनागरी 7",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(split_words(F.col("text"))).collect()]
    for t, sp in zip(texts, got):
        dd = duckdb.sql(
            "SELECT list_filter(string_split_regex(lower(?), "
            f"'{WORD_SPLIT}'), x -> length(x) > 0)", params=[t]
        ).fetchone()[0]
        py = [w for w in re.split(r"[^\w]+", t.lower()) if w]
        assert sp == dd == py, (t, sp, dd, py)
        assert len(sp) > 0


def test_cluster_dedup_prefer_col(spark):
    from metacrafter_spark.ops.dedup import dedup_by_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (3, 9)],
        "id_a long, id_b long",
    )
    # cluster {1,2,3,8,9}: max score 7.0 held by BOTH 3 and 8 → tie
    # breaks to min id 3; cluster {5,6}: scores all NULL → min id 5;
    # 7 is in no pair → always kept; NULL (id 9) ranks below non-NULL.
    base = spark.createDataFrame(
        [(1, 2.0), (2, 5.0), (3, 7.0), (5, None), (6, None),
         (7, 1.0), (8, 7.0), (9, None)],
        "doc_id long, q double",
    )
    kept = {r["doc_id"]
            for r in dedup_by_clusters(base, "doc_id", pairs,
                                       prefer_col="q").collect()}
    assert kept == {3, 5, 7}
    # deterministic across partitionings
    kept2 = {r["doc_id"]
             for r in dedup_by_clusters(base.repartition(7), "doc_id",
                                        pairs.repartition(3),
                                        prefer_col="q").collect()}
    assert kept2 == kept


def test_connected_components_star_matches_label(spark):
    from metacrafter_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (3, 9)],
        "id_a long, id_b long",
    )
    label = {(r["id"], r["component"])
             for r in connected_components(pairs).collect()}
    star = {(r["id"], r["component"])
            for r in connected_components(pairs, algorithm="star").collect()}
    assert star == label


def test_connected_components_deep_chain(spark):
    """Diameter ≫ max_iter: min-label must refuse (not silently return
    wrong labels); the star variant converges in O(log² n) rounds."""
    from metacrafter_spark.ops.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=10)
    comp = connected_components(chain, max_iter=25, algorithm="star").collect()
    assert {r["id"] for r in comp} == set(range(61))
    assert all(r["component"] == 0 for r in comp)


def test_simhash_near_dups(docs):
    pairs = simhash_near_dups(docs, "doc_id", max_distance=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 100) in got  # identical text → distance 0
    assert all(102 not in p for p in got)


def _embeddings(spark, n=60, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((4, dim))
    rows = []
    for i in range(n):
        v = base[i % 4] + rng.standard_normal(dim) * 0.05
        rows.append((i, [float(x) for x in v]))
    # a clone of vec 0 for near-dup detection
    rows.append((1000, rows[0][1]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    emb = _embeddings(spark)
    q = emb.filter("vec_id = 0").first()["embedding"]
    top = brute_force_topk(emb, list(q), k=5).collect()
    assert top[0]["vec_id"] in (0, 1000) and top[0]["cosine"] > 0.999
    assert len(top) == 5
    assert all(top[i]["cosine"] >= top[i + 1]["cosine"] for i in range(4))


def test_lsh_topk_recall(spark):
    emb = _embeddings(spark, n=200)
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = topk_join(queries, emb, k=5)
    approx = lsh_topk(queries, emb, dim=16, k=5, bits=6, multiprobe=1)
    e = {(r.qid, r.vec_id) for r in exact.collect()}
    a = {(r.qid, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall  # multi-probe covers Hamming-1 buckets
    # single-bucket probing is strictly weaker or equal
    single = lsh_topk(queries, emb, dim=16, k=5, bits=6, multiprobe=0)
    s = {(r.qid, r.vec_id) for r in single.collect()}
    assert len(e & s) <= len(e & a)


def test_ivf_topk_recall(spark):
    from metacrafter_spark.ops.similarity import ivf_topk, train_ivf_centroids

    emb = _embeddings(spark, n=200)
    cents = train_ivf_centroids(emb, nlist=8, sample=256, seed=42)
    # deterministic: same inputs → same centroids
    assert cents == train_ivf_centroids(emb, nlist=8, sample=256, seed=42)
    queries = emb.filter("vec_id < 4").select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = topk_join(queries, emb, k=5)
    approx = ivf_topk(queries, emb, cents, k=5, nprobe=4)
    e = {(r.qid, r.vec_id) for r in exact.collect()}
    a = {(r.qid, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4 natural clusters, 8 cells, 4 probes → same-cluster cells covered
    assert recall >= 0.9, recall
    # per-query result is a proper ranked top-k
    by_q = {}
    for r in approx.collect():
        by_q.setdefault(r.qid, []).append((r.rank, r.cosine))
    for ranks in by_q.values():
        ranks.sort()
        assert [r for r, _ in ranks] == list(range(1, len(ranks) + 1))
        assert all(ranks[i][1] >= ranks[i + 1][1] for i in range(len(ranks) - 1))


def test_cosine_near_dup(spark):
    emb = _embeddings(spark)
    pairs = cosine_near_dup_pairs(emb, threshold=0.999, bits=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1000) in got


def test_text_stats(spark, docs):
    out = with_text_stats(docs).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].n_tokens_ws == len((BASE + " extra tail number 0").split())
    assert by_id[0].n_tokens_subword >= by_id[0].n_tokens_ws
    assert 0.0 <= by_id[0].quality_score <= 1.0
    assert by_id[0].quality_score > by_id[102].quality_score * 0.5
    # identical docs → identical fingerprint; near-dup → also equal under
    # winnowing is not guaranteed, but exact dup must match
    assert by_id[0].fingerprint == by_id[100].fingerprint
    assert by_id[0].fingerprint != by_id[102].fingerprint


def test_multimodal_real_codecs(spark):
    from metacrafter_spark.ops.multimodal import (
        MEDIA_SCHEMA,
        block_resize,
        decode_ppm,
        decode_video,
        decode_wav,
        resize_images,
    )

    media = synth_media(spark, 30).cache()
    # every synth payload decodes FOR REAL — strict mode must succeed
    feats = extract_features(media, strict=True).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 64 for r in feats)
    # deterministic: same content → same features
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in feats)

    # image round-trip: decoded shape matches the metadata columns for
    # BOTH containers (synth_media alternates PPM and PNG payloads)
    from metacrafter_spark.ops.png_codec import decode_png

    imgs = media.filter("kind = 'image'").collect()
    assert {r.mime for r in imgs} == {"image/x-portable-pixmap", "image/png"}
    for row in imgs:
        data = bytes(row.content)
        dec = decode_png(data) if data[:4] == b"\x89PNG"[:4] else decode_ppm(data)
        assert dec.shape == (row.height, row.width, 3)
    img = next(decode_ppm(bytes(r.content)) for r in imgs
               if bytes(r.content).startswith(b"P6"))
    # WAV round-trip: sample count matches duration at 16 kHz
    arow = media.filter("kind = 'audio'").first()
    samples = decode_wav(bytes(arow.content))
    assert len(samples) == int(16000 * arow.duration_ms / 1000)
    # video: real frames inside
    vrow = media.filter("kind = 'video'").first()
    assert all(f.shape == (16, 16, 3) for f in decode_video(bytes(vrow.content)))

    # resize: real pixels out, exact requested shape, same container out
    rs = resize_images(media, out_w=8, out_h=8).collect()
    assert rs
    for r in rs:
        data = bytes(r.content)
        dec = decode_png(data) if data[:4] == b"\x89PNG"[:4] else decode_ppm(data)
        assert dec.shape == (8, 8, 3)
    assert block_resize(img, 8, 8).shape == (8, 8, 3)

    # frame sampling yields decodable PPM frames
    frames = sample_frames(media).collect()
    assert frames and all(bytes(r.frame).startswith(b"P6") for r in frames)

    # unknown codecs keep the stub boundary: strict raises, lax falls back
    unknown = spark.createDataFrame(
        [(900, "image", "image/png", None, None, None,
          bytearray(b"\x89PNG\r\n\x1a\n fake"))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|PIL/ffmpeg"):
        extract_features(unknown, strict=True).collect()
    lax = extract_features(unknown, strict=False).collect()
    assert len(lax) == 1 and len(lax[0].feature) == 64


def test_dup_span_stats(spark):
    from metacrafter_spark.ops.dedup import dup_span_stats

    # d1/d2 share their first 6 words (4 shared 3-grams); d3 is unique;
    # d4 is shorter than the span (whole-doc gram fallback); d5 is empty.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta one two three"),
        (2, "alpha beta gamma delta epsilon zeta nine ten eleven"),
        (3, "completely different words with no overlap at all here"),
        (4, "tiny doc"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in dup_span_stats(df, "doc_id", "text", span_words=3).collect()}
    # 9 words -> 7 positional 3-grams, all distinct in these texts
    assert got[1]["n_spans"] == 7 and got[2]["n_spans"] == 7
    # shared prefix "alpha beta gamma delta epsilon zeta" -> 4 shared 3-grams
    assert got[1]["n_dup_spans"] == 4 and got[2]["n_dup_spans"] == 4
    assert got[1]["dup_span_frac"] == round(4 / 7, 4)
    assert got[3]["n_dup_spans"] == 0 and got[3]["dup_span_frac"] == 0.0
    assert got[4]["n_spans"] == 1 and got[4]["n_dup_spans"] == 0  # whole-doc gram
    assert 5 not in got  # zero words -> no spans -> no row

    # counts are exact -> invariant under partitioning; sha256 family
    # (the oracle twin's key space) produces identical counts
    re_part = dup_span_stats(df.repartition(7), "doc_id", "text", span_words=3)
    assert {tuple(r) for r in re_part.collect()} == {tuple(r) for r in got.values()}
    sha = dup_span_stats(df, "doc_id", "text", span_words=3, hash_family="sha256")
    assert {tuple(r) for r in sha.collect()} == {tuple(r) for r in got.values()}


def test_decontaminate(spark):
    from metacrafter_spark.ops.decontam import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains bench 3-grams "quick brown fox", "brown fox jumps"
            (1, "a quick brown fox jumps high"),
            (2, "nothing in common with evaluation data whatsoever"),
            (3, "dog"),   # shorter than n -> whole-doc gram, not in bench
            (4, ""),      # zero words -> no row
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert got[1]["n_grams"] == 4 and got[1]["n_hit"] == 2
    assert got[1]["overlap_frac"] == 0.5 and got[1]["contaminated"] is True
    assert got[2]["n_hit"] == 0 and got[2]["contaminated"] is False
    assert got[3]["n_grams"] == 1 and got[3]["n_hit"] == 0
    assert 4 not in got

    # partitioning invariance (exact counts)
    re_part = decontaminate(corpus.repartition(5), bench.repartition(3), n=3)
    assert {tuple(r) for r in re_part.collect()} == {tuple(r) for r in got.values()}


def test_hash_sample_deterministic(spark):
    from metacrafter_spark.ops.sampling import hash_sample

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s1 = sorted(r["doc_id"] for r in hash_sample(df, "doc_id", 0.2, seed=3).collect())
    # same rows regardless of partitioning / repeated runs
    s2 = sorted(r["doc_id"] for r in
                hash_sample(df.repartition(13), "doc_id", 0.2, seed=3).collect())
    assert s1 == s2 and len(s1) > 0
    # roughly the requested fraction (binomial tolerance)
    assert 0.15 < len(s1) / 5000 < 0.25
    # different seed -> different (deterministic) set
    s3 = sorted(r["doc_id"] for r in hash_sample(df, "doc_id", 0.2, seed=4).collect())
    assert s3 != s1
    # fraction edge cases
    assert hash_sample(df, "doc_id", 0.0).count() == 0
    assert hash_sample(df, "doc_id", 1.0).count() == 5000
    import pytest as _pt
    with _pt.raises(ValueError):
        hash_sample(df, "doc_id", 1.5)


def test_stratified_quota_sample(spark):
    from pyspark.sql import functions as F
    from metacrafter_spark.ops.sampling import stratified_quota_sample

    df = (spark.range(0, 3000).withColumnRenamed("id", "doc_id")
          .withColumn("src", (F.col("doc_id") % 4).cast("string")))
    # stratum "3" truncated to be smaller than the quota
    df = df.filter(~((F.col("src") == "3") & (F.col("doc_id") > 40)))
    out = stratified_quota_sample(df, "src", "doc_id", quota=50, seed=1)
    got = out.groupBy("src").count().collect()
    by_src = {r["src"]: r["count"] for r in got}
    assert by_src["0"] == by_src["1"] == by_src["2"] == 50
    assert by_src["3"] == 10  # only 10 rows exist (3,7,11,...,39)
    # schema passthrough: helper columns dropped
    assert set(out.columns) == {"doc_id", "src"}
    # deterministic across partitionings
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, stratified_quota_sample(
        df.repartition(17), "src", "doc_id", quota=50, seed=1).collect()))
    assert a == b
    # the selected ids are exactly the quota smallest hashes per stratum
    from metacrafter_spark.ops.sampling import _id_hash
    hashed = df.withColumn("__h", _id_hash("doc_id", 1)).collect()
    import collections
    strata = collections.defaultdict(list)
    for r in hashed:
        strata[r["src"]].append((r["__h"], r["doc_id"]))
    expect = set()
    for src, rows in strata.items():
        for _, did in sorted(rows)[:50]:
            expect.add((did, src))
    assert {(r["doc_id"], r["src"]) for r in out.collect()} == expect


def test_budget_mix(spark):
    from pyspark.sql import functions as F
    from metacrafter_spark.ops.sampling import budget_mix

    df = (spark.range(0, 2000).withColumnRenamed("id", "doc_id")
          .withColumn("src", (F.col("doc_id") % 3).cast("string"))
          .withColumn("w", F.lit(100)))
    # each stratum ~667 rows * 100 = ~66700 weight; budget 20000 -> ~30%
    out = budget_mix(df, "src", "doc_id", "w", 20000.0, seed=2)
    kept = out.groupBy("src").agg(F.sum("w").alias("kw")).collect()
    for r in kept:
        assert 12000 < r["kw"] < 28000  # expected 20000, binomial noise
    # budget above total -> everything kept
    assert budget_mix(df, "src", "doc_id", "w", 1e9).count() == 2000
    # per-stratum dict: absent stratum passes through whole
    out2 = budget_mix(df, "src", "doc_id", "w", {"0": 10000.0}, seed=2)
    c = {r["src"]: r["count"] for r in out2.groupBy("src").count().collect()}
    assert c["1"] == 667 and c["2"] == 666  # absent from dict -> whole stratum
    assert c["0"] < 300  # ~15% of stratum 0 (10000 / ~66700)
    # deterministic across partitionings
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in budget_mix(
        df.repartition(11), "src", "doc_id", "w", 20000.0, seed=2).collect())
    assert a == b


def test_temperature_mix(spark):
    import pytest
    from pyspark.sql import functions as F
    from metacrafter_spark.ops.sampling import temperature_mix

    # skewed sources: 1600 / 300 / 100 rows of weight 100
    df = (spark.range(0, 2000).withColumnRenamed("id", "doc_id")
          .withColumn("src",
                      F.when(F.col("doc_id") < 1600, "big")
                      .when(F.col("doc_id") < 1900, "mid")
                      .otherwise(F.lit("small")))
          .withColumn("w", F.lit(100)))
    # T=1: natural proportions — kept weight per stratum ∝ its size
    t1 = temperature_mix(df, "src", "doc_id", "w",
                         total_budget=50000.0, seed=3)
    kw1 = {r["src"]: r["kw"] for r in
           t1.groupBy("src").agg(F.sum("w").alias("kw")).collect()}
    assert kw1["big"] > kw1["mid"] > kw1.get("small", 0)
    assert 30000 < kw1["big"] < 50000  # expected 40000, binomial noise
    # high T flattens: budgets approach uniform (~16.7k each) — the
    # small stratum keeps everything (budget > its 10k weight), mid
    # and big are both clamped to ~budget regardless of natural share
    t5 = temperature_mix(df, "src", "doc_id", "w",
                         total_budget=50000.0, temperature=100.0,
                         seed=3)
    kw5 = {r["src"]: r["kw"] for r in
           t5.groupBy("src").agg(F.sum("w").alias("kw")).collect()}
    assert kw5["small"] == 10000          # whole stratum kept
    assert 12000 < kw5["mid"] < 21500     # ~16.6k budget + noise
    assert 12000 < kw5["big"] < 21500     # ~16.9k budget + noise
    assert kw5["big"] < kw1["big"]
    # deterministic across partitionings
    a = sorted(r["doc_id"] for r in t1.collect())
    b = sorted(r["doc_id"] for r in temperature_mix(
        df.repartition(13), "src", "doc_id", "w",
        total_budget=50000.0, seed=3).collect())
    assert a == b
    with pytest.raises(ValueError):
        temperature_mix(df, "src", "doc_id", "w",
                        total_budget=1.0, temperature=0.0)


def test_normalize_text(spark):
    from metacrafter_spark.ops.textstats import normalize_text

    rows = [
        (1, "cafe\u0301 du  monde"),   # decomposed -> composed + collapse
        (2, "\thello\x07world\r\n"),          # ctrl strip joins words; edge trim
        (3, "a\x0bb  c"),                     # \x0b is ctrl (stripped), not ws
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text_norm"] for r in normalize_text(df).collect()}
    assert got[1] == "café du monde"
    assert got[2] == "helloworld"
    assert got[3] == "ab c"
    assert got[4] is None
    assert got[5] == ""
    # partitioning invariance (pure per-string function)
    re_part = {r["doc_id"]: r["text_norm"]
               for r in normalize_text(df.repartition(4)).collect()}
    assert re_part == got


def test_url_domain_ops(spark):
    from metacrafter_spark.ops.urls import (
        domain_blocklist_filter,
        with_url_parts,
    )

    rows = [
        (1, "https://WWW.Example.COM/path?q=1"),
        (2, "http://user:pw@sub.shop.co.uk:8080/x"),
        (3, "https://a.b.news.com.au/y#frag"),
        (4, "ftp://localhost/file"),
        (5, "not a url at all"),
        (6, "https://blocked.org/z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    parts = {r["doc_id"]: r for r in with_url_parts(df).collect()}
    assert parts[1]["host"] == "www.example.com"
    assert parts[1]["domain"] == "example.com"
    assert parts[2]["host"] == "sub.shop.co.uk"      # userinfo+port stripped
    assert parts[2]["domain"] == "shop.co.uk"        # ccTLD second level
    assert parts[3]["domain"] == "news.com.au"
    assert parts[4]["host"] == "localhost" and parts[4]["domain"] == "localhost"
    assert parts[5]["host"] == ""                    # malformed -> ''
    kept = domain_blocklist_filter(with_url_parts(df), ["Blocked.org"])
    ids = {r["doc_id"] for r in kept.collect()}
    assert 6 not in ids and 1 in ids and len(ids) == 5


def test_with_cluster_and_diversity_sample(spark):
    from metacrafter_spark.ops.similarity import diversity_sample, with_cluster

    emb = _embeddings(spark, n=120)  # 4 natural clusters + clone of vec 0
    # centroids = one normalized member of each cluster
    rows = {r["vec_id"]: list(r["embedding"]) for r in
            emb.filter("vec_id < 4").collect()}
    cents = []
    for i in range(4):
        v = np.asarray(rows[i], dtype=np.float64)
        cents.append([float(x) for x in v / np.linalg.norm(v)])
    clustered = with_cluster(emb, cents)
    got = {r["vec_id"]: r["cluster"] for r in clustered.collect()}
    # members were generated as base[i % 4] + small noise -> cluster i % 4
    assert all(got[i] == i % 4 for i in range(120)), got
    assert got[1000] == 0  # the clone of vec 0
    # quota sampling: at most 10 per cluster, deterministic
    sampled = diversity_sample(emb, cents, quota=10, seed=3)
    counts = {r["cluster"]: r["count"]
              for r in sampled.groupBy("cluster").count().collect()}
    assert all(c == 10 for c in counts.values()) and len(counts) == 4
    again = diversity_sample(emb.repartition(9), cents, quota=10, seed=3)
    assert sorted(map(tuple, sampled.select("vec_id", "cluster").collect())) == \
           sorted(map(tuple, again.select("vec_id", "cluster").collect()))


def test_hash_sample_huge_ids_no_overflow(spark):
    """Ids beyond 2^31 (guaranteed at 10^12-row scale) must neither
    overflow int64 in the multiply nor diverge from the SQL replay."""
    import duckdb

    from metacrafter_spark.ops.sampling import hash_sample

    big = 3 * (10 ** 12)
    df = spark.range(big, big + 2000).withColumnRenamed("id", "doc_id")
    got = sorted(r["doc_id"] for r in hash_sample(df, "doc_id", 0.25, seed=7).collect())
    assert 300 < len(got) < 700  # ~25%
    con = duckdb.connect()
    oracle = con.execute(
        "SELECT doc_id FROM range(%d, %d) t(doc_id) "
        "WHERE (((doc_id %% 2147483648 + 7) %% 2147483648) * 2654435761) %% 4294967296 "
        "      < CAST(floor(0.25 * 4294967296) AS BIGINT) "
        "ORDER BY doc_id" % (big, big + 2000)
    ).fetchall()
    assert got == [r[0] for r in oracle]


def test_registered_domain_ipv4_passthrough(spark):
    from metacrafter_spark.ops.urls import with_url_parts

    df = spark.createDataFrame(
        [(1, "http://192.168.0.1:8080/admin"), (2, "https://10.0.0.1/x")],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: r["domain"] for r in with_url_parts(df).collect()}
    assert got[1] == "192.168.0.1" and got[2] == "10.0.0.1"


def test_canonicalize_url(spark):
    from pyspark.sql import functions as F

    from metacrafter_spark.ops.urls import canonicalize_url

    cases = [
        # scheme+host case, default port, fragment
        ("HTTP://WWW.Example.COM:80/a/B?x=1#frag",
         "http://www.example.com/a/B?x=1"),
        # https default port stripped, non-default kept
        ("HTTPS://a.com:443/p", "https://a.com/p"),
        ("https://a.com:8443/p", "https://a.com:8443/p"),
        # empty path → /, empty query dropped
        ("https://a.com", "https://a.com/"),
        ("https://a.com?", "https://a.com/"),
        # query params sorted, tracking params stripped
        ("https://a.com/p?z=2&a=1&utm_source=tw&fbclid=X&m=0",
         "https://a.com/p?a=1&m=0&z=2"),
        # ONLY tracking params → no query at all
        ("https://a.com/p?utm_campaign=c&gclid=g", "https://a.com/p"),
        # userinfo preserved, host still lowercased
        ("https://User@B.COM/x", "https://User@b.com/x"),
        # path case preserved (paths are case-sensitive)
        ("https://a.com/CaseSensitive", "https://a.com/CaseSensitive"),
        # non-URL passes through unchanged
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", canonicalize_url("url").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)
    # idempotent: canonicalizing a canonical URL is a no-op
    df2 = spark.createDataFrame(
        [(i, c) for i, (_, c) in enumerate(cases)], "i long, url string")
    got2 = {r["i"]: r["c"] for r in df2.select(
        "i", canonicalize_url("url").alias("c")).collect()}
    assert got2 == {i: c for i, (_, c) in enumerate(cases)}


def test_with_readability(spark):
    from metacrafter_spark.ops.textstats import with_readability

    rows = [
        (1, "The cat sat. The dog ran fast!"),
        (2, ""),
        (3, "word"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_readability(df).collect()}
    r1 = got[1]
    assert r1["read_words"] == 7 and r1["read_sentences"] == 2
    # the(1) cat(1) sat(1) the(1) dog(1) ran(1) fast(1) = 7 vowel groups
    assert r1["read_syllables"] == 7
    import math
    ease = 206.835 - 1.015 * (7 / 2) - 84.6 * (7 / 7)
    assert math.isclose(r1["read_ease"], round(ease, 4))
    assert got[2]["read_words"] == 0 and got[2]["read_ease"] == 0.0
    assert got[3]["read_sentences"] == 1  # min 1


def test_with_compression_ratio(spark):
    from metacrafter_spark.ops.textstats import with_compression_ratio

    rows = [
        (1, "abc " * 500),                      # highly repetitive
        (2, "The quick brown fox jumps over the lazy dog near a riverbank "
            "while distant thunder rolls across unexpected autumn valleys."),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["compression_ratio"]
           for r in with_compression_ratio(df).collect()}
    assert got[1] < 0.05                       # boilerplate compresses away
    assert 0.3 < got[2] < 1.1                  # natural prose does not
    assert got[3] == 1.0 and got[4] is None
    re_part = {r["doc_id"]: r["compression_ratio"]
               for r in with_compression_ratio(df.repartition(3)).collect()}
    assert re_part == got                      # deterministic


def test_remove_dup_spans(spark):
    from metacrafter_spark.ops.dedup import remove_dup_spans

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, shared + " one two three"),
        (2, shared + " four five six"),
        (3, "totally different text with no overlap whatsoever here"),
        (4, "tiny doc"),   # shorter than the span -> nothing to remove
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           remove_dup_spans(df, "doc_id", "text", span_words=5).collect()}
    # the shared 5-token prefix is excised from both docs
    assert got[1]["text_dedup"] == "one two three"
    assert got[2]["text_dedup"] == "four five six"
    assert got[1]["n_removed"] == 5 and got[1]["n_tokens"] == 8
    # untouched docs rejoin their tokens unchanged
    assert got[3]["text_dedup"] == rows[2][1]
    assert got[3]["n_removed"] == 0
    assert got[4]["text_dedup"] == "tiny doc" and got[4]["n_removed"] == 0
    assert got[5]["text_dedup"] == "" and got[5]["n_tokens"] == 0
    # partitioning invariance
    again = {r["doc_id"]: r["text_dedup"] for r in
             remove_dup_spans(df.repartition(7), "doc_id", "text",
                              span_words=5).collect()}
    assert again == {k: v["text_dedup"] for k, v in got.items()}
    # overlapping windows: a 6-token shared run removes all 6 tokens
    rows2 = [(1, "a b c d e f tailone x"), (2, "a b c d e f tailtwo y")]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    got2 = {r["doc_id"]: r for r in
            remove_dup_spans(df2, "doc_id", "text", span_words=5).collect()}
    assert got2[1]["text_dedup"] == "tailone x"
    assert got2[1]["n_removed"] == 6


def test_cosine_near_dup_hot_bucket_guard(spark):
    """A hot bucket (1k identical embeddings) must be dropped by the
    max_bucket broadcast count-filter rather than exploding the
    self-join quadratically; pairs below the cap are unchanged."""
    from pyspark.sql import functions as F

    emb = _embeddings(spark)  # 61 vectors, incl. the (0, 1000) clone pair
    hot = spark.range(10_000, 11_000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 16).cast("array<float>").alias("embedding"),
    )
    both = emb.unionByName(hot)
    guarded = cosine_near_dup_pairs(both, threshold=0.999, bits=4,
                                    max_bucket=500)
    got = {(r.id_a, r.id_b) for r in guarded.collect()}
    # the 1000-identical bucket (499,500 potential pairs) is dropped...
    assert not any(a >= 10_000 for a, _ in got)
    # ...while pairs in sane buckets are unchanged vs the unguarded run
    base = {(r.id_a, r.id_b) for r in
            cosine_near_dup_pairs(emb, threshold=0.999, bits=4).collect()}
    assert got == base
    assert (0, 1000) in got
    # raising the cap above the hot-bucket size readmits it
    readmitted = cosine_near_dup_pairs(both, threshold=0.999, bits=4,
                                       max_bucket=2000)
    n_hot = readmitted.filter("id_a >= 10000").count()
    assert n_hot == 1000 * 999 // 2


def test_ivf_centroids_broadcast(spark):
    """ivf_cell_udf accepts a Broadcast handle; assignments identical to
    the closure-captured path, incl. at production-ish nlist=10^4."""
    import numpy as np
    from metacrafter_spark.ops.similarity import (
        broadcast_centroids, ivf_cell_udf, train_ivf_centroids, with_cluster,
    )

    emb = _embeddings(spark, n=120)
    cents = train_ivf_centroids(emb, nlist=8, sample=64, seed=3)
    bc = broadcast_centroids(spark, cents)
    a = {r["vec_id"]: r["cluster"]
         for r in with_cluster(emb, cents).collect()}
    b = {r["vec_id"]: r["cluster"]
         for r in with_cluster(emb, bc).collect()}
    assert a == b and len(set(a.values())) > 1
    # nlist = 10^4 smoke: a 10^4 x 16 centroid matrix rides the torrent
    # broadcast, not every task closure
    rng = np.random.default_rng(11)
    big = [[float(x) for x in row] for row in rng.standard_normal((10_000, 16))]
    bc_big = broadcast_centroids(spark, big)
    out = with_cluster(emb, bc_big).select("cluster").distinct().count()
    assert out > 1
    bc.destroy(); bc_big.destroy()


def test_sampling_null_strata_and_big_seed(spark):
    from pyspark.sql import functions as F
    from metacrafter_spark.ops.sampling import (
        budget_mix, hash_sample, stratified_quota_sample,
    )

    df = (spark.range(0, 900).withColumnRenamed("id", "doc_id")
          .withColumn("src", F.when(F.col("doc_id") % 3 == 0, None)
                      .otherwise((F.col("doc_id") % 3).cast("string")))
          .withColumn("w", F.lit(10)))
    # NULL strata form their own stratum instead of silently vanishing
    out = stratified_quota_sample(df, "src", "doc_id", quota=40, seed=1)
    by = {r["src"]: r["count"] for r in out.groupBy("src").count().collect()}
    assert by == {None: 40, "1": 40, "2": 40}
    assert set(out.columns) == {"doc_id", "src", "w"}
    mixed = budget_mix(df, "src", "doc_id", "w", 1e9, seed=0)
    assert mixed.count() == 900  # nothing dropped by the join
    scoped = budget_mix(df, "src", "doc_id", "w", {"1": 500.0}, seed=0)
    c = {r["src"]: r["count"] for r in scoped.groupBy("src").count().collect()}
    assert c[None] == 300 and c["2"] == 300 and c["1"] < 150
    # seed >= 1.3e9 must not overflow int64 (ANSI mode would raise);
    # and it must equal the reduced-seed run (seed mod 2^31)
    big_seed = (7 << 31) + 12345
    a = sorted(r["doc_id"] for r in
               hash_sample(df, "doc_id", 0.3, seed=big_seed).collect())
    b = sorted(r["doc_id"] for r in
               hash_sample(df, "doc_id", 0.3, seed=12345).collect())
    assert a == b and 150 < len(a) < 400
    # overflow REGION: seed residue ~2^31-1 plus ids near 2^31 puts the
    # pre-fix sum at ~4.29e9, whose product with 2654435761 exceeds
    # int64 — the pmod-of-the-sum form must stay exact and match a
    # pure-Python big-int replay of the same arithmetic
    hot_seed = (1 << 31) - 7          # residue 2147483641 >= 1.33e9
    hot = (spark.range((1 << 31) - 450, (1 << 31) + 450)
           .withColumnRenamed("id", "doc_id"))
    got = sorted(r["doc_id"] for r in
                 hash_sample(hot, "doc_id", 0.25, seed=hot_seed).collect())
    want = [i for i in range((1 << 31) - 450, (1 << 31) + 450)
            if ((i % (1 << 31) + hot_seed % (1 << 31)) % (1 << 31)
                * 2654435761) % (1 << 32) < int(0.25 * (1 << 32))]
    assert got == want and len(got) > 0


def test_png_codec_round_trip_and_errors():
    import zlib as _z

    import numpy as np
    from metacrafter_spark.ops.png_codec import decode_png, encode_png

    rng = np.random.default_rng(7)
    # every color layout × every filter type the spec defines
    for shape in [(5, 9), (7, 4, 3), (6, 6, 4), (3, 8, 2)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for ft in range(5):
            back = decode_png(encode_png(img, filter_type=ft))
            assert back.shape == img.shape and (back == img).all(), (shape, ft)
    # error paths: signature, chunk CRC, truncated IDAT
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    good = bytearray(encode_png(rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)))
    good[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(good))
    # 16-bit / Adam7 decode for real since round 5; truly invalid
    # combinations still raise
    import struct as _s

    def chunk(t, p):
        return _s.pack(">I", len(p)) + t + p + _s.pack(
            ">I", _z.crc32(t + p) & 0xFFFFFFFF)

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr16 = _s.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    idat = chunk(b"IDAT", _z.compress(b"\x00" * (2 * (2 * 3 * 2 + 1))))
    got16 = decode_png(sig + chunk(b"IHDR", ihdr16) + idat
                       + chunk(b"IEND", b""))
    assert got16.dtype == np.uint16 and got16.shape == (2, 2, 3)
    adam7 = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    # Adam7 2x2 RGB: passes 1 (1px), 6 (1px), 7 (one 2px row)
    a7_idat = chunk(b"IDAT", _z.compress(
        b"\x00" + b"\x11\x22\x33"          # pass 1: (0,0)
        + b"\x00" + b"\x44\x55\x66"        # pass 6: (1,0)
        + b"\x00" + b"\x77\x88\x99\xaa\xbb\xcc"))  # pass 7: row y=1
    a7 = decode_png(sig + chunk(b"IHDR", adam7) + a7_idat
                    + chunk(b"IEND", b""))
    assert tuple(a7[0, 0]) == (0x11, 0x22, 0x33)
    assert tuple(a7[0, 1]) == (0x44, 0x55, 0x66)
    assert tuple(a7[1, 0]) == (0x77, 0x88, 0x99)
    assert tuple(a7[1, 1]) == (0xAA, 0xBB, 0xCC)
    bad_depth = _s.pack(">IIBBBBB", 2, 2, 3, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(sig + chunk(b"IHDR", bad_depth) + idat + chunk(b"IEND", b""))
    low_rgb = _s.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)  # 4-bit RGB invalid
    with pytest.raises(ValueError, match="color type"):
        decode_png(sig + chunk(b"IHDR", low_rgb) + idat + chunk(b"IEND", b""))


def test_png_java_imageio_interop(spark):
    """Two-way conformance against the JDK's independent PNG
    implementation (javax.imageio, bundled with Spark's JVM) — the same
    evidence pattern the Avro codec uses with the bundled avro jar."""
    import numpy as np
    from metacrafter_spark.ops.png_codec import decode_png, encode_png

    jvm = spark._jvm
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)

    # ours → ImageIO.read: identical pixels
    data = encode_png(img, filter_type=4)  # exercise Paeth on the way out
    bais = jvm.java.io.ByteArrayInputStream(bytearray(data))
    bimg = jvm.javax.imageio.ImageIO.read(bais)
    assert bimg.getWidth() == 7 and bimg.getHeight() == 9
    for y in range(9):
        for x in range(7):
            argb = bimg.getRGB(x, y) & 0xFFFFFF
            r, g, b = img[y, x]
            assert argb == (int(r) << 16) | (int(g) << 8) | int(b), (x, y)

    # ImageIO.write → ours: identical pixels
    bimg2 = jvm.java.awt.image.BufferedImage(5, 4, 1)  # TYPE_INT_RGB
    img2 = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    for y in range(4):
        for x in range(5):
            r, g, b = img2[y, x]
            bimg2.setRGB(x, y, (int(r) << 16) | (int(g) << 8) | int(b))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bimg2, "png", baos)
    back = decode_png(bytes(baos.toByteArray()))
    if back.ndim == 3 and back.shape[2] == 4:
        back = back[:, :, :3]
    assert (back == img2).all()


def _java_jpeg_gray(jvm, img):
    h, w = img.shape
    b = jvm.java.awt.image.BufferedImage(w, h, 10)  # TYPE_BYTE_GRAY
    raster = b.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(img[y, x]))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(b, "jpg", baos)
    return bytes(baos.toByteArray())


def _java_jpeg_rgb(jvm, img, progressive=False):
    h, w = img.shape[:2]
    b = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
    for y in range(h):
        for x in range(w):
            r, g, bl = img[y, x]
            b.setRGB(x, y, (int(r) << 16) | (int(g) << 8) | int(bl))
    baos = jvm.java.io.ByteArrayOutputStream()
    if not progressive:
        assert jvm.javax.imageio.ImageIO.write(b, "jpg", baos)
        return bytes(baos.toByteArray())
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    out = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(out)
    writer.write(None, jvm.javax.imageio.IIOImage(b, None, None), param)
    out.flush()
    return bytes(baos.toByteArray())


def test_jpeg_decoder_conformance_vs_java_imageio(spark):
    """Baseline JPEG decode vs the JDK's independent implementation.
    T.81 Annex A permits small IDCT variance between conforming
    decoders, so grayscale (no chroma path) must agree within ±1 and
    RGB (JDK writer subsamples chroma; upsampling filters differ)
    within a small mean error."""
    import numpy as np
    from metacrafter_spark.ops.jpeg_codec import decode_jpeg

    jvm = spark._jvm
    g = np.add.outer(np.arange(24) * 7, np.arange(17) * 9).astype(np.uint8)
    data = _java_jpeg_gray(jvm, g)
    ours = decode_jpeg(data)
    bimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(data)))
    r2 = bimg.getRaster()
    theirs = np.array([[r2.getSample(x, y, 0) for x in range(17)]
                       for y in range(24)], dtype=np.uint8)
    assert ours.shape == (24, 17)
    assert int(np.abs(ours.astype(int) - theirs.astype(int)).max()) <= 1

    yy, xx = np.mgrid[0:20, 0:30]
    rgb = np.stack([(yy * 8) % 256, (xx * 5) % 256, ((yy + xx) * 3) % 256],
                   axis=2).astype(np.uint8)
    d2 = _java_jpeg_rgb(jvm, rgb)
    o2 = decode_jpeg(d2)
    bimg2 = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(d2)))
    t2 = np.zeros((20, 30, 3), np.uint8)
    for y in range(20):
        for x in range(30):
            v = bimg2.getRGB(x, y)
            t2[y, x] = [(v >> 16) & 255, (v >> 8) & 255, v & 255]
    diff = np.abs(o2.astype(float) - t2.astype(float))
    assert o2.shape == (20, 30, 3)
    assert diff.mean() < 3.0 and diff.max() <= 16, (diff.mean(), diff.max())

    # progressive JPEG (SOF2, round 5): decoded for real now.  The
    # multi-scan coefficient reconstruction must be IDENTICAL to the
    # sequential one (same encoder, same quantized coefficients), so
    # the progressive decode must match the sequential decode exactly —
    # a much tighter bar than the ±JDK tolerance.
    d3 = _java_jpeg_rgb(jvm, rgb, progressive=True)
    assert b"\xff\xc2" in d3  # really SOF2
    o3 = decode_jpeg(d3)
    assert np.array_equal(o3, o2)  # progressive ≡ sequential, bit-exact
    diff3 = np.abs(o3.astype(float) - t2.astype(float))
    assert o3.shape == (20, 30, 3)
    assert diff3.mean() < 3.0 and diff3.max() <= 16, (diff3.mean(), diff3.max())
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")


def test_multimodal_jpeg_path(spark):
    """JPEG payloads flow through extract_features / resize_images for
    real (strict mode succeeds; resize re-encodes lossless PNG)."""
    import numpy as np
    from metacrafter_spark.ops.multimodal import (
        MEDIA_SCHEMA, extract_features, resize_images,
    )
    from metacrafter_spark.ops.png_codec import decode_png

    yy, xx = np.mgrid[0:16, 0:16]
    rgb = np.stack([yy * 10, xx * 10, yy + xx], axis=2).astype(np.uint8)
    data = _java_jpeg_rgb(spark._jvm, rgb)
    df = spark.createDataFrame(
        [(1, "image", "image/jpeg", 16, 16, None, bytearray(data))],
        MEDIA_SCHEMA,
    )
    feats = extract_features(df, strict=True).collect()
    assert len(feats) == 1 and len(feats[0].feature) == 64
    rs = resize_images(df, out_w=4, out_h=4, strict=True).collect()
    assert decode_png(bytes(rs[0].content)).shape == (4, 4, 3)


def test_gif_bmp_decoders_conformance_vs_java(spark):
    """GIF (LZW, palette) and BMP (BI_RGB) decode pixel-exact against
    the JDK's javax.imageio on ImageIO-written files; malformed inputs
    and out-of-scope variants raise."""
    import numpy as np
    from metacrafter_spark.ops.gif_bmp_codec import (
        decode_bmp, decode_gif, decode_gif_frames,
    )

    jvm = spark._jvm

    def jwrite(img, fmt):
        h, w = img.shape[:2]
        b = jvm.java.awt.image.BufferedImage(w, h, 1)
        for y in range(h):
            for x in range(w):
                r, g, bl = img[y, x]
                b.setRGB(x, y, (int(r) << 16) | (int(g) << 8) | int(bl))
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(b, fmt, baos)
        return bytes(baos.toByteArray())

    rng = np.random.default_rng(5)
    # few distinct colors → GIF's palette quantizer is lossless
    img = (rng.integers(0, 4, (13, 19, 3)) * 80).astype(np.uint8)
    gif = jwrite(img, "gif")
    assert (decode_gif(gif) == img).all()
    assert len(decode_gif_frames(gif)) == 1

    img2 = rng.integers(0, 256, (9, 14, 3), dtype=np.uint8)
    bmp = jwrite(img2, "bmp")
    assert (decode_bmp(bmp) == img2).all()

    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"JIF89a not really")
    with pytest.raises(ValueError, match="signature"):
        decode_bmp(b"MB backwards")
    # RLE decodes for real since round 5 (test_bmp_rle_and_low_bpp);
    # a compression/bpp mismatch and unknown compressions still raise
    import struct as _s
    rle = bytearray(bmp)
    _s.pack_into("<I", rle, 30, 1)          # RLE8 claimed on a 24-bpp file
    with pytest.raises(ValueError, match="matching bpp"):
        decode_bmp(bytes(rle))
    _s.pack_into("<I", rle, 30, 6)          # BI_ALPHABITFIELDS: unsupported
    with pytest.raises(NotImplementedError, match="compression"):
        decode_bmp(bytes(rle))


def test_multimodal_gif_bmp_paths(spark):
    """GIF/BMP flow through extract_features / resize_images /
    sample_frames for real in strict mode — incl. animated-GIF frame
    sampling built from a hand-assembled 2-frame GIF89a stream."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.gif_bmp_codec import decode_gif_frames
    from metacrafter_spark.ops.multimodal import (
        MEDIA_SCHEMA, decode_ppm, extract_features, resize_images,
        sample_frames,
    )
    from metacrafter_spark.ops.png_codec import decode_png

    # hand-assemble an animated GIF: 2×2 canvas, global 4-color table,
    # two frames (uncompressed-friendly tiny LZW streams)
    def lzw_encode_trivial(indices, min_code=2):
        # emit each index as its own code with CLEAR first (valid, small)
        clear, eoi, width = 1 << min_code, (1 << min_code) + 1, min_code + 1
        bits = []
        def put(code, w):
            for i in range(w):
                bits.append((code >> i) & 1)
        put(clear, width)
        # table grows as we emit; width bumps exactly like the decoder's
        next_code = eoi + 1
        for ix in indices:
            put(ix, width)
            if next_code < 4096:
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
        put(eoi, width)
        by = bytearray()
        for i in range(0, len(bits), 8):
            by.append(sum(b << j for j, b in enumerate(bits[i:i + 8])))
        return bytes(by)

    gct = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 0])
    def frame(indices):
        lzw = lzw_encode_trivial(indices)
        return (b"\x2c" + _s.pack("<HHHHB", 0, 0, 2, 2, 0)
                + bytes([2, len(lzw)]) + lzw + b"\x00")
    gif = (b"GIF89a" + _s.pack("<HHBBB", 2, 2, 0x91, 0, 0) + gct
           + frame([0, 1, 2, 3]) + frame([3, 2, 1, 0]) + b"\x3b")
    frames = decode_gif_frames(gif)
    assert len(frames) == 2
    assert tuple(frames[0][0, 0]) == (255, 0, 0)
    assert tuple(frames[1][0, 0]) == (255, 255, 0)

    df = spark.createDataFrame(
        [(1, "video", "image/gif", 2, 2, 2000, bytearray(gif))],
        MEDIA_SCHEMA,
    )
    got = sample_frames(df, every_ms=1000, strict=True).collect()
    assert len(got) == 2
    assert decode_ppm(bytes(got[0].frame)).shape == (2, 2, 3)

    # BMP through features + resize (JDK-written)
    jvm = spark._jvm
    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    b = jvm.java.awt.image.BufferedImage(16, 16, 1)
    for y in range(16):
        for x in range(16):
            r, g, bl = img[y, x]
            b.setRGB(x, y, (int(r) << 16) | (int(g) << 8) | int(bl))
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.javax.imageio.ImageIO.write(b, "bmp", baos)
    bmp = bytes(baos.toByteArray())
    mdf = spark.createDataFrame(
        [(2, "image", "image/bmp", 16, 16, None, bytearray(bmp))],
        MEDIA_SCHEMA,
    )
    feats = extract_features(mdf, strict=True).collect()
    assert len(feats) == 1 and len(feats[0].feature) == 64
    rs = resize_images(mdf, out_w=4, out_h=4, strict=True).collect()
    assert decode_png(bytes(rs[0].content)).shape == (4, 4, 3)


def test_multimodal_truncated_payloads_follow_fallback(spark):
    """Web-crawled images are routinely truncated mid-stream.  The
    decoders raise struct.error / IndexError there (unpack past
    end-of-data, block walker off the end) — every media path must
    route those through the strict/fallback contract instead of
    crashing the Spark task (round-4 ADVICE)."""
    from metacrafter_spark.ops.multimodal import (
        MEDIA_SCHEMA, _PNG_SIG, extract_features, resize_images,
        sample_frames,
    )

    truncated = [
        # PNG cut inside IHDR: _chunks unpacks length/CRC past the end
        (1, "image", "image/png", 8, 8, None,
         bytearray(_PNG_SIG + b"\x00\x00\x00\x0dIHDR\x00\x00")),
        # GIF cut right after the header: data[pos] walks off the end
        (2, "image", "image/gif", 4, 4, None,
         bytearray(b"GIF89a\x04\x00\x04\x00")),
        # JPEG cut inside the first marker segment
        (3, "image", "image/jpeg", 4, 4, None,
         bytearray(b"\xff\xd8\xff\xe0\x00\x10JF")),
        # BMP with a header promising more pixels than present
        (4, "image", "image/bmp", 4, 4, None, bytearray(b"BM\x36\x00")),
    ]
    df = spark.createDataFrame(truncated, MEDIA_SCHEMA)
    # lax mode: hash-fallback features, content passthrough — no crash
    feats = extract_features(df, strict=False).collect()
    assert len(feats) == 4 and all(len(r.feature) == 64 for r in feats)
    rs = {r.media_id: bytes(r.content)
          for r in resize_images(df, strict=False).collect()}
    assert rs == {r[0]: bytes(r[6]) for r in truncated}  # passthrough
    # strict mode: honest NotImplementedError from the fallback gate,
    # not a raw struct.error/IndexError out of the UDF
    import pytest as _pt
    from py4j.protocol import Py4JJavaError
    with _pt.raises((Py4JJavaError, Exception)) as ei:
        extract_features(df, strict=True).collect()
    assert "NotImplementedError" in str(ei.value)

    # corrupt animated GIF through sample_frames: valid signature, body
    # truncated mid-image-descriptor → digest fallback rows, not an
    # IndexError/struct.error crash
    bad_gif = (b"GIF89a" + b"\x02\x00\x02\x00\x91\x00\x00"
               + bytes(12) + b"\x2c" + bytes(4))
    vdf = spark.createDataFrame(
        [(9, "video", "image/gif", 2, 2, 3000, bytearray(bad_gif))],
        MEDIA_SCHEMA,
    )
    rows = sample_frames(vdf, every_ms=1000, strict=False).collect()
    assert len(rows) == 3 and all(len(bytes(r.frame)) == 32 for r in rows)


def test_jpeg_progressive_decoder_stress(spark):
    """Progressive (SOF2) decode across the shapes web JPEGs actually
    take: grayscale (±1 vs the JDK — no chroma path), larger 4:2:0
    color with hard edges (stresses EOB runs + AC refinement), odd
    non-multiple-of-MCU dimensions.  Every progressive decode must also
    equal its sequential twin bit-exactly (same encoder → same
    quantized coefficients; only the entropy coding differs)."""
    import numpy as np
    from metacrafter_spark.ops.jpeg_codec import decode_jpeg

    jvm = spark._jvm

    def write(img, progressive, gray=False, quality=0.85):
        h, w = img.shape[:2]
        b = jvm.java.awt.image.BufferedImage(w, h, 10 if gray else 1)
        if gray:
            r = b.getRaster()
            for y in range(h):
                for x in range(w):
                    r.setSample(x, y, 0, int(img[y, x]))
        else:
            for y in range(h):
                for x in range(w):
                    rr, gg, bb = img[y, x]
                    b.setRGB(x, y, (int(rr) << 16) | (int(gg) << 8) | int(bb))
        wi = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "jpeg").next()
        p = wi.getDefaultWriteParam()
        p.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(quality)
        if progressive:
            p.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        wi.setOutput(ios)
        wi.write(None, jvm.javax.imageio.IIOImage(b, None, None), p)
        ios.flush()
        return bytes(baos.toByteArray())

    # grayscale, odd dims: scan machinery without the chroma path
    yy, xx = np.mgrid[0:41, 0:53]
    g = ((xx * 7 + yy * 3) % 256).astype(np.uint8)
    dp = write(g, True, gray=True, quality=0.9)
    assert b"\xff\xc2" in dp
    ours = decode_jpeg(dp)
    bimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(dp)))
    r2 = bimg.getRaster()
    theirs = np.array([[r2.getSample(x, y, 0) for x in range(53)]
                       for y in range(41)], dtype=np.uint8)
    assert ours.shape == (41, 53)
    assert int(np.abs(ours.astype(int) - theirs.astype(int)).max()) <= 1
    assert np.array_equal(ours, decode_jpeg(write(g, False, gray=True,
                                                  quality=0.9)))

    # 4:2:0 color with hard edges + gradients, two quality levels
    yy, xx = np.mgrid[0:40, 0:56]
    img = np.zeros((40, 56, 3), np.uint8)
    img[..., 0] = (xx * 4) % 256
    img[..., 1] = (yy * 5) % 256
    img[..., 2] = ((xx + yy) * 3) % 256
    img[10:20, 10:30] = [255, 0, 0]
    for q in (0.7, 0.95):
        seq = decode_jpeg(write(img, False, quality=q))
        prog = decode_jpeg(write(img, True, quality=q))
        assert np.array_equal(seq, prog), f"quality {q}"


def test_png_adam7_and_depths_vs_java_imageio(spark):
    """Round-5 PNG depth/interlace coverage vs the JDK's independent
    implementation: Adam7-interlaced RGB (ImageIO progressive mode),
    16-bit gray (exact uint16), 16-bit + Adam7 combined, and 1-bit
    binary (scaled to 0/255 per the spec's sample scaling)."""
    import numpy as np
    from metacrafter_spark.ops.png_codec import decode_png

    jvm = spark._jvm

    def write(img, t, progressive=False):
        h, w = img.shape[:2]
        b = jvm.java.awt.image.BufferedImage(w, h, t)
        r = b.getRaster()
        if img.ndim == 2:
            for y in range(h):
                for x in range(w):
                    r.setSample(x, y, 0, int(img[y, x]))
        else:
            for y in range(h):
                for x in range(w):
                    for c in range(img.shape[2]):
                        r.setSample(x, y, c, int(img[y, x, c]))
        wi = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
            "png").next()
        p = wi.getDefaultWriteParam()
        if progressive:
            p.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        wi.setOutput(ios)
        wi.write(None, jvm.javax.imageio.IIOImage(b, None, None), p)
        ios.flush()
        return bytes(baos.toByteArray())

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (21, 13, 3), dtype=np.uint8)
    data = write(img, 1, progressive=True)          # TYPE_INT_RGB
    assert data[8 + 8 + 12] == 1                    # interlace byte set
    assert np.array_equal(decode_png(data), img)

    g16 = rng.integers(0, 65536, (9, 17), dtype=np.uint16)
    got16 = decode_png(write(g16, 11))              # TYPE_USHORT_GRAY
    assert got16.dtype == np.uint16 and np.array_equal(got16, g16)
    assert np.array_equal(decode_png(write(g16, 11, progressive=True)), g16)

    b1 = rng.integers(0, 2, (10, 11)).astype(np.uint8)
    assert np.array_equal(decode_png(write(b1, 12)), b1 * 255)  # BYTE_BINARY

    # 16-bit PNGs flow through extract_features (high-byte reduction)
    from metacrafter_spark.ops.multimodal import MEDIA_SCHEMA, extract_features
    df = spark.createDataFrame(
        [(1, "image", "image/png", 17, 9, None, bytearray(write(g16, 11)))],
        MEDIA_SCHEMA)
    feats = extract_features(df, strict=True).collect()
    assert len(feats) == 1 and len(feats[0].feature) == 64


def test_bmp_rle_and_low_bpp(spark):
    """Round-5 BMP coverage: BI_RLE8 conformance against a JDK-written
    file (encoded runs + absolute mode, the OpenJDK encoder emits
    both), a hand-built BI_RLE4 exercising runs / absolute / delta /
    EOL / EOB escapes, and 4-bpp/1-bpp uncompressed palette images."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.gif_bmp_codec import decode_bmp

    jvm = spark._jvm
    h, w = 13, 17
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 8, (h, w)).astype(np.uint8)
    idx[3:7, :] = 5                       # flat runs → real RLE output
    rs = bytearray((i * 7) % 256 for i in range(256))
    gs = bytearray((i * 13) % 256 for i in range(256))
    bs = bytearray((i * 29) % 256 for i in range(256))
    icm = jvm.java.awt.image.IndexColorModel(8, 256, rs, gs, bs)
    BI = jvm.java.awt.image.BufferedImage
    im = BI(w, h, BI.TYPE_BYTE_INDEXED, icm)
    r = im.getRaster()
    for y in range(h):
        for x in range(w):
            r.setSample(x, y, 0, int(idx[y, x]))
    wi = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("bmp").next()
    p = wi.getDefaultWriteParam()
    p.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType("BI_RLE8")
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    wi.setOutput(ios)
    wi.write(None, jvm.javax.imageio.IIOImage(im, None, None), p)
    ios.flush()
    data = bytes(baos.toByteArray())
    assert _s.unpack_from("<I", data, 30)[0] == 1          # really BI_RLE8
    pal = np.stack([np.frombuffer(bytes(b), np.uint8)
                    for b in (rs, gs, bs)], axis=1)
    assert np.array_equal(decode_bmp(data), pal[idx])

    # hand-built BI_RLE4, 6x3 bottom-up: every escape type
    def bmp(comp, bpp, w_, h_, pal_rgb, pix):
        n = len(pal_rgb)
        pal_bytes = b"".join(bytes([b_, g_, r_, 0]) for r_, g_, b_ in pal_rgb)
        off = 14 + 40 + len(pal_bytes)
        hdr = (b"BM" + _s.pack("<IHHI", off + len(pix), 0, 0, off)
               + _s.pack("<IiiHHIIiiII", 40, w_, h_, 1, bpp, comp,
                         len(pix), 0, 0, n, 0))
        return hdr + pal_bytes + pix
    pal4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    rle4 = bytes([
        4, 0x01,          # run of 4 px alternating 0,1 → 0 1 0 1
        0, 3, 0x23, 0x20, # absolute 3 px: 2 3 2 (padded to word)
        0, 0,             # EOL
        0, 2, 2, 1,       # delta +2x +1y (skips row 1 and 2 cols of row 2)
        3, 0x33,          # 3 px of 3 → at row 2, x=2..4
        0, 1,             # EOB
    ])
    got = decode_bmp(bmp(2, 4, 6, 3, pal4, rle4))
    p4 = np.array(pal4, np.uint8)
    # expected indices in FILE order (row 0 = bottom): run 0101 +
    # absolute 232 (3rd px at x=6 clips), EOL to row 1, delta +2x+1y to
    # (2, row 2), run of three 3s; untouched pixels stay index 0
    eidx = np.zeros((3, 6), np.uint8)
    eidx[0] = [0, 1, 0, 1, 2, 3]
    eidx[2, 2:5] = 3
    assert np.array_equal(got, p4[eidx][::-1])

    # 1-bpp and 4-bpp uncompressed hand-built
    rows1 = bytes([0b10110000, 0, 0, 0]) + bytes([0b01000000, 0, 0, 0])
    got1 = decode_bmp(bmp(0, 1, 4, 2, [(0, 0, 0), (255, 255, 255)], rows1))
    e1 = np.array([[0, 1, 0, 0], [1, 0, 1, 1]], np.uint8)  # top row after flip
    assert np.array_equal(got1, np.array([(0, 0, 0), (255, 255, 255)],
                                         np.uint8)[e1])
    rows4 = bytes([0x01, 0x23, 0, 0])
    got4 = decode_bmp(bmp(0, 4, 4, 1, pal4, rows4))
    assert np.array_equal(got4[0], p4[[0, 1, 2, 3]])


def test_bmp_bitfields_565(spark):
    """BI_BITFIELDS 16-bpp (5-6-5 masks) decodes EXACTLY against the
    JDK's read of its own BI_BITFIELDS write — channel masks located,
    shifted, and expanded with the JDK's rounded scaling convention;
    odd widths exercise the row padding."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.gif_bmp_codec import decode_bmp

    jvm = spark._jvm
    h, w = 9, 15
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    BI = jvm.java.awt.image.BufferedImage
    im = BI(w, h, BI.TYPE_USHORT_565_RGB)
    for y in range(h):
        for x in range(w):
            rr, gg, bb = img[y, x]
            im.setRGB(x, y, (int(rr) << 16) | (int(gg) << 8) | int(bb))
    wi = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("bmp").next()
    p = wi.getDefaultWriteParam()
    p.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionType("BI_BITFIELDS")
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    wi.setOutput(ios)
    wi.write(None, jvm.javax.imageio.IIOImage(im, None, None), p)
    ios.flush()
    data = bytes(baos.toByteArray())
    assert _s.unpack_from("<I", data, 30)[0] == 3      # really bitfields
    assert _s.unpack_from("<H", data, 28)[0] == 16
    ours = decode_bmp(data)
    bimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(data))
    exp = np.zeros((h, w, 3), np.uint8)
    for y in range(h):
        for x in range(w):
            v = bimg.getRGB(x, y)
            exp[y, x] = [(v >> 16) & 255, (v >> 8) & 255, v & 255]
    assert np.array_equal(ours, exp)


def test_bmp_core_header_os2(spark):
    """OS/2 BITMAPCOREHEADER BMPs (round 5): 16-bit dims, RGBTRIPLE
    palette, always bottom-up.  Hand-assembled v2 files (8-bpp palette
    and 24-bpp truecolor) decode to the planted pixels AND pixel-exact
    against the JDK's independent read of the same bytes."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.gif_bmp_codec import decode_bmp

    rng = np.random.default_rng(11)

    def core_bmp(bpp, w, h, pal, pixdata):
        pal_bytes = b"".join(bytes([b, g, r]) for r, g, b in pal)
        pix_off = 14 + 12 + len(pal_bytes)
        body = (_s.pack("<IHHHH", 12, w, h, 1, bpp) + pal_bytes + pixdata)
        return (b"BM" + _s.pack("<IHHI", 14 + len(body), 0, 0, pix_off)
                + body)

    def jread(data):
        bimg = spark._jvm.javax.imageio.ImageIO.read(
            spark._jvm.java.io.ByteArrayInputStream(bytearray(data)))
        assert bimg is not None, "JDK rejected the core-header BMP"
        hh, ww = bimg.getHeight(), bimg.getWidth()
        out = np.zeros((hh, ww, 3), np.uint8)
        for y in range(hh):
            for x in range(ww):
                v = bimg.getRGB(x, y)
                out[y, x] = [(v >> 16) & 255, (v >> 8) & 255, v & 255]
        return out

    # 8-bpp palette, w=5 (stride pads 5 → 8), h=3, bottom-up rows
    pal = [tuple(int(c) for c in rng.integers(0, 256, 3))
           for _ in range(256)]
    idx = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    rows = b"".join(bytes(idx[y]) + b"\x00\x00\x00" for y in (2, 1, 0))
    data8 = core_bmp(8, 5, 3, pal, rows)
    exp8 = np.array([[pal[i] for i in r] for r in idx], np.uint8)
    assert np.array_equal(decode_bmp(data8), exp8)
    assert np.array_equal(decode_bmp(data8), jread(data8))

    # 24-bpp truecolor, odd width exercises padding; no palette
    img = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)
    stride_pad = b"\x00" * ((4 - (3 * 3) % 4) % 4)
    rows24 = b"".join(
        b"".join(bytes([int(b), int(g), int(r)]) for r, g, b in img[y])
        + stride_pad
        for y in (3, 2, 1, 0))
    data24 = core_bmp(24, 3, 4, [], rows24)
    assert np.array_equal(decode_bmp(data24), img)
    assert np.array_equal(decode_bmp(data24), jread(data24))

    # invalid core bpp still raises
    with pytest.raises(ValueError, match="BITMAPCOREHEADER"):
        decode_bmp(core_bmp(16, 2, 2, [], b"\x00" * 16))


def test_gif_disposal_methods():
    """Animated-GIF disposal (round 5): method 2 restores the frame
    rect to the BACKGROUND color before the next frame composites;
    method 3 restores the pre-frame canvas; 0/1 leave in place."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.gif_bmp_codec import decode_gif_frames

    def lzw_trivial(indices, min_code=2):
        # CLEAR before every symbol: the table never grows, so the code
        # width stays min_code+1 — valid LZW, repeat-friendly
        clear, eoi, width = 1 << min_code, (1 << min_code) + 1, min_code + 1
        bits = []
        def put(code):
            for i in range(width):
                bits.append((code >> i) & 1)
        for ix in indices:
            put(clear)
            put(ix)
        put(eoi)
        by = bytearray()
        for i in range(0, len(bits), 8):
            by.append(sum(b << j for j, b in enumerate(bits[i:i + 8])))
        return bytes(by)

    gct = bytes([10, 20, 30,   255, 0, 0,   0, 255, 0,   0, 0, 255])
    P = np.array([[10, 20, 30], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                 np.uint8)

    def gce(disposal):
        return bytes([0x21, 0xF9, 0x04, disposal << 2, 0, 0, 0, 0x00])

    def frame(x, y, w_, h_, indices):
        lzw = lzw_trivial(indices)
        return (b"\x2c" + _s.pack("<HHHHB", x, y, w_, h_, 0)
                + bytes([2, len(lzw)]) + lzw + b"\x00")

    # canvas 2x2, bg index 0; frame A fills all 4 px with color 1
    # (disposal 2), frame B paints only the top-left px with color 2
    hdr = b"GIF89a" + _s.pack("<HHBBB", 2, 2, 0x91, 0, 0) + gct
    gif2 = (hdr + gce(2) + frame(0, 0, 2, 2, [1, 1, 1, 1])
            + gce(0) + frame(0, 0, 1, 1, [2]) + b"\x3b")
    f = decode_gif_frames(gif2)
    assert len(f) == 2
    assert (f[0] == P[1]).all()                       # frame A all red
    assert tuple(f[1][0, 0]) == tuple(P[2])           # B's pixel
    assert (f[1][0, 1] == P[0]).all()                 # rest = BACKGROUND
    assert (f[1][1, :] == P[0]).all()

    # disposal 3: frame A color 1, frame B (disposal 3) paints color 2
    # over everything, frame C paints one px color 3 → C composites on
    # the RESTORED frame-A canvas, not on B
    gif3 = (hdr + gce(0) + frame(0, 0, 2, 2, [1, 1, 1, 1])
            + gce(3) + frame(0, 0, 2, 2, [2, 2, 2, 2])
            + gce(0) + frame(1, 1, 1, 1, [3]) + b"\x3b")
    f = decode_gif_frames(gif3)
    assert len(f) == 3
    assert (f[1] == P[2]).all()                       # B shows green
    assert tuple(f[2][1, 1]) == tuple(P[3])           # C's pixel
    assert (f[2][0, 0] == P[1]).all()                 # restored to A


def test_wav_formats_and_g711():
    """Round-5 WAV coverage: PCM 8/16/24/32, IEEE float, G.711 µ-law /
    A-law (EXACT against the stdlib's independent audioop tables on all
    256 bytes), and WAVE_FORMAT_EXTENSIBLE unwrapping."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.multimodal import (
        _alaw_expand, _mulaw_expand, decode_wav,
    )

    try:
        import audioop  # removed in 3.13 — conformance only where present
    except ImportError:
        audioop = None
    all_bytes = bytes(range(256))
    if audioop is not None:
        ref_u = np.frombuffer(audioop.ulaw2lin(all_bytes, 2), dtype="<i2")
        assert np.array_equal(
            _mulaw_expand(np.frombuffer(all_bytes, np.uint8)), ref_u)
        ref_a = np.frombuffer(audioop.alaw2lin(all_bytes, 2), dtype="<i2")
        assert np.array_equal(
            _alaw_expand(np.frombuffer(all_bytes, np.uint8)), ref_a)
    # spot values from the G.711 tables
    assert _mulaw_expand(np.array([0], np.uint8))[0] == -32124
    assert _alaw_expand(np.array([0x55], np.uint8))[0] == -8

    def wav(fmt_code, bits, payload):
        block = max(1, bits // 8)
        fmt = _s.pack("<HHIIHH", fmt_code, 1, 8000, 8000 * block, block, bits)
        ch = (b"fmt " + _s.pack("<I", len(fmt)) + fmt
              + b"data" + _s.pack("<I", len(payload)) + payload)
        return b"RIFF" + _s.pack("<I", 4 + len(ch)) + b"WAVE" + ch

    s16 = np.array([0, 1000, -1000, 32767, -32768], dtype="<i2")
    assert np.array_equal(decode_wav(wav(1, 16, s16.tobytes())), s16)
    assert decode_wav(wav(1, 8, bytes([0, 128, 255]))).tolist() == \
        [-32768, 0, 32512]
    f32 = np.array([0.0, 0.5, -1.0, 2.0], dtype="<f4")   # 2.0 clips
    assert decode_wav(wav(3, 32, f32.tobytes())).tolist() == \
        [0, 16384, -32767, 32767]
    p24 = bytes([0x56, 0x34, 0x12, 0x00, 0x00, 0x80])    # 0x123456, min
    got24 = decode_wav(wav(1, 24, p24))
    assert got24[0] == 0x1234 and got24[1] == -32768
    mw = decode_wav(wav(7, 8, all_bytes))
    assert np.array_equal(mw, _mulaw_expand(np.frombuffer(all_bytes,
                                                          np.uint8)))
    # EXTENSIBLE wrapping PCM16
    fmt = (_s.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
           + _s.pack("<HHI", 22, 16, 1)
           + _s.pack("<H", 1) + b"\x00" * 14)
    ch = (b"fmt " + _s.pack("<I", len(fmt)) + fmt
          + b"data" + _s.pack("<I", len(s16.tobytes())) + s16.tobytes())
    ext = b"RIFF" + _s.pack("<I", 4 + len(ch)) + b"WAVE" + ch
    assert np.array_equal(decode_wav(ext), s16)
    import pytest as _pt
    with _pt.raises(NotImplementedError, match="format code"):
        decode_wav(wav(0x31, 16, b"\x00\x00"))  # GSM 6.10 stays gated


def test_wav_ima_adpcm():
    """IMA/DVI ADPCM (WAV format 0x11, round 5): the step arithmetic is
    EXACT against the stdlib's independent audioop.adpcm2lin on a long
    random nibble stream (audioop packs HIGH nibble first; WAV blocks
    pack LOW first — the test repacks), and the WAV block framing
    (per-channel 4-byte headers, channel-interleaved nibble groups,
    fact-chunk trim, stereo interleave) round-trips hand-built blocks."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.multimodal import (
        _ima_adpcm_expand, _ima_adpcm_step, decode_wav,
    )

    rng = np.random.default_rng(17)

    # --- core arithmetic vs audioop on 4k nibbles from a zero state
    try:
        import audioop
    except ImportError:
        audioop = None
    nibs = rng.integers(0, 16, 4096, dtype=np.uint8)
    if audioop is not None:
        packed_high_first = bytes((int(nibs[i]) << 4) | int(nibs[i + 1])
                                  for i in range(0, len(nibs), 2))
        ref = np.frombuffer(
            audioop.adpcm2lin(packed_high_first, 2, (0, 0))[0], "<i2")
        val = np.array([0]); idx = np.array([0])
        ours = np.empty(len(nibs), np.int16)
        for i, c in enumerate(nibs):
            val, idx = _ima_adpcm_step(val, idx, np.array([int(c)]))
            ours[i] = val[0]
        assert np.array_equal(ours, ref)

    # --- WAV framing: mono, 2 blocks, 9 samples/block (1 hdr + 8 data)
    def scalar_decode(pred, index, codes):
        out = [pred]
        v = np.array([pred]); ix = np.array([index])
        for c in codes:
            v, ix = _ima_adpcm_step(v, ix, np.array([int(c)]))
            out.append(int(v[0]))
        return out

    def block(pred, index, codes):  # low nibble first, one 4-byte group
        assert len(codes) == 8
        by = bytes((int(codes[i]) | (int(codes[i + 1]) << 4))
                   for i in range(0, 8, 2))
        return _s.pack("<hBB", pred, index, 0) + by

    c1, c2 = rng.integers(0, 16, 8), rng.integers(0, 16, 8)
    body = block(100, 20, c1) + block(-7000, 60, c2)
    got = _ima_adpcm_expand(body, nch=1, block_align=8, samples_per_block=9)
    exp = scalar_decode(100, 20, c1) + scalar_decode(-7000, 60, c2)
    assert got.tolist() == exp

    # --- stereo: headers L,R then L/R alternating 4-byte groups
    cl, cr = rng.integers(0, 16, 8), rng.integers(0, 16, 8)
    def halfblock(pred, index):
        return _s.pack("<hBB", pred, index, 0)
    by_l = bytes((int(cl[i]) | (int(cl[i + 1]) << 4)) for i in range(0, 8, 2))
    by_r = bytes((int(cr[i]) | (int(cr[i + 1]) << 4)) for i in range(0, 8, 2))
    sbody = halfblock(11, 5) + halfblock(-22, 33) + by_l + by_r
    sgot = _ima_adpcm_expand(sbody, nch=2, block_align=16, samples_per_block=9)
    l, r = scalar_decode(11, 5, cl), scalar_decode(-22, 33, cr)
    assert sgot.reshape(-1, 2)[:, 0].tolist() == l
    assert sgot.reshape(-1, 2)[:, 1].tolist() == r

    # --- full WAV with fact trim (7 of 9 frames valid) + extra field
    fmt = _s.pack("<HHIIHHH H", 0x11, 1, 8000, 4000, 8, 4, 2, 9)
    ch = (b"fmt " + _s.pack("<I", len(fmt)) + fmt
          + b"fact" + _s.pack("<II", 4, 16)
          + b"data" + _s.pack("<I", len(body)) + body)
    riff = b"RIFF" + _s.pack("<I", 4 + len(ch)) + b"WAVE" + ch
    wgot = decode_wav(riff)
    assert wgot.tolist() == exp[:16]


def test_wav_ms_adpcm():
    """MS-ADPCM (WAV format 0x0002): the vectorized decoder is exact
    against an independent scalar transcription of the published
    algorithm (coefficient/adaptation tables, (s1*c1+s2*c2)>>8
    prediction, delta floor 16) on random nibble streams, and the block
    framing (per-channel 7-byte headers, HIGH-nibble-first codes,
    channel-alternating nibbles, sample2-first output, fact trim)
    round-trips hand-built mono and stereo blocks."""
    import struct as _s

    import numpy as np
    from metacrafter_spark.ops.multimodal import _ms_adpcm_expand, decode_wav

    COEF = [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
            (460, -208), (392, -232)]
    ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]

    def scalar_decode(pred_idx, delta, s1, s2, codes):
        c1, c2 = COEF[pred_idx]
        out = [s2, s1]
        for n in codes:
            signed = n - 16 if n >= 8 else n
            predicted = (s1 * c1 + s2 * c2) >> 8
            new = max(-32768, min(32767, predicted + signed * delta))
            s2, s1 = s1, new
            delta = max((ADAPT[n] * delta) >> 8, 16)
            out.append(new)
        return out

    rng = np.random.default_rng(23)

    # --- mono: 2 blocks, 4 coded samples each (block_align 7+2=9)
    def block(pred_idx, delta, s1, s2, codes):  # HIGH nibble first
        by = bytes((int(codes[i]) << 4) | int(codes[i + 1])
                   for i in range(0, len(codes), 2))
        return _s.pack("<Bhhh", pred_idx, delta, s1, s2) + by

    c1, c2 = rng.integers(0, 16, 4), rng.integers(0, 16, 4)
    body = block(1, 96, 1200, 1100, c1) + block(5, 17, -900, -1000, c2)
    got = _ms_adpcm_expand(body, nch=1, block_align=9, samples_per_block=6)
    exp = scalar_decode(1, 96, 1200, 1100, c1) \
        + scalar_decode(5, 17, -900, -1000, c2)
    assert got.tolist() == exp

    # --- stereo: headers grouped field-by-field (preds, deltas, s1s,
    # s2s), then bytes whose high nibble is LEFT, low nibble RIGHT
    cl, cr = rng.integers(0, 16, 6), rng.integers(0, 16, 6)
    hdr = bytes([2, 6]) + _s.pack("<hh", 50, 80) \
        + _s.pack("<hh", 300, -300) + _s.pack("<hh", 250, -250)
    by = bytes((int(cl[i]) << 4) | int(cr[i]) for i in range(6))
    sgot = _ms_adpcm_expand(hdr + by, nch=2, block_align=20,
                            samples_per_block=8)
    l = scalar_decode(2, 50, 300, 250, cl)
    r = scalar_decode(6, 80, -300, -250, cr)
    assert sgot.reshape(-1, 2)[:, 0].tolist() == l
    assert sgot.reshape(-1, 2)[:, 1].tolist() == r

    # --- full WAV: extensible-style extra (samples/block), fact trim
    fmt = _s.pack("<HHIIHHHH", 0x02, 1, 8000, 4000, 9, 4, 2, 6)
    ch = (b"fmt " + _s.pack("<I", len(fmt)) + fmt
          + b"fact" + _s.pack("<II", 4, 10)
          + b"data" + _s.pack("<I", len(body)) + body)
    riff = b"RIFF" + _s.pack("<I", 4 + len(ch)) + b"WAVE" + ch
    assert decode_wav(riff).tolist() == exp[:10]


# ---------------------------------------------------------------- semdedup

def test_semdedup_keeps_least_central_representative(spark):
    """Planted geometry: two tight duplicate groups near distinct
    centroids plus isolated vectors — semdedup must group each clone
    family, keep exactly the member least similar to its centroid,
    and pass isolated vectors through with keep=true."""
    from metacrafter_spark.ops.similarity import semdedup

    c0 = [1.0, 0.0, 0.0, 0.0]
    c1 = [0.0, 1.0, 0.0, 0.0]
    rows = [
        # family A: clones near c0 (ids 10-12), decreasing centrality
        (10, [1.0, 0.01, 0.0, 0.0]),
        (11, [1.0, 0.03, 0.0, 0.0]),
        (12, [1.0, 0.05, 0.0, 0.0]),
        # family B: clones near c1 (ids 20-21)
        (20, [0.02, 1.0, 0.0, 0.0]),
        (21, [0.04, 1.0, 0.0, 0.0]),
        # isolated: near c0 but orthogonal-ish to family A
        (30, [0.7, 0.0, 0.7, 0.0]),
        # isolated: near c1
        (40, [0.0, 0.6, 0.0, 0.8]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    for exact in (True, False):
        out = {r.vec_id: r for r in semdedup(
            emb, [c0, c1], threshold=0.98, exact_assign=exact).collect()}
        assert len(out) == 7
        # family A: one component, least-central member (12) kept
        assert out[10].component == out[11].component \
            == out[12].component == 10
        assert [out[i].keep for i in (10, 11, 12)] == [False, False, True]
        # family B: 21 is less central than 20
        assert out[20].component == out[21].component == 20
        assert [out[i].keep for i in (20, 21)] == [False, True]
        # isolated vectors survive as their own component
        assert out[30].keep and out[30].component == 30
        assert out[40].keep and out[40].component == 40
        # cluster assignment sane
        assert out[10].cluster == 0 and out[20].cluster == 1
        assert out[30].cluster == 0 and out[40].cluster == 1


def test_semdedup_exact_assign_matches_udf_assign(spark):
    """The JVM-fold assignment (oracle twin, cosine argmax) and the
    numpy-matmul assignment (dot argmax) agree on every vector away
    from ties — given L2-NORMALIZED centroids, the IVF contract
    (train_ivf_centroids always emits unit centroids; with unequal
    centroid norms dot- and cosine-argmax legitimately differ)."""
    import numpy as np

    from metacrafter_spark.ops.similarity import (
        assign_cluster_exact, with_cluster)

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)])
            for i in range(200)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    cents = []
    for _ in range(5):
        c = rng.normal(size=8)
        cents.append([float(x) for x in c / np.linalg.norm(c)])
    a = {r.vec_id: r.cluster
         for r in assign_cluster_exact(emb, cents).collect()}
    b = {r.vec_id: r.cluster
         for r in with_cluster(emb, cents).collect()}
    assert a == b


def test_semdedup_deterministic_across_partitionings(spark):
    import numpy as np

    from metacrafter_spark.ops.similarity import semdedup

    rng = np.random.default_rng(3)
    base = [(int(i), [float(x) for x in rng.normal(size=8)])
            for i in range(40)]
    clones = [(100 + i, [x * 1.001 for x in v]) for i, (j, v) in
              enumerate(base[:10])]
    emb = spark.createDataFrame(
        base + clones, "vec_id long, embedding array<double>")
    cents = [[float(x) for x in rng.normal(size=8)] for _ in range(3)]

    def run(df):
        return sorted(
            (r.vec_id, r.cluster, r.component, r.keep)
            for r in semdedup(df, cents, threshold=0.99,
                              exact_assign=True).collect())

    assert run(emb.repartition(1)) == run(emb.repartition(7))


def test_remove_contaminated_spans(spark):
    """Span-level decontamination: tokens covered by any verbatim
    benchmark window are excised; the rest of the document survives.
    Pinned to an independent pure-Python replay of the whole chain."""
    import re as _re

    from metacrafter_spark.ops.decontam import remove_contaminated_spans

    bench_texts = ["what is the capital of france answer paris of course"]
    corpus_texts = {
        # quotes a full bench window mid-page -> loses just the quote
        1: "intro text what is the capital of france answer trailing words",
        # no 3-gram overlap
        2: "completely unrelated page about cooking pasta at home",
        # the WHOLE doc is a bench window
        3: "capital of france",
        # shorter than the window -> never excised
        4: "the capital",
        5: "",
    }
    k = 3

    def words(t):
        return [w for w in _re.split(r"\W+", t.lower()) if w][:2000]

    bgrams = set()
    for t in bench_texts:
        ws = words(t)
        for i in range(len(ws) - k + 1):
            bgrams.add(" ".join(ws[i:i + k]))

    def replay(t):
        ws = words(t)
        starts = [i for i in range(len(ws) - k + 1)
                  if " ".join(ws[i:i + k]) in bgrams]
        kept = [w for j, w in enumerate(ws)
                if not any(s <= j < s + k for s in starts)]
        return " ".join(kept), len(ws), len(ws) - len(kept)

    bench = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(bench_texts)],
        ["doc_id", "text"])
    corpus = spark.createDataFrame(
        sorted(corpus_texts.items()), ["doc_id", "text"])
    out = remove_contaminated_spans(corpus, bench, span_words=k)
    got = {r["doc_id"]: (r["text_decontam"], r["n_tokens"], r["n_removed"])
           for r in out.collect()}
    assert set(got) == set(corpus_texts)
    for i, t in corpus_texts.items():
        assert got[i] == replay(t), f"doc {i}"
    assert got[1][2] > 0 and got[2][2] == 0
    assert got[3][0] == "" and got[3][2] == 3
    assert got[4] == ("the capital", 2, 0)
    # partitioning invariance
    re_part = remove_contaminated_spans(
        corpus.repartition(4), bench.repartition(2), span_words=k)
    assert {tuple(r) for r in re_part.collect()} == \
           {tuple(r) for r in out.collect()}
