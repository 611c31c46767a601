"""Benchmark harness — prints ONE JSON line with headline timings.

    {"metric": "corpus_docs_per_sec", "value": N, "unit": "sec"??, ...}

Per driver contract: queries run at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].  The headline metric
is the keep/drop+scrub pipeline throughput (docs/sec) on the synthetic
web corpus (BASELINE.json input shape); per-query wall times for the
operator battery are reported under "queries".

Scaling-efficiency evidence (N vs 4N cores) is produced separately by
scripts/scaling_bench.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# synthetic corpus sized relative to sf (sf0.1 ≈ 600k lineitem → 20k docs)
N_CORPUS_DOCS = int(os.environ.get("SPARK_GRAFT_CORPUS_DOCS", "20000"))

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "top_customers_by_spend",
    "rule_confidence_minipack",
    "regex_match_rate",
    "exact_dedup_events",
    "minhash_near_dups",
    "ann_topk_cosine",
    "token_counts",
    "langid_documents",
    "events_json_agg",
    "dup_span_stats",
    "decontaminate",
]


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from metacrafter_spark.corpus.pipeline import classify_corpus
    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.session import get_spark

    spark = get_spark(app_name="metacrafter-bench", cores=CPUS,
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warm-up: start the Python/Arrow UDF workers and JIT the codegen
    # paths once, so per-query rows measure steady-state throughput
    # (the quantity that scales), not one-time JVM/worker spawn cost.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(0, CPUS * 1000, 1, CPUS).select(_warm("id")).write.format(
        "noop").mode("overwrite").save()

    # Best-of-3 per query: this box sees episodic hypervisor slowdowns
    # (up to 6x swings between identical back-to-back runs at <5%
    # accounted steal) — the min is the honest steady-state number.
    qtimes: dict[str, float] = {}
    qs = entry_mod.queries()
    for name in HEADLINE:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        qtimes[name] = round(best, 3)

    # stats-engine row: full 19-column stats over documents INCLUDING the
    # free-text column — exercises the hash-keyed stats shuffle (no raw
    # text ever rides a shuffle; see analyzer.py)
    from metacrafter_spark.scanner import scan_dataframe

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        docs = entry_mod._t(spark, SF_DIR, "documents")
        scan_dataframe(docs, stats_only=True)
        best = min(best, time.perf_counter() - t0)
    qtimes["stats_engine_documents"] = round(best, 3)

    # headline: corpus pipeline throughput; generation excluded via cache.
    # Best-of-2: this box sees episodic hypervisor CPU steal (observed
    # 3x swings between back-to-back runs); the min is the honest
    # steady-state number.  Steal is sampled across the whole bench and
    # reported so a stolen run is identifiable.
    corpus = synth_webpages(spark, N_CORPUS_DOCS, seed=42,
                            partitions=CPUS * 2).cache()
    n = corpus.count()
    pipeline_sec = float("inf")
    # best-of-3 for the headline row: observed same-process swings of
    # 5→21s on this box at ~0% accounted steal; 3 draws make the
    # steady-state min far more likely to surface
    for _ in range(3):
        t0 = time.perf_counter()
        out = classify_corpus(corpus)
        out.write.format("noop").mode("overwrite").save()
        pipeline_sec = min(pipeline_sec, time.perf_counter() - t0)
    qtimes["corpus_pipeline"] = round(pipeline_sec, 3)
    docs_per_sec = n / pipeline_sec

    # web-graph row: anchor injection → outlink extraction + RFC 3986
    # resolution → distinct edges → 3 fixed-point PageRank iterations
    # over the full corpus (the CC-domain-ranks shape); best-of-2
    from metacrafter_spark.corpus.html import with_outlinks
    from metacrafter_spark.ops.linkgraph import page_link_edges, pagerank

    d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        injected = corpus.select(
            "url",
            F.regexp_replace(
                F.decode("html", "utf-8"), "</body>",
                F.concat(F.lit('<a href="/p/'), (d * 7 + 1) % n,
                         F.lit('">x</a><a href=../article/'),
                         (d * 13 + 3) % n,
                         F.lit('>y</a></body>'))).alias("html"))
        edges = page_link_edges(with_outlinks(injected, "html", "url"))
        pagerank(edges, iterations=3).write.format("noop") \
            .mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["webgraph_pagerank"] = round(best, 3)

    # packing row: whitespace token counts → two-phase distributed
    # prefix sum → sequence coordinates over the full corpus
    from metacrafter_spark.ops.packing import pack_documents

    toks = corpus.select(
        F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.size(F.filter(F.split("text", r"\s+"),
                        lambda w: w != "")).cast("long")
        .alias("n_tokens"))
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        pack_documents(toks, seq_len=2048).write.format("noop") \
            .mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["sequence_packing"] = round(best, 3)

    # KenLM row: word-bigram interpolated Kneser-Ney — train on the
    # full corpus, score the full corpus (model tables broadcast);
    # the north rule's "KenLM-style n-gram perplexity" at word level
    from metacrafter_spark.corpus.kenlm import (
        score_kn_bigram, train_kn_bigram)

    kdocs = corpus.select("url", "text")
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        model = train_kn_bigram(kdocs, vocab_size=4096, max_words=100)
        score_kn_bigram(kdocs, model, id_col="url").write.format(
            "noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["kenlm_perplexity"] = round(best, 3)

    # classifier row: fastText-style logistic regression distilled
    # against junk markers — 3 class-weighted GD iterations over
    # binary hashed n-grams, then inference over the full corpus
    from metacrafter_spark.ops.quality_classifier import (
        score_logreg, train_logreg_hashed)

    labeled = corpus.select(
        "url", "text",
        (~(F.col("text").contains("lorem ipsum")
           | F.col("text").contains("function f() {")))
        .cast("int").alias("y"))
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        m = train_logreg_hashed(
            labeled, label_col="y", id_col="url", buckets=1024,
            max_words=100, iterations=3, lr=2.0,
            class_weights=(50.0, 1.0), binary=True)
        score_logreg(labeled, m, id_col="url").write.format(
            "noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["quality_classifier"] = round(best, 3)

    # model-scored pipeline row: the composed production flow — the
    # full keep/drop + scrub pipeline with BOTH trained models loaded
    # from persisted artifacts (train-once / score-every-dump; training
    # time is the two rows above, this row measures scoring at ingest)
    import shutil
    import tempfile

    from metacrafter_spark.corpus.modelstore import load_model, save_model

    mdir = tempfile.mkdtemp(prefix="bench_models_")
    try:
        save_model(model, mdir + "/lm")
        save_model(m, mdir + "/qc")
        lm_loaded = load_model(spark, mdir + "/lm")
        qc_loaded = load_model(spark, mdir + "/qc")
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            scored = classify_corpus(corpus, kenlm_model=lm_loaded,
                                     quality_model=qc_loaded)
            scored.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            # release the score source so the next repeat builds it cold
            scored.score_cache.unpersist(blocking=True)
        qtimes["model_scored_pipeline"] = round(best, 3)
    finally:
        shutil.rmtree(mdir, ignore_errors=True)

    # k-means row: 3 integer-exact Lloyd iterations over the full
    # embeddings table (k=16) + final assignment — the centroid stage
    # upstream of IVF/SemDeDup; assignment is map-side against
    # centroid literals, the update shuffles only (cluster, dim) sums
    from metacrafter_spark.ops.kmeans import kmeans_fit

    emb = entry_mod._t(spark, SF_DIR, "embeddings")
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        _, assigned = kmeans_fit(emb, 16, 3)
        assigned.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["kmeans_embeddings"] = round(best, 3)

    # mojibake row: repair over the full corpus with ~half the docs
    # carrying injected cp1252 mojibake (the other half exercises the
    # lead-char fast path) — map-side mapInPandas, zero Exchange
    from metacrafter_spark.corpus.mojibake import (
        corrupt_text, with_fixed_text)

    moji_suffix = corrupt_text(" — café “qüote” … ©2025 €9")
    moji = corpus.select(
        "url",
        F.when(d % 2 == 0, F.concat("text", F.lit(moji_suffix)))
        .otherwise(F.col("text")).alias("text"))
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        with_fixed_text(moji).write.format("noop") \
            .mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["fix_mojibake"] = round(best, 3)

    # span-decontamination row: every 25th doc is the benchmark split;
    # its gram set broadcasts, corpus grams probe map-side, covered
    # tokens are excised and the text rebuilt
    from metacrafter_spark.ops.decontam import remove_contaminated_spans

    ddocs = corpus.select(d.alias("doc_id"), "text")
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        remove_contaminated_spans(
            ddocs.filter(F.col("doc_id") % 25 != 0),
            ddocs.filter(F.col("doc_id") % 25 == 0),
            span_words=8).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["decontaminate_spans"] = round(best, 3)

    # Gopher repetition battery row: full defaults (top 2-4, dup
    # 5-10) over the corpus — zero-Exchange Arrow kernel
    from metacrafter_spark.corpus.quality import with_repetition_stats

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        with_repetition_stats(ddocs).write.format("noop") \
            .mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    qtimes["repetition_stats"] = round(best, 3)

    # image-hash row: one real 64×72 RGB BMP per document (seeded-RNG
    # pixels; consecutive id pairs share a base image, the odd member
    # brightness-shifted +3 — a clip-free shift dHash is exactly
    # invariant to, so every pair is a planted distance-0 near-dup).
    # Measures: real BMP decode → exact-integer dHash (map-side Arrow
    # kernel) → Manku-blocked pair join; image bytes never shuffle.
    from pyspark.sql.functions import pandas_udf as _pudf

    import numpy as _np
    import pandas as _pd

    def _mk_bmp(mids):
        from metacrafter_spark.ops.gif_bmp_codec import encode_bmp
        out = []
        for mid in mids:
            rng = _np.random.default_rng(int(mid) // 2)
            img = rng.integers(0, 250, size=(64, 72, 3), dtype=_np.uint8)
            if mid % 2:
                img = img + 3
            out.append(encode_bmp(img))
        return _pd.Series(out)

    from metacrafter_spark.ops.imagehash import image_near_dups

    # cache the synthesized containers so the row times decode+hash+join,
    # not image generation (~280 MB at 20k docs — fits comfortably)
    media = corpus.select(
        d.alias("media_id"),
        _pudf(_mk_bmp, "binary")(d).alias("content")).cache()
    media.count()
    best = float("inf")
    pair_n = -1
    for _ in range(2):
        t0 = time.perf_counter()
        pairs = image_near_dups(media, max_distance=3)
        pair_n = pairs.count()
        best = min(best, time.perf_counter() - t0)
    media.unpersist()
    assert pair_n == n // 2, f"planted image dups: {pair_n} != {n // 2}"
    qtimes["image_dhash_dedup"] = round(best, 3)

    # audio-fingerprint row: one real 8000-sample PCM-16 WAV per
    # document (seeded-RNG samples within ±16000; consecutive id pairs
    # share a base clip, the odd member gain-scaled ×2 — a clip-free
    # integer gain the envelope fingerprint is exactly invariant to,
    # so every pair is a planted distance-0 near-dup).  Measures: real
    # WAV decode → exact-integer fingerprint (map-side Arrow kernel) →
    # shared Manku-blocked pair join; audio bytes never shuffle.
    def _mk_wav(mids):
        from metacrafter_spark.ops.multimodal import encode_wav
        out = []
        for mid in mids:
            rng = _np.random.default_rng(int(mid) // 2)
            s = rng.integers(-16000, 16000, size=8000, dtype=_np.int16)
            if mid % 2:
                s = (s.astype(_np.int32) * 2).astype(_np.int16)
            out.append(encode_wav(s))
        return _pd.Series(out)

    from metacrafter_spark.ops.audiohash import audio_near_dups

    media = corpus.select(
        d.alias("media_id"),
        _pudf(_mk_wav, "binary")(d).alias("content")).cache()
    media.count()
    best = float("inf")
    pair_n = -1
    for _ in range(2):
        t0 = time.perf_counter()
        pairs = audio_near_dups(media, max_distance=3)
        pair_n = pairs.count()
        best = min(best, time.perf_counter() - t0)
    media.unpersist()
    assert pair_n == n // 2, f"planted audio dups: {pair_n} != {n // 2}"
    qtimes["audio_fp_dedup"] = round(best, 3)

    # global paragraph dedup row: the CCNet §3.1 crawl-wide boilerplate
    # remover over the full corpus with injected shared header/footer
    # paragraphs (url-hash keyed — every injected copy but the global
    # first must drop); best-of-2, removed count asserted.
    from metacrafter_spark.ops.dedup import remove_global_dup_paragraphs

    pd_id = F.abs(F.xxhash64("url"))
    pd_src = corpus.select(
        pd_id.alias("doc_id"),
        F.concat(
            F.when(pd_id % 3 == 0,
                   F.lit("Subscribe to our NEWSLETTER today.\n\n"))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(pd_id % 4 == 0,
                   F.lit("\n\n(c) example site 2024 all rights reserved"))
            .otherwise(F.lit(""))).alias("text"))
    best = float("inf")
    removed = -1
    for _ in range(2):
        t0 = time.perf_counter()
        removed = remove_global_dup_paragraphs(pd_src) \
            .agg(F.sum("n_removed")).first()[0]
        best = min(best, time.perf_counter() - t0)
    assert removed is not None and removed > n // 4, \
        f"para dedup removed only {removed}"
    qtimes["global_para_dedup"] = round(best, 3)

    # office-document extraction: 2k docs round-tripped in-plan through
    # all five containers (docx/odt/rtf/doc/epub) and extracted back —
    # the non-HTML-attachment leg of the ingest path, best-of-2
    from metacrafter_spark.io.office_codec import (
        with_document_text, write_doc, write_docx, write_epub,
        write_odt, write_rtf)

    writers = {"docx": write_docx, "odt": write_odt, "rtf": write_rtf,
               "doc": write_doc, "epub": write_epub}
    fmts = list(writers)
    osrc = corpus.limit(2000).select(
        "url", F.col("text").alias("ptext"),
        F.element_at(F.array(*[F.lit(x) for x in fmts]),
                     (F.abs(F.xxhash64("url")) % 5 + 1).cast("int"))
        .alias("fmt"))

    def _ogen(batches):
        for b in batches:
            b = b.copy()
            b["payload"] = [writers[f](t)
                            for f, t in zip(b["fmt"], b["ptext"])]
            yield b[["url", "fmt", "payload"]]

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        n_ok = with_document_text(
            osrc.mapInPandas(_ogen, "url string, fmt string, "
                                    "payload binary"),
            "payload").filter(
                F.col("doc_text").isNotNull()
                & (F.col("doc_type") == F.col("fmt"))).count()
        best = min(best, time.perf_counter() - t0)
    assert n_ok == 2000, f"office extraction only {n_ok}/2000"
    qtimes["office_extract"] = round(best, 3)

    # web-table harvesting + column classification: every page of the
    # corpus gets a planted table, the harvest explodes to cells and
    # the full builtin 139-rule pack classifies every column — the
    # crawl-scale "which web tables leak PII" flow, best-of-2
    from metacrafter_spark.corpus.webtables import (
        classify_web_table_columns, with_web_table_cells)
    from metacrafter_spark.rules import load_builtin_pack

    wt_pages = corpus.limit(4000).select(
        "url",
        F.encode(F.concat(
            F.lit("<table><tr><th>email</th><th>uid</th></tr>"
                  "<tr><td>a@ex.org</td><td>6f9619ff-8b86-d011-b42d-"
                  "00c04fc964ff</td></tr><tr><td></td><td>"),
            F.sha2(F.col("url"), 256),
            F.lit("</td></tr></table>")), "utf-8").alias("html"))
    n_pages = wt_pages.count()
    best = float("inf")
    n_hits = -1
    for _ in range(2):
        t0 = time.perf_counter()
        n_hits = classify_web_table_columns(
            with_web_table_cells(wt_pages),
            load_builtin_pack(), confidence=40.0).count()
        best = min(best, time.perf_counter() - t0)
    # per page: field email hit + data uuid hit (+ any extras)
    assert n_hits >= 2 * n_pages, \
        f"web-table classify found only {n_hits} over {n_pages} pages"
    qtimes["web_table_classify"] = round(best, 3)
    total = round(sum(qtimes.values()), 3)

    print(json.dumps({
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "corpus_docs": n,
        "corpus_docs_per_sec": round(docs_per_sec, 1),
        "cpus": CPUS,
        "cpu_steal_frac": round(_steal_since(_STAT0), 4),
    }))
    spark.stop()


def _stat_snapshot() -> list[int]:
    try:
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:]))
    except Exception:
        return []


def _steal_since(base: list[int]) -> float:
    now = _stat_snapshot()
    if not base or not now:
        return 0.0
    d = [y - x for x, y in zip(base, now)]
    tot = sum(d)
    return (d[7] / tot) if tot and len(d) > 7 else 0.0


_STAT0 = _stat_snapshot()


if __name__ == "__main__":
    main()
