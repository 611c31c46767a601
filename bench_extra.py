"""Extra benchmarks: per-stage isolation with the noop sink (guide §1.4).

NOT the driver-timed bench (bench.py is frozen); this file exists so
optimization work can attribute wall-clock to individual stages and so
OPTIMIZATION_r06.md can cite isolated numbers.

Usage:
    python bench_extra.py pipeline    # classify_corpus stage breakdown
    python bench_extra.py core        # frozen r4 16-row core subset total
    python bench_extra.py <stage>     # single stage

Every run computes from the parquet/synth inputs — nothing is cached
across processes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_CORPUS_DOCS", "20000"))
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))

#: the r4-era 16-row headline set (VERDICT r5 ask #4): a forever-
#: round-comparable core total, reported by `core` below.
CORE_ROWS = [
    "tpch_q1_pricing_summary", "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue", "top_customers_by_spend",
    "rule_confidence_minipack", "regex_match_rate", "exact_dedup_events",
    "minhash_near_dups", "ann_topk_cosine", "token_counts",
    "langid_documents", "events_json_agg", "dup_span_stats",
    "decontaminate",
]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def synth_clustered_embeddings(spark, n: int, dim: int = 32,
                               clusters: int = 300, seed: int = 7,
                               partitions: int = 64):
    """Deterministic clustered embeddings (mixture of Gaussian-ish
    cluster centers + shader-hash per-id noise) — the realistic shape
    for IVF recall measurement; a pure function of the row id, so the
    table is identical under any partitioning."""
    import numpy as np
    import pandas as pd

    centers = np.random.default_rng(seed).standard_normal((clusters, dim))

    def gen(batches):
        for b in batches:
            ids = b["id"].to_numpy()
            c = centers[ids % clusters]
            j = np.arange(dim)
            raw = np.sin((ids[:, None] * 131.13 + j[None, :] * 71.71
                          + 0.123) * 12.9898) * 43758.5453
            noise = (raw - np.floor(raw)) - 0.5
            v = c + noise * 1.2
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": list(v.astype(np.float64))})

    return (spark.range(n).repartition(partitions)
            .mapInPandas(gen, "vec_id long, embedding array<double>"))


def _best(fn, n=REPEATS):
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    from pyspark.sql import functions as F

    from metacrafter_spark.session import get_spark

    what = sys.argv[1] if len(sys.argv) > 1 else "pipeline"
    spark = get_spark(app_name=f"bench-extra-{what}", cores=CPUS,
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warm the Python workers like bench.py does
    from pyspark.sql.functions import pandas_udf
    import pandas as pd

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(0, CPUS * 1000, 1, CPUS).select(_warm("id")) \
        .write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}

    if what in ("pipeline", "langid"):
        from metacrafter_spark.corpus.langid import with_langid
        from metacrafter_spark.corpus.perplexity import with_perplexity
        from metacrafter_spark.corpus.pipeline import classify_corpus
        from metacrafter_spark.corpus.quality import with_quality
        from metacrafter_spark.corpus.scrub import with_scrub
        from metacrafter_spark.corpus.webpages import synth_webpages

        corpus = synth_webpages(spark, N_DOCS, seed=42,
                                partitions=CPUS * 2).cache()
        corpus.count()
        stages = {
            "langid": lambda: _noop(with_langid(corpus, "text")),
            "perplexity": lambda: _noop(with_perplexity(corpus, "text")),
            "quality": lambda: _noop(with_quality(corpus, "text")),
            "scrub": lambda: _noop(with_scrub(corpus, "text")),
            "full_pipeline": lambda: _noop(classify_corpus(corpus)),
            "baseline_noop": lambda: _noop(corpus),
        }
        if what == "langid":
            stages = {"langid": stages["langid"],
                      "baseline_noop": stages["baseline_noop"]}
        for name, fn in stages.items():
            sc.setJobDescription(f"bench_extra:{name}")
            out[name] = _best(fn)
        corpus.unpersist()

    elif what == "core":
        import __spark_entry__ as entry_mod

        qs = entry_mod.queries()
        for name in CORE_ROWS:
            sc.setJobDescription(f"bench_extra:core:{name}")
            out[name] = _best(lambda: _noop(qs[name](spark, SF_DIR)))
        # stats-engine row (part of the frozen core, bench.py inline)
        from metacrafter_spark.scanner import scan_dataframe

        def _stats():
            docs = entry_mod._t(spark, SF_DIR, "documents")
            scan_dataframe(docs, stats_only=True)

        sc.setJobDescription("bench_extra:core:stats_engine_documents")
        out["stats_engine_documents"] = _best(_stats)
        out["core_total_sec"] = round(sum(out.values()), 3)

    elif what == "classifier":
        from metacrafter_spark.corpus.webpages import synth_webpages
        from metacrafter_spark.ops.quality_classifier import (
            score_logreg, train_logreg_hashed)

        corpus = synth_webpages(spark, N_DOCS, seed=42,
                                partitions=CPUS * 2).cache()
        corpus.count()
        labeled = corpus.select(
            "url", "text",
            (~(F.col("text").contains("lorem ipsum")
               | F.col("text").contains("function f() {")))
            .cast("int").alias("y"))

        def _train_only():
            train_logreg_hashed(
                labeled, label_col="y", id_col="url", buckets=1024,
                max_words=100, iterations=3, lr=2.0,
                class_weights=(50.0, 1.0), binary=True)

        def _train_score():
            m = train_logreg_hashed(
                labeled, label_col="y", id_col="url", buckets=1024,
                max_words=100, iterations=3, lr=2.0,
                class_weights=(50.0, 1.0), binary=True)
            _noop(score_logreg(labeled, m, id_col="url"))

        sc.setJobDescription("bench_extra:classifier:train")
        out["train_only"] = _best(_train_only, 2)
        sc.setJobDescription("bench_extra:classifier:train+score")
        out["train_score"] = _best(_train_score, 2)
        corpus.unpersist()

    elif what == "webtable":
        from metacrafter_spark.corpus.webpages import synth_webpages
        from metacrafter_spark.corpus.webtables import (
            classify_web_table_columns, with_web_table_cells)
        from metacrafter_spark.rules import load_builtin_pack

        corpus = synth_webpages(spark, N_DOCS, seed=42,
                                partitions=CPUS * 2).cache()
        corpus.count()
        wt_pages = corpus.limit(4000).select(
            "url",
            F.encode(F.concat(
                F.lit("<table><tr><th>email</th><th>uid</th></tr>"
                      "<tr><td>a@ex.org</td><td>6f9619ff-8b86-d011-b42d-"
                      "00c04fc964ff</td></tr><tr><td></td><td>"),
                F.sha2(F.col("url"), 256),
                F.lit("</td></tr></table>")), "utf-8").alias("html"))
        pack = load_builtin_pack()
        sc.setJobDescription("bench_extra:webtable:harvest")
        out["harvest_only"] = _best(
            lambda: with_web_table_cells(wt_pages).count())
        sc.setJobDescription("bench_extra:webtable:harvest+classify")
        out["harvest_classify"] = _best(
            lambda: classify_web_table_columns(
                with_web_table_cells(wt_pages), pack,
                confidence=40.0).count())
        corpus.unpersist()

    elif what == "pagerank":
        from metacrafter_spark.corpus.html import with_outlinks
        from metacrafter_spark.corpus.webpages import synth_webpages
        from metacrafter_spark.ops.linkgraph import page_link_edges, pagerank

        corpus = synth_webpages(spark, N_DOCS, seed=42,
                                partitions=CPUS * 2).cache()
        n = corpus.count()
        d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
        injected = corpus.select(
            "url",
            F.regexp_replace(
                F.decode("html", "utf-8"), "</body>",
                F.concat(F.lit('<a href="/p/'), (d * 7 + 1) % n,
                         F.lit('">x</a><a href=../article/'),
                         (d * 13 + 3) % n,
                         F.lit('>y</a></body>'))).alias("html"))
        sc.setJobDescription("bench_extra:pagerank:outlinks")
        out["outlinks_only"] = _best(
            lambda: _noop(with_outlinks(injected, "html", "url")))
        sc.setJobDescription("bench_extra:pagerank:edges")
        out["edges_only"] = _best(
            lambda: _noop(page_link_edges(
                with_outlinks(injected, "html", "url"))))
        sc.setJobDescription("bench_extra:pagerank:full")
        out["full_pagerank"] = _best(
            lambda: _noop(pagerank(page_link_edges(
                with_outlinks(injected, "html", "url")), iterations=3)), 2)
        corpus.unpersist()

    elif what == "kenlm":
        from metacrafter_spark.corpus.kenlm import (
            score_kn_bigram, train_kn_bigram)
        from metacrafter_spark.corpus.webpages import synth_webpages

        corpus = synth_webpages(spark, N_DOCS, seed=42,
                                partitions=CPUS * 2).cache()
        corpus.count()
        kdocs = corpus.select("url", "text")
        sc.setJobDescription("bench_extra:kenlm:train")
        out["train_only"] = _best(
            lambda: train_kn_bigram(kdocs, vocab_size=4096, max_words=100),
            2)

        def _ts():
            m = train_kn_bigram(kdocs, vocab_size=4096, max_words=100)
            _noop(score_kn_bigram(kdocs, m, id_col="url"))

        sc.setJobDescription("bench_extra:kenlm:train+score")
        out["train_score"] = _best(_ts, 2)
        corpus.unpersist()

    elif what == "ivf":
        # VERDICT r5 #3: IVF at the production cell-count shape —
        # nlist=1024 trained on a bounded driver sample, centroid
        # matrix broadcast (sc.broadcast, not task closures), 200k
        # embeddings, recall vs exact brute force at nprobe=4.
        import numpy as np

        from metacrafter_spark.ops.similarity import (
            broadcast_centroids, ivf_topk, topk_join,
            train_ivf_centroids)

        emb = synth_clustered_embeddings(spark, 200_000).cache()
        emb.count()
        t0 = time.perf_counter()
        cent = train_ivf_centroids(emb, nlist=1024, sample=4096,
                                   iters=10, seed=42)
        out["train_nlist1024_sec"] = round(time.perf_counter() - t0, 3)
        bc = broadcast_centroids(spark, cent)
        queries = emb.filter(F.col("vec_id") % 20_000 == 7) \
            .selectExpr("vec_id as qid", "embedding")
        t0 = time.perf_counter()
        ivf = ivf_topk(queries, emb, bc, k=10, nprobe=4).collect()
        out["ivf_topk_sec"] = round(time.perf_counter() - t0, 3)
        truth = topk_join(queries, emb, k=10).collect()
        tset = {(r.qid, r.vec_id) for r in truth}
        iset = {(r.qid, r.vec_id) for r in ivf}
        out["recall_at_nprobe4"] = round(len(tset & iset) / len(tset), 4)
        out["nlist"] = float(len(cent))
        emb.unpersist()

    elif what == "soak":
        # VERDICT r5 #2: 10x-scale soak (200k docs vs the bench's 20k)
        # for the round-5 heavy rows — web_table_classify,
        # office_extract, model_scored_pipeline, image_dhash_dedup,
        # global_para_dedup — same row definitions as bench.py, docs/s
        # reported so flat-or-rising throughput at 10x is visible.
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf as _pudf

        from metacrafter_spark.corpus.pipeline import classify_corpus
        from metacrafter_spark.corpus.webpages import synth_webpages

        n_soak = int(os.environ.get("SOAK_DOCS", "200000"))
        corpus = synth_webpages(spark, n_soak, seed=42,
                                partitions=CPUS * 4).cache()
        n = corpus.count()
        out["docs"] = float(n)
        d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")

        # model_scored_pipeline (train at soak scale, then score)
        from metacrafter_spark.corpus.kenlm import train_kn_bigram
        from metacrafter_spark.ops.quality_classifier import (
            train_logreg_hashed)

        labeled = corpus.select(
            "url", "text",
            (~(F.col("text").contains("lorem ipsum")
               | F.col("text").contains("function f() {")))
            .cast("int").alias("y"))
        lm = train_kn_bigram(corpus.select("url", "text"),
                             vocab_size=4096, max_words=100)
        qc = train_logreg_hashed(
            labeled, label_col="y", id_col="url", buckets=1024,
            max_words=100, iterations=3, lr=2.0,
            class_weights=(50.0, 1.0), binary=True)
        sc.setJobDescription("soak:model_scored_pipeline")

        def _model_scored():
            scored = classify_corpus(corpus, kenlm_model=lm,
                                     quality_model=qc)
            _noop(scored)
            # release the score source so the next repeat builds it cold
            scored.score_cache.unpersist(blocking=False)

        out["model_scored_pipeline"] = _best(_model_scored, 2)

        sc.setJobDescription("soak:corpus_pipeline")
        out["corpus_pipeline"] = _best(
            lambda: _noop(classify_corpus(corpus)), 2)
        out["corpus_docs_per_sec"] = round(n / out["corpus_pipeline"], 1)

        # global_para_dedup with injected boilerplate (bench.py shape)
        from metacrafter_spark.ops.dedup import (
            remove_global_dup_paragraphs)

        pd_id = F.abs(F.xxhash64("url"))
        pd_src = corpus.select(
            pd_id.alias("doc_id"),
            F.concat(
                F.when(pd_id % 3 == 0,
                       F.lit("Subscribe to our NEWSLETTER today.\n\n"))
                .otherwise(F.lit("")),
                F.col("text"),
                F.when(pd_id % 4 == 0,
                       F.lit("\n\n(c) example site 2024 all rights "
                             "reserved")).otherwise(F.lit("")))
            .alias("text"))
        sc.setJobDescription("soak:global_para_dedup")
        out["global_para_dedup"] = _best(
            lambda: remove_global_dup_paragraphs(pd_src)
            .agg(F.sum("n_removed")).first(), 2)

        # image_dhash_dedup (bench.py shape at 10x: one real BMP/doc)
        def _mk_bmp(mids):
            from metacrafter_spark.ops.gif_bmp_codec import encode_bmp
            outv = []
            for mid in mids:
                rng = np.random.default_rng(int(mid) // 2)
                img = rng.integers(0, 250, size=(64, 72, 3),
                                   dtype=np.uint8)
                if mid % 2:
                    img = img + 3
                outv.append(encode_bmp(img))
            return pd.Series(outv)

        from metacrafter_spark.ops.imagehash import image_near_dups

        media = corpus.select(
            d.alias("media_id"),
            _pudf(_mk_bmp, "binary")(d).alias("content")).cache()
        media.count()
        sc.setJobDescription("soak:image_dhash_dedup")
        pair_n = []
        out["image_dhash_dedup"] = _best(
            lambda: pair_n.append(
                image_near_dups(media, max_distance=3).count()), 2)
        assert pair_n[-1] == n // 2, pair_n
        media.unpersist()

        # office_extract at 10x (20k docs round-tripped)
        from metacrafter_spark.io.office_codec import (
            with_document_text, write_doc, write_docx, write_epub,
            write_odt, write_rtf)

        writers = {"docx": write_docx, "odt": write_odt,
                   "rtf": write_rtf, "doc": write_doc,
                   "epub": write_epub}
        fmts = list(writers)
        osrc = corpus.limit(n_soak // 10).select(
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

        sc.setJobDescription("soak:office_extract")
        out["office_extract"] = _best(
            lambda: with_document_text(
                osrc.mapInPandas(_ogen, "url string, fmt string, "
                                        "payload binary"),
                "payload").filter(
                F.col("doc_text").isNotNull()
                & (F.col("doc_type") == F.col("fmt"))).count(), 2)

        # web_table_classify at 10x (40k pages)
        from metacrafter_spark.corpus.webtables import (
            classify_web_table_columns, with_web_table_cells)
        from metacrafter_spark.rules import load_builtin_pack

        wt_pages = corpus.limit(n_soak // 5).select(
            "url",
            F.encode(F.concat(
                F.lit("<table><tr><th>email</th><th>uid</th></tr>"
                      "<tr><td>a@ex.org</td><td>6f9619ff-8b86-d011-"
                      "b42d-00c04fc964ff</td></tr><tr><td></td><td>"),
                F.sha2(F.col("url"), 256),
                F.lit("</td></tr></table>")), "utf-8").alias("html"))
        pack = load_builtin_pack()
        sc.setJobDescription("soak:web_table_classify")
        out["web_table_classify"] = _best(
            lambda: classify_web_table_columns(
                with_web_table_cells(wt_pages), pack,
                confidence=40.0).count(), 2)
        corpus.unpersist()
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM"):
                    out["py_driver_peak_rss_kb"] = float(line.split()[1])
        jvm_pid = int(spark.sparkContext._jvm.java.lang.management
                      .ManagementFactory.getRuntimeMXBean().getName()
                      .split("@")[0])
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM"):
                    out["jvm_peak_rss_kb"] = float(line.split()[1])

    else:
        raise SystemExit(f"unknown stage {what!r}")

    print(json.dumps({"what": what, "sf_dir": SF_DIR, "cpus": CPUS,
                      "stages": out}))
    spark.stop()


if __name__ == "__main__":
    main()
