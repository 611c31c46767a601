"""Physical-plan audit → BENCH/EXPLAIN.md.

Captures .explain('formatted') for the engine's key plans and asserts
the scale-relevant properties we designed for:

- parquet scans show pushed filters + pruned ReadSchema;
- the stats/match jobs are single-pass hash aggregations (partial+final)
  with no raw-data shuffle;
- the corpus pipeline is one narrow stage (no Exchange at all);
- the broadcast top-k join actually broadcasts the small side;
- MinHash-LSH candidate generation shuffles only (id, bucket) pairs.

Usage: python scripts/explain_audit.py
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from metacrafter_spark.analyzer import analyzed_columns, with_normalized_columns
    from metacrafter_spark.corpus.pipeline import classify_corpus
    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.ops.dedup import lsh_candidate_pairs, with_minhash
    from metacrafter_spark.ops.similarity import topk_join
    from metacrafter_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sections: list[tuple[str, str, list[str]]] = []

    # 1. pushdown/pruning on a filtered projected scan
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    sections.append((
        "Filtered projected parquet scan (pushdown + column pruning)",
        plan_of(q),
        ["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]", "ReadSchema"],
    ))

    # 2. stats long-frame phase 1: the shuffle key is (c, h1, h2, k) —
    # the 128-bit value hash, and k is NULL for text columns — and the
    # exchange rows are fixed-width partial aggregates; the raw TEXT
    # column never rides the shuffle (it is consumed map-side by the
    # per-value fact expressions)
    from metacrafter_spark.analyzer import ROW_SEQ, _raw_long_frame

    stats_src = docs.select("lang", "source", "text").withColumn(
        ROW_SEQ, F.monotonically_increasing_id()
    )
    scols = analyzed_columns(stats_src)
    long = _raw_long_frame(stats_src, scols, ["", "None"])
    g0 = long.groupBy("c", "h1", "h2", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("ln").alias("ln"), F.sum("dn").alias("dn"),
    )
    stats_plan = plan_of(g0)
    sections.append((
        "Stats phase 1 (map-side facts; shuffle keyed on 128-bit value "
        "hash — raw text must NOT appear in the Exchange)",
        stats_plan,
        ["xxhash64", "Exchange"],
    ))
    import re as _re

    blocks = _re.findall(r"\(\d+\) Exchange\n(?:Input \[\d+\]: \[[^\]]*\])",
                         stats_plan)
    assert blocks, "no Exchange detail block found"
    for b in blocks:
        assert "text#" not in b, "raw text column rides the stats shuffle!"

    # 3. corpus pipeline: narrow, zero Exchange
    corpus = synth_webpages(spark, 200, partitions=4)
    pipe = classify_corpus(corpus).select("url", "keep", "text_scrubbed")
    pipe_plan = plan_of(pipe)
    sections.append((
        "Corpus pipeline (per-doc; must contain NO Exchange)",
        pipe_plan,
        [],
    ))
    assert "Exchange" not in pipe_plan, "pipeline unexpectedly shuffles!"

    # 4. broadcast top-k join
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    tk = topk_join(queries, emb, k=5)
    sections.append((
        "ANN exact top-k join (small side must broadcast)",
        plan_of(tk),
        ["BroadcastExchange"],
    ))

    # 5. LSH candidate pairs: shuffle carries only (id, bucket)
    mh = with_minhash(docs.select("doc_id", "text"))
    pairs = lsh_candidate_pairs(mh, "doc_id")
    sections.append((
        "MinHash-LSH candidate pairs (shuffle of (id,bucket) only)",
        plan_of(pairs),
        [],
    ))

    # 6. SimHash signature: each word sha-hashed ONCE (the sha array is
    # a materialized projection; 64 parity counters reference it)
    from metacrafter_spark.ops.dedup import with_simhash

    sim = with_simhash(docs.select("doc_id", "text")).select("doc_id", "sim")
    sim_plan = plan_of(sim)
    sections.append((
        "SimHash signature (sha2 must appear exactly once)",
        sim_plan,
        [],
    ))
    assert sim_plan.count("sha2") <= 2, "sha array inlined into bit loop!"

    # 7. sha-minhash oracle twin: bucket-count skew guard must broadcast,
    # and the candidate self-join Exchange carries only (band, key, id)
    from metacrafter_spark.ops.dedup import near_dup_pairs_minhash_sha  # noqa: F401
    from metacrafter_spark.ops.dedup import jaccard, word_shingles

    t7 = docs.select("doc_id", "text").withColumn(
        "sh", word_shingles(F.col("text"), 2)
    ).filter(F.size("sh") > 0)
    sig7 = F.array(*[
        F.array_min(F.transform(
            F.col("sh"),
            (lambda k: lambda s: F.sha2(F.concat(F.lit(f"{k}:"), s), 256))(k)))
        for k in range(12)
    ])
    t7 = t7.withColumn("sig", sig7)
    bands7 = [F.struct(F.lit(b).alias("band"),
                       F.concat_ws(",", F.element_at("sig", b * 2 + 1),
                                   F.element_at("sig", b * 2 + 2)).alias("key"))
              for b in range(6)]
    expl7 = t7.select("doc_id", F.explode(F.array(*bands7)).alias("bk")) \
        .select("doc_id", "bk.band", "bk.key")
    cnt7 = expl7.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
    ok7 = expl7.join(F.broadcast(cnt7.filter(F.col("n").between(2, 1000))),
                     ["band", "key"])
    sections.append((
        "sha-MinHash twin banding (bucket-count guard must broadcast; "
        "self-join input is (doc_id, band, key) only)",
        plan_of(ok7),
        ["BroadcastExchange"],
    ))

    # 8. multi-probe LSH top-k: query side fans out, corpus side keeps a
    # single bucket per vector, small side broadcasts
    from metacrafter_spark.ops.similarity import lsh_topk

    dim = len(emb.select("embedding").first()[0])
    mp = lsh_topk(queries, emb, dim=dim, k=5, bits=6, multiprobe=1)
    sections.append((
        "Multi-probe LSH top-k (probe explode on broadcast query side only)",
        plan_of(mp),
        ["BroadcastExchange"],
    ))

    # 9. bucketed co-located join: the persisted hash-partitioning must
    # eliminate the Exchange entirely (SortMergeJoin, zero shuffles)
    import tempfile

    from metacrafter_spark.io.bucketing import colocated_join, write_bucketed

    with tempfile.TemporaryDirectory() as td:
        l9 = spark.range(0, 2000).select(F.col("id").alias("k"),
                                         (F.col("id") * 2).alias("v"))
        r9 = spark.range(0, 2000, 3).select(F.col("id").alias("k"))
        write_bucketed(l9, "xp_l", ["k"], 4, sort_cols=["k"], path=f"{td}/l")
        write_bucketed(r9, "xp_r", ["k"], 4, sort_cols=["k"], path=f"{td}/r")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bplan = plan_of(colocated_join(spark, "xp_l", "xp_r", ["k"]))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS xp_l")
            spark.sql("DROP TABLE IF EXISTS xp_r")
    sections.append((
        "Bucketed co-located join (persisted partitioning: SortMergeJoin "
        "with ZERO Exchange)",
        bplan,
        ["SortMergeJoin"],
    ))
    assert "Exchange" not in bplan, "bucketed join still shuffles!"

    # 10. substring-dedup signal: grams are hashed BEFORE any Exchange
    # (the explode output is projected to (id, xxhash64) map-side), the
    # doc-frequency join broadcasts, and the only wide Exchange carries
    # partial-aggregated per-doc counts.
    from metacrafter_spark.ops.dedup import dup_span_stats

    dplan = plan_of(dup_span_stats(docs, "doc_id", "text", span_words=8))
    sections.append((
        "dup_span_stats (grams hashed map-side; no gram string in any Exchange)",
        dplan,
        ["xxhash64(__gram", "BroadcastExchange", "partial_count"],
    ))
    for line in dplan.splitlines():
        if "Exchange" in line:
            assert "__gram#" not in line, "gram string rides an Exchange!"

    # 11. decontamination: bench gram hashes broadcast; corpus side's
    # only Exchange is the partial-aggregated per-doc count.
    from metacrafter_spark.ops.decontam import decontaminate

    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus10 = docs.filter(F.col("doc_id") % 25 != 0)
    cplan = plan_of(decontaminate(corpus10, bench, "doc_id", "text", n=8))
    sections.append((
        "decontaminate (bench grams broadcast; corpus grams never shuffle)",
        cplan,
        ["BroadcastHashJoin", "LeftOuter", "partial_count"],
    ))

    # 12. deterministic hash sampling: the membership predicate is a
    # plain codegen'd filter on the scan — zero Exchange.
    from metacrafter_spark.ops.sampling import hash_sample

    splan = plan_of(hash_sample(docs, "doc_id", 0.1, seed=7).select("doc_id"))
    sections.append((
        "hash_sample (membership = codegen'd filter on the scan, ZERO Exchange)",
        splan,
        ["pmod", "Filter"],
    ))
    assert "Exchange" not in splan, "hash_sample shuffles!"

    # 13. toxicity metrics: narrow per-row expressions, zero Exchange.
    from metacrafter_spark.corpus.toxicity import with_toxicity

    tplan = plan_of(with_toxicity(docs, "text"))
    sections.append((
        "with_toxicity (narrow per-row stage, ZERO Exchange)",
        tplan,
        ["Project"],
    ))
    assert "Exchange" not in tplan, "toxicity metrics shuffle!"

    # 14. embedding near-dup pairs (round 4): the max_bucket skew guard —
    # the bucket-count filter must reach the self-join as a BROADCAST
    # (one small Exchange of (bucket, n) counts, never a corpus-wide
    # shuffle), mirroring the minhash/simhash guards
    from metacrafter_spark.ops.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(400)
    cplan = plan_of(cosine_near_dup_pairs(emb, threshold=0.9, bits=4))
    sections.append((
        "cosine_near_dup_pairs (LSH-bucketed self-join WITH max_bucket "
        "broadcast count-filter skew guard)",
        cplan,
        ["BroadcastExchange", "BroadcastHashJoin"],
    ))
    assert "BroadcastExchange" in cplan, "bucket-count guard not broadcast!"

    # 15. html → text extraction (round 5): a single narrow
    # MapInPandas stage — the html binary column is consumed map-side
    # and never rides an Exchange
    from metacrafter_spark.corpus.html import with_extracted_text

    hx = with_extracted_text(synth_webpages(spark, 100, partitions=4),
                             "html", "tx").select("url", "tx")
    hplan = plan_of(hx)
    sections.append((
        "html_extract_text (map-side MapInPandas, zero Exchange)",
        hplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in hplan, "html extraction shuffles!"

    # 16. WARC CDX-indexed scan (round 5): the line-splittable text
    # index parses JVM-side (from_json) and feeds one map-side
    # MapInPandas range-fetch — record-level parallelism, zero
    # Exchange before the fetch
    import tempfile

    from metacrafter_spark.io.warc import scan_warc_cdx, write_warc_shards

    wd = tempfile.mkdtemp(prefix="explain_warc_")
    write_warc_shards(synth_webpages(spark, 60, partitions=2),
                      wd, 2).collect()
    wq = scan_warc_cdx(spark, wd + "/*.cdx", wd).select("url", "html")
    wplan = plan_of(wq)
    sections.append((
        "WARC CDX-indexed scan (JVM json parse → map-side range fetch)",
        wplan,
        ["MapInPandas", "Scan text"],
    ))
    assert "Exchange" not in wplan, "CDX scan shuffles before fetching!"

    # 17. Iceberg merge-on-read read with position deletes: the
    # delete set rides a BroadcastExchange into a LeftAnti join; the
    # data path stays a parquet scan
    from metacrafter_spark.io.iceberg import IcebergTable

    iloc = tempfile.mkdtemp(prefix="explain_ice_") + "/t"
    idf = spark.range(2000).selectExpr("id", "concat('d', id) as text")
    it = IcebergTable.create(iloc, idf.schema)
    it.append(idf)
    it.delete_where(spark, "id % 5 = 0")
    iq = it.read(spark)
    iplan = plan_of(iq)
    sections.append((
        "Iceberg merge-on-read (broadcast anti-join of position deletes)",
        iplan,
        ["BroadcastExchange", "LeftAnti", "Scan parquet"],
    ))

    # 18. DSIR weights: the per-bucket ratio table must BROADCAST into
    # the feature join; the corpus-side explode is map-side (the only
    # Exchanges are the bounded bucket aggs + the fixed-width per-doc
    # weight agg — never raw text)
    from metacrafter_spark.ops.dsir import dsir_log_weights

    ddf = spark.range(500).selectExpr(
        "id as doc_id", "concat('alpha beta gamma doc ', id) as text")
    tgt = spark.range(50).selectExpr("concat('alpha beta ', id) as text")
    dplan = plan_of(dsir_log_weights(ddf, tgt))
    sections.append((
        "DSIR importance weights (ratio table broadcasts; text absent "
        "from every Exchange)",
        dplan,
        ["BroadcastExchange", "Generate"],  # explode = Generate
    ))
    for b in [blk for blk in dplan.split("(") if blk.startswith("Exchange")
              or blk.startswith("BroadcastExchange")]:
        assert "text#" not in b, "raw text rides a DSIR shuffle!"

    # 19. URL canonicalization: pure map-side expression — projecting
    # the canonical column adds NO Exchange over the scan
    from metacrafter_spark.ops.urls import canonicalize_url

    udf_ = spark.range(100).selectExpr(
        "concat('HTTPS://Ex.COM:443/p/', id, '?b=2&a=1#f') as url")
    uplan = plan_of(udf_.select(canonicalize_url("url")
                                .alias("canon")))
    sections.append((
        "URL canonicalization (map-side only — no Exchange)",
        uplan,
        ["Project"],
    ))
    assert "Exchange" not in uplan, "canonicalize_url shuffles!"

    # 20. Evolved-table read: the rename alias trail is a coalesce in
    # the Project over the parquet scan — evolution adds no Exchange
    eloc = tempfile.mkdtemp(prefix="explain_evo_") + "/t"
    edf = spark.range(500).selectExpr("id", "concat('t', id) as text")
    et = IcebergTable.create(eloc, edf.schema)
    et.append(edf)
    et.rename_column("text", "body")
    eplan = plan_of(et.read(spark))
    sections.append((
        "Iceberg evolved read (rename alias coalesce stays in the "
        "scan Project — no Exchange)",
        eplan,
        ["coalesce", "Scan parquet"],
    ))
    assert "Exchange" not in eplan, "evolved read shuffles!"

    # 21. Outlink extraction: regexp_extract_all + transform/resolve +
    # canonicalize is one map-side Project — no Exchange, no Python
    from metacrafter_spark.corpus.html import with_outlinks

    odf = spark.range(200).selectExpr(
        "concat('https://h.example/a/b/', id) as url",
        "cast(concat('<html><body><a href=\"../x/', id, "
        "'\">l</a></body></html>') as binary) as html")
    oplan = plan_of(with_outlinks(odf).select("url", "outlinks"))
    sections.append((
        "Outlink extraction + RFC 3986 resolution (map-side only — "
        "no Exchange, no Python)",
        oplan,
        ["Project"],
    ))
    assert "Exchange" not in oplan, "with_outlinks shuffles!"
    assert "Python" not in oplan and "ArrowEval" not in oplan

    # 22. robots policy evaluation: the rules side broadcasts; the
    # corpus side sees ONLY a BroadcastHashJoin — zero corpus Exchange
    from metacrafter_spark.corpus.robots import (
        parse_robots_txt, with_robots_allowed)

    rb = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /x\nAllow: /x/y")],
        "host string, robots_txt string")
    rrules = parse_robots_txt(rb, agent="mycrawler")
    rcorp = spark.range(1000).selectExpr(
        "concat('https://h.example/x/', id) as url")
    rplan = plan_of(with_robots_allowed(rcorp, rrules)
                    .select("url", "robots_allowed"))
    sections.append((
        "robots.txt policy evaluation (rules broadcast; corpus side "
        "has zero Exchange)",
        rplan,
        ["BroadcastHashJoin", "BroadcastExchange"],
    ))
    corpus_side = rplan.split("BroadcastExchange")[0]
    assert "Exchange" not in corpus_side.split("BroadcastHashJoin")[0], \
        "corpus shuffles before the robots broadcast join!"

    # 23. PageRank iteration: the only wide op touching the big frames
    # is the dst-keyed contribution agg; node count + dangling mass
    # ride BroadcastNestedLoopJoins (one-row frames); rows in every
    # Exchange are fixed-width (id, long)
    from metacrafter_spark.ops.linkgraph import pagerank

    pedges = spark.range(2000).selectExpr(
        "cast(id as bigint) as src",
        "cast((id * 7 + 3) % 2000 as bigint) as dst")
    pplan = plan_of(pagerank(pedges, iterations=1))
    sections.append((
        "PageRank iteration (dst-keyed agg + one-row broadcasts; "
        "fixed-width shuffle rows)",
        pplan,
        ["BroadcastNestedLoopJoin", "HashAggregate"],
    ))

    # 24. sequence packing: the corpus-scale window is PARTITIONED by
    # the hash bucket (bounded partitions); only the B-row bucket-
    # offset frame goes through a single partition, and it comes back
    # as a broadcast
    from metacrafter_spark.ops.packing import pack_documents

    pk = spark.range(5000).selectExpr(
        "id as doc_id", "(id % 700 + 1) as n_tokens")
    kplan = plan_of(pack_documents(pk, seq_len=512))
    sections.append((
        "Sequence packing (bucket-partitioned prefix-sum windows; "
        "single-partition work bounded at B rows, broadcast back)",
        kplan,
        ["BroadcastExchange", "Window"],
    ))
    # the big-frame window must be keyed on the bucket, not global
    assert "partitionBy=[__bucket" in kplan.replace(" ", "") \
        or "__bucket" in kplan, "packing window lost its bucket key!"

    # 25. KenLM scoring: every model lookup (pairs/backoff/cont) and
    # the vocab mapping ride BroadcastHashJoins — the corpus side has
    # no Exchange until the fixed-width per-doc aggregation
    from metacrafter_spark.corpus.kenlm import (
        score_kn_bigram, train_kn_bigram)

    kdocs = docs.select("doc_id", "text").limit(500)
    kmodel = train_kn_bigram(kdocs, vocab_size=256, max_words=50)
    knplan = plan_of(score_kn_bigram(kdocs, kmodel))
    sections.append((
        "KenLM KN-bigram scoring (vocab + model tables broadcast; "
        "corpus shuffles only the fixed-width per-doc sum)",
        knplan,
        ["BroadcastHashJoin", "HashAggregate"],
    ))
    assert knplan.count("BroadcastHashJoin") >= 5, \
        "KenLM scoring lost a broadcast (vocab x2 + pairs/backoff/cont)"

    # 26. classifier inference: one broadcast weight join + per-doc agg;
    # featurization is a map-side explode (no Python anywhere)
    from metacrafter_spark.ops.quality_classifier import (
        score_logreg, train_logreg_hashed)

    ldocs = kdocs.withColumn("y", (F.col("doc_id") % 2).cast("int"))
    lmodel = train_logreg_hashed(ldocs, label_col="y", buckets=128,
                                 max_words=50, iterations=1, lr=1.0)
    lplan = plan_of(score_logreg(ldocs, lmodel))
    sections.append((
        "Quality-classifier inference (broadcast weights; map-side "
        "featurize; zero Python UDFs)",
        lplan,
        ["BroadcastHashJoin", "Generate"],
    ))
    assert "BatchEvalPython" not in lplan and "ArrowEval" not in lplan, \
        "classifier inference runs Python!"

    # 27. semdedup pair stage: the within-cluster self-join is keyed on
    # the cluster id and guarded by the broadcast count filter (the
    # max_bucket skew guard) — no cartesian, no global self-join
    from metacrafter_spark.ops.similarity import semdedup

    semb = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .limit(300).select(
            "vec_id", F.col("embedding").cast("array<double>")
            .alias("embedding"))
    scents = [[float(x) for x in r.embedding]
              for r in semb.filter(F.col("vec_id") < 3).collect()]
    splan = plan_of(semdedup(semb, scents, threshold=0.95,
                             exact_assign=True))
    sections.append((
        "SemDeDup (cluster-keyed self-join behind the broadcast "
        "count-filter skew guard; equi-join on cluster, never "
        "cartesian — at corpus scale the same key feeds an SMJ)",
        splan,
        ["BroadcastHashJoin"],
    ))
    assert "CartesianProduct" not in splan, \
        "semdedup pair join degenerated to a cartesian!"

    # 28. BPE training: the corpus is touched ONCE (word-freq agg —
    # partial+final hash aggregate, the only Exchange keyed on word);
    # merge application (bpe_segment, the same fold the trainer uses
    # per step) is entirely map-side — zero Exchange.
    from metacrafter_spark.ops.bpe import bpe_segment, word_freqs

    bdocs = docs.select("text")
    wfplan = plan_of(word_freqs(bdocs, max_words=200))
    sections.append((
        "BPE word-frequency table (the single corpus pass — "
        "partial+final hash aggregate keyed on word)",
        wfplan,
        ["HashAggregate", "Exchange"],
    ))
    segplan = plan_of(
        bpe_segment(bdocs, [("t", "h"), ("th", "e")], max_words=200))
    sections.append((
        "BPE merge application (map-side fold — no Exchange; the "
        "trainer's per-step rewrite has the same shape)",
        segplan,
        ["Project"],
    ))
    assert "Exchange" not in segplan, \
        "BPE merge application should be map-side only!"

    # 29. ppl_buckets: the NTILE rides one global sort of FIXED-WIDTH
    # (doc_id, double) rows — a Window over a deterministic total
    # order; raw text never reaches the sort (the scored frame is
    # already reduced to per-doc aggregates).  At 10^12-doc scale the
    # documented alternative is sampled thresholds + map-side bucket.
    from metacrafter_spark.corpus.kenlm import with_ppl_buckets

    scored_synth = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("double").alias("sum_logp"),
        F.lit(10).alias("n_grams"))
    bktplan = plan_of(with_ppl_buckets(scored_synth, 3))
    sections.append((
        "Perplexity tertiles (NTILE over fixed-width per-doc rows; "
        "global sort is of (id, double) pairs only)",
        bktplan,
        ["Window"],
    ))

    # 30. k-means iteration step: assignment is a map-side argmin
    # against centroid LITERALS (no join, no shuffle to assign); the
    # only Exchange in the update is the (cluster, dim) partial-sum
    # aggregate — k×d fixed-width rows per map partition, never raw
    # embeddings.
    from metacrafter_spark.ops.kmeans import _assign_pdf, quantize_units

    kemb = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .filter(F.col("vec_id") < 200)
    ku = kemb.select("vec_id",
                     quantize_units(F.col("embedding")).alias("u"))
    kcents = [[2000000 + 100 * j + i for i in range(64)]
              for j in range(4)]
    kassign = ku.select("vec_id", "u",
                        _assign_pdf(kcents)(F.col("u"))
                        .getField("cluster").alias("cluster"))
    aplan = plan_of(kassign)
    sections.append((
        "k-means assignment (map-side Arrow-batched argmin against "
        "broadcast-literal centroids — zero Exchange)",
        aplan,
        ["ArrowEvalPython"],
    ))
    assert "Exchange" not in aplan, \
        "k-means assignment must not shuffle!"
    kupd = (kassign.select("cluster", F.posexplode("u").alias("i", "v"))
            .groupBy("cluster", "i")
            .agg(F.sum("v").alias("s"), F.count("v").alias("n")))
    uplan = plan_of(kupd)
    sections.append((
        "k-means centroid update (partial+final hash aggregate on "
        "(cluster, dim) — the Exchange carries k×d fixed-width "
        "partial sums, not embeddings)",
        uplan,
        ["HashAggregate", "Exchange"],
    ))

    # 31. BM25: the query-term IN filter prunes the exploded posting
    # stream MAP-SIDE before any Exchange (only matching terms ever
    # shuffle); query-terms / df / corpus-stats all ride broadcasts.
    from metacrafter_spark.ops.bm25 import bm25_topk

    bplan = plan_of(bm25_topk(
        docs.select("doc_id", "text").filter(F.col("doc_id") < 500),
        [("q1", "fast table scan")], top_k=5))
    sections.append((
        "BM25 retrieval (map-side query-term pruning of the posting "
        "stream; broadcast query/df/stats joins)",
        bplan,
        ["BroadcastHashJoin", "HashAggregate"],
    ))
    assert "CartesianProduct" not in bplan

    # 32. langid_ft inference: the (cls, bucket) weight table rides a
    # broadcast hash join onto the posting frame; the (doc × class)
    # scoring grid is a K-row broadcast nested loop (K = #classes,
    # model-sized) — nothing corpus-sized is ever on the build side.
    from metacrafter_spark.corpus.langid_ft import (
        predict_langid_ft, train_langid_ft)

    ldocs = spark.createDataFrame(
        [(0, "en", "the cat sat"), (1, "de", "der hund lief"),
         (2, "fr", "le chat dort")],
        "doc_id int, lang string, text string")
    lm = train_langid_ft(ldocs, buckets=64, iterations=1,
                         lr=1.0, w_pos=2.0)
    lplan = plan_of(predict_langid_ft(ldocs, lm))
    sections.append((
        "langid_ft inference (broadcast weight join + K-row broadcast "
        "scoring grid; argmax window on fixed-width rows)",
        lplan,
        ["BroadcastHashJoin", "Window"],
    ))
    assert "CartesianProduct" not in lplan

    # 35. incremental cross-snapshot dedup: the prior corpus enters as a
    # text-free (id, sig) table; the bucket-count skew guard rides a
    # broadcast back onto the exploded band frame (same contract as
    # every LSH join); candidate pairs join k-hash signature arrays
    # only — never document text — and there is no cartesian product.
    from metacrafter_spark.ops.dedup import (
        incremental_keep_decisions, sha_minhash_signatures)

    inew = docs.select("doc_id", "text").filter(F.col("doc_id") < 120)
    iprior = sha_minhash_signatures(
        docs.select("doc_id", "text").filter(
            (F.col("doc_id") >= 120) & (F.col("doc_id") < 240)),
        "doc_id")
    # plan the pre-checkpoint decision chain (the public fn checkpoints
    # eagerly; audit the same plan by rebuilding its last stage lazily)
    idec = incremental_keep_decisions(inew, iprior, "doc_id",
                                      _checkpoint=False)
    iplan = plan_of(idec)
    sections.append((
        "Incremental cross-snapshot dedup decisions (prior side is a "
        "text-free signature table; broadcast bucket-count guard; "
        "signature-array joins only)",
        iplan,
        ["BroadcastHashJoin", "zip_with"],
    ))
    assert "CartesianProduct" not in iplan

    # 36. token-budget selection: the prefix sum is keyed on
    # (score_unit, hash bucket) — the per-key offsets ride a broadcast
    # back onto the corpus and the running-sum window is PARTITIONED
    # (bounded partitions); no global-order window ever sees the
    # corpus, no cartesian product.
    from metacrafter_spark.ops.sampling import select_token_budget

    tb = select_token_budget(
        docs.select("doc_id", "text").withColumn(
            "n_tokens", F.size(F.split("text", r"\s+")).cast("long"))
        .withColumn("score", F.length("text").cast("double")),
        "doc_id", "n_tokens", "score", budget=10_000)
    tplan = plan_of(tb)
    sections.append((
        "Token-budget selection (broadcast per-key offsets; running "
        "sum windowed BY (score_unit, bucket) — the corpus never "
        "feeds a global-order window)",
        tplan,
        ["BroadcastHashJoin", "Window"],
    ))
    assert "CartesianProduct" not in tplan
    assert tplan.count("Exchange") >= 1  # the compound-key shuffle

    # 37. PDF text extraction: one map-side MapInPandas over the pdf
    # bytes — zero Exchange, the binary column never shuffles.
    from metacrafter_spark.io.pdf_codec import with_pdf_text

    pdf_df = docs.select("doc_id", F.encode("text", "utf-8").alias("pdf"))
    pplan = plan_of(with_pdf_text(pdf_df, "pdf", "ptext"))
    sections.append((
        "PDF text extraction (map-side MapInPandas, zero Exchange)",
        pplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in pplan

    # 38. feed parsing + crawl frontier: extraction is map-side native
    # Columns (explode + project, no Python, no Exchange); the
    # frontier anti-join broadcasts both small sides so the corpus is
    # only ever probed map-side.
    from metacrafter_spark.corpus.feeds import (new_feed_urls,
                                                parse_feed_entries)

    # Built via range+lit (not createDataFrame-from-list) so the scan
    # is pure JVM and the "no Python anywhere" assertion below stays
    # meaningful (a local-list DF scans an applySchemaToPythonRDD).
    feeds = spark.range(1).select(F.lit(
        "<rss><channel><item><link>https://x/1</link></item>"
        "</channel></rss>").alias("feed_xml"))
    fplan = plan_of(parse_feed_entries(feeds))
    sections.append((
        "Feed entry extraction (map-side native Columns)",
        fplan,
        ["Generate"],
    ))
    assert "Exchange" not in fplan and "Python" not in fplan
    nplan = plan_of(new_feed_urls(
        docs.select(F.col("text").alias("url")),
        parse_feed_entries(feeds)))
    sections.append((
        "Crawl-frontier selection (both joins broadcast; the corpus "
        "never shuffles)",
        nplan,
        ["BroadcastHashJoin", "LeftSemi", "LeftAnti"],
    ))
    assert "CartesianProduct" not in nplan

    # 39. mojibake repair: one map-side MapInPandas with a per-row
    # lead-char pre-scan — zero Exchange, the text column never
    # shuffles.
    from metacrafter_spark.corpus.mojibake import with_fixed_text

    mplan = plan_of(with_fixed_text(docs.select("doc_id", "text")))
    sections.append((
        "Mojibake repair (map-side MapInPandas, zero Exchange)",
        mplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in mplan

    # 40. span-level decontamination: the benchmark gram set rides a
    # broadcast LEFT SEMI probe (corpus grams never shuffle as
    # strings); the only Exchange carries (id, window starts).
    from metacrafter_spark.ops.decontam import remove_contaminated_spans

    dplan = plan_of(remove_contaminated_spans(
        docs.select("doc_id", "text"),
        docs.select("doc_id", "text").limit(50), span_words=8))
    sections.append((
        "Span-level decontamination (benchmark grams broadcast; the "
        "LEFT SEMI probe is map-side, the Exchange carries only "
        "(id, window starts))",
        dplan,
        ["BroadcastHashJoin", "LeftSemi"],
    ))
    assert "CartesianProduct" not in dplan

    # 41. Gopher repetition battery: repetition is a PER-DOCUMENT
    # property — JVM tokenization + one Arrow-batched kernel, zero
    # Exchange (the first cut shuffled (id, n, gram-hash) corpus-wide;
    # see the operator docstring for the measured history).
    from metacrafter_spark.corpus.quality import with_repetition_stats

    rplan = plan_of(with_repetition_stats(
        docs.select("doc_id", "text"), top_ns=(2,), dup_ns=(5,)))
    sections.append((
        "Gopher repetition battery (JVM tokenization + map-side "
        "Arrow kernel — zero Exchange)",
        rplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in rplan

    # 42. Image perceptual hashing: hashing is map-side (one Arrow
    # kernel, zero Exchange, 8 bytes/image out); the near-dup pair join
    # is equi-keyed on (chunk, 16-bit key) with the broadcast hot-bucket
    # guard — image bytes never ride an Exchange.
    from metacrafter_spark.ops.imagehash import image_near_dups, with_image_dhash

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"))
    ihplan = plan_of(with_image_dhash(media))
    sections.append((
        "Image dHash (map-side Arrow kernel — zero Exchange)",
        ihplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in ihplan, "image hashing shuffles!"
    # checkpoint=False returns the lazy pre-materialization frame so the
    # join shape is inspectable (the default path localCheckpoints)
    inplan = plan_of(image_near_dups(media, checkpoint=False))
    sections.append((
        "Image near-dup pairs (Manku chunk blocking, broadcast bucket "
        "guard, equi-join only — image bytes never ride the shuffle)",
        inplan,
        ["BroadcastExchange", "BroadcastHashJoin"],
    ))
    assert "CartesianProduct" not in inplan, "image pair join is cartesian!"

    # §43: audio fingerprinting — same shape as the image leg (map-side
    # Arrow kernel, zero Exchange, 8 bytes/clip out); the near-dup pair
    # join reuses the shared chunk blocking.
    from metacrafter_spark.ops.audiohash import audio_near_dups, with_audio_fingerprint

    afplan = plan_of(with_audio_fingerprint(media))
    sections.append((
        "Audio envelope fingerprint (map-side Arrow kernel — zero "
        "Exchange)",
        afplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in afplan, "audio fingerprinting shuffles!"
    anplan = plan_of(audio_near_dups(media, checkpoint=False))
    sections.append((
        "Audio near-dup pairs (shared Manku chunk blocking, broadcast "
        "bucket guard — audio bytes never ride the shuffle)",
        anplan,
        ["BroadcastExchange", "BroadcastHashJoin"],
    ))
    assert "CartesianProduct" not in anplan, "audio pair join is cartesian!"

    # §44: video frame hashing — container decode + frame sampling +
    # per-frame dHash are two chained map-side kernels; video bytes
    # never reach an Exchange.
    from metacrafter_spark.ops.audiohash import video_frame_hashes

    vmedia = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(3000).alias("duration_ms"),
        F.col("text").cast("binary").alias("content"))
    vfplan = plan_of(video_frame_hashes(vmedia))
    sections.append((
        "Video frame hashes (sample_frames + dHash: chained map-side "
        "kernels — zero Exchange)",
        vfplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in vfplan, "video frame hashing shuffles!"

    # §45: corpus-wide paragraph dedup (CCNet) — entirely native
    # Columns (zero Python anywhere in the plan); shuffles carry
    # (id, idx, 32-byte key hash) and per-doc int arrays, and the one
    # corpus-side Exchange is the final id-keyed rebuild join.
    from metacrafter_spark.ops.dedup import remove_global_dup_paragraphs

    gpplan = plan_of(remove_global_dup_paragraphs(docs))
    sections.append((
        "Global paragraph dedup (CCNet keep-first: native Columns only "
        "— paragraph text never rides the key-hash Exchange)",
        gpplan,
        ["HashAggregate"],
    ))
    assert "EvalPython" not in gpplan and "MapInPandas" not in gpplan, \
        "global paragraph dedup runs Python!"

    # §46: dataset-card composition report — the zipfian domain
    # dimension aggregates through salted two-phase partials and the
    # top-N cut is sort-limit + broadcast join (TakeOrdered, never a
    # single-partition global window); all native Columns.
    from metacrafter_spark.corpus.report import corpus_report

    classified_like = docs.select(
        F.col("doc_id"), F.col("text"),
        F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string"))
        .alias("domain"),
        F.lit("en").alias("langid_lang"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("quality"))
        .alias("drop_reason"),
    ).withColumn("keep", F.col("drop_reason").isNull())
    # checkpointing would hide the plan: rebuild the lazy chain by
    # calling the internals the way corpus_report composes them
    from metacrafter_spark.corpus import report as _report_mod

    per = _report_mod._per_doc(classified_like, "text", "langid_lang")
    partial = per.withColumn(
        "__salt", F.pmod(F.xxhash64("domain", F.lit(7)), F.lit(16))
    ).groupBy("domain", "__salt").agg(*_report_mod._aggs())
    doms = partial.groupBy("domain").agg(
        F.sum("n_docs").alias("n_docs"), F.sum("n_kept").alias("n_kept"),
        F.sum("chars").alias("chars"), F.sum("words").alias("words"))
    winners = doms.orderBy(F.col("n_docs").desc(), F.col("domain")) \
        .limit(10).select("domain", F.lit(True).alias("__top"))
    domdim = doms.join(F.broadcast(winners), "domain", "left")
    rplan = plan_of(domdim)
    sections.append((
        "Dataset-card report, domain dimension (salted two-phase agg; "
        "top-N = TakeOrdered + broadcast — no global-order window)",
        rplan,
        ["TakeOrderedAndProject", "BroadcastHashJoin", "HashAggregate"],
    ))
    assert "Window" not in rplan, "report top-N uses a global window!"
    assert "EvalPython" not in rplan and "MapInPandas" not in rplan, \
        "dataset-card report runs Python!"

    # §47: mergeable sketches (HLL + CMS) — register/counter builds are
    # one partial-agg groupBy whose Exchange carries only (bucket, rho)
    # / (d, bucket) pairs (never text); the CMS point lookup broadcasts
    # the O(depth*width) counter table.  All native Columns.
    from metacrafter_spark.ops.sketches import (
        cms_lookup, cms_sketch, hll_registers)

    urls = docs.select(
        F.concat(F.lit("https://s"), F.col("doc_id"), F.lit("/p"))
        .alias("u"))
    hplan = plan_of(hll_registers(urls, "u", p=12))
    sections.append((
        "HLL register build (map-side partial agg; Exchange keyed on "
        "the 2^p bucket space, raw values absent)",
        hplan,
        ["HashAggregate", "Exchange"],
    ))
    assert "EvalPython" not in hplan and "MapInPandas" not in hplan, \
        "HLL register build runs Python!"
    words = docs.select(F.explode(F.split(F.lower("text"),
                                          r"[^\p{L}\p{N}_]+")).alias("w"))
    sk = cms_sketch(words, "w", depth=4, width=512)
    lplan = plan_of(cms_lookup(sk, words.distinct(), "w",
                               depth=4, width=512))
    sections.append((
        "CMS point lookup (counter table rides a broadcast; min-agg "
        "back to one row per probe)",
        lplan,
        ["BroadcastHashJoin", "HashAggregate"],
    ))
    assert "EvalPython" not in lplan and "MapInPandas" not in lplan, \
        "CMS lookup runs Python!"

    # §48: KMV / bottom-k sketches — the top-k must compile to
    # TakeOrderedAndProject (per-partition partial top-k merged on the
    # driver), never a global Sort of the distinct hash set.
    from metacrafter_spark.ops.sketches import bottomk_sample, kmv_sketch

    kplan = plan_of(kmv_sketch(urls, "u", k=256))
    sections.append((
        "KMV sketch (distinct + distributed top-k = "
        "TakeOrderedAndProject, no global sort)",
        kplan,
        ["TakeOrderedAndProject", "HashAggregate"],
    ))
    bplan = plan_of(bottomk_sample(docs, "doc_id", k=200,
                                   keep_cols=("n_chars",)))
    assert "TakeOrderedAndProject" in bplan, \
        "bottom-k sample does a global sort!"
    for p_ in (kplan, bplan):
        assert "EvalPython" not in p_ and "MapInPandas" not in p_, \
            "sketch top-k runs Python!"

    # §49: containment pairs — candidates from a gram-key equi-join
    # (never a cartesian product); the hot-gram count guard is a plain
    # co-partitioned join (broadcasting the corpus-sized cold slice of
    # the gram-count table would be the scale bug), all native Columns.
    from metacrafter_spark.ops.dedup import containment_pairs

    cplan = plan_of(containment_pairs(docs.limit(200), threshold=0.8))
    sections.append((
        "Containment pairs (gram-key equi-join + co-partitioned "
        "count guard; no cartesian product, no Python)",
        cplan,
        ["HashAggregate", "Exchange"],
    ))
    assert "Cartesian" not in cplan, "containment join is cartesian!"
    assert "EvalPython" not in cplan and "MapInPandas" not in cplan, \
        "containment pairs run Python!"

    # §50: trained-model pipeline stages — the KN model tables must
    # ride BroadcastHashJoins (never shuffle the model against the
    # exploded gram stream), and the score frame must rebuild the
    # corpus through one equi-join keyed on the composite
    # (url, text-hash) id — no cartesian, no fan-out path.
    from metacrafter_spark.corpus.kenlm import train_kn_bigram
    from metacrafter_spark.corpus.pipeline import classify_corpus

    pages = docs.limit(300).select(
        F.concat(F.lit("https://ex.org/"), F.col("doc_id")).alias("url"),
        "text")
    knm = train_kn_bigram(pages.withColumnRenamed("url", "doc_id"),
                          vocab_size=256, max_words=100)
    scored = classify_corpus(pages, kenlm_model=knm)
    mplan = plan_of(scored.select("url", "kn_ppl", "keep"))
    scored.score_cache.unpersist()
    sections.append((
        "Trained-model pipeline stage (KN model tables broadcast; "
        "composite-key score join, no cartesian)",
        mplan,
        ["BroadcastHashJoin", "HashAggregate"],
    ))
    assert "Cartesian" not in mplan, "model score join is cartesian!"
    assert mplan.count("BroadcastHashJoin") >= 3, \
        "KN model tables not broadcast!"

    # §51: Bloom membership — the build is one partial-agg groupBy
    # whose Exchange carries (word, bits) pairs only; the PROBE side
    # rides k BroadcastHashJoins and must have ZERO Exchange (the
    # corpus stream never shuffles to ask "seen before?"), no Python.
    from metacrafter_spark.ops.sketches import bloom_contains, bloom_sketch

    burls = docs.filter(F.col("doc_id") < 400).select(
        F.concat(F.lit("https://ex.org/"), F.col("doc_id")).alias("url"))
    bsk = bloom_sketch(burls, "url", m_bits=1 << 14, k=7)
    bsk.persist().count()  # probe plan reads the materialized sketch
    bplan = plan_of(bloom_contains(burls, "url", bsk, m_bits=1 << 14, k=7))
    sections.append((
        "Bloom membership probe (k broadcast joins, zero shuffle "
        "Exchange anywhere, no Python)",
        bplan,
        ["BroadcastHashJoin"],
    ))
    # the tree prints the probe spine (scan -> filter -> project ->
    # join left arms) before the first broadcast side; the Exchange
    # that IS allowed to exist — the sketch build's groupBy — appears
    # only inside the broadcast sides' cached-plan echo
    spine = bplan.split("BroadcastExchange", 1)[0]
    assert "Exchange" not in spine, "bloom probe shuffles the corpus!"
    assert "InMemoryTableScan" in bplan, "bloom sketch not materialized"
    # formatted explain lists each node in the tree AND the detail
    # section, so k joins appear 2k times
    assert bplan.count("BroadcastHashJoin") == 14, \
        "bloom probe must ride exactly k broadcast joins"
    assert "EvalPython" not in bplan and "MapInPandas" not in bplan, \
        "bloom probe runs Python!"
    bsk.unpersist()

    # §52: z-order layout — the Morton key is map-side codegen
    # arithmetic (zero Python); the layout write pays exactly ONE
    # range Exchange (the shuffle any global sort costs, amortized
    # once at write time so every later scan prunes on all columns).
    from metacrafter_spark.io.zorder import zordered

    zgrid = docs.filter(F.col("doc_id") < 400).select(
        F.pmod(F.col("doc_id"), F.lit(20)).cast("int").alias("x"),
        (F.col("doc_id") / 20).cast("int").alias("y"))
    zplan = plan_of(zordered(zgrid, [("x", 0, 20), ("y", 0, 20)],
                             num_files=8))
    sections.append((
        "Z-order layout write (one range Exchange, key is codegen "
        "arithmetic, no Python)",
        zplan,
        ["rangepartitioning", "Sort"],
    ))
    assert zplan.count("Exchange") == 2, \
        "z-order layout must pay exactly one range Exchange"  # tree+detail
    assert "EvalPython" not in zplan and "MapInPandas" not in zplan, \
        "z-order key runs Python!"

    # §53: office-document extraction — write + route + extract is two
    # chained map-side MapInPandas kernels over the scan: zero Exchange
    # (the binary payloads never shuffle), same shape as the html/pdf
    # legs (§15).
    from metacrafter_spark.io.office_codec import (with_document_text,
                                                   write_docx)

    def _gen_docx(batches):
        for b in batches:
            b = b.copy()
            b["payload"] = [write_docx(t) for t in b["text"]]
            yield b[["doc_id", "payload"]]

    oblobs = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", "text").mapInPandas(
            _gen_docx, "doc_id long, payload binary")
    oplan = plan_of(with_document_text(oblobs, "payload"))
    sections.append((
        "Office-document extraction (map-side MapInPandas chain, "
        "payloads never shuffle)",
        oplan,
        ["MapInPandas"],
    ))
    assert "Exchange" not in oplan, \
        "office extraction must not shuffle the binary payloads"

    # §54: web-table column classification — extraction is map-side
    # MapInPandas; the classifier pays exactly ONE Exchange keyed by
    # the (url, table_idx, col_idx) column id with map-side partial
    # aggregation (HashAggregate below the Exchange), carrying only
    # fixed-width rule flags — the raw cell text never shuffles past
    # the partial agg.
    from metacrafter_spark.corpus.webtables import (
        classify_web_table_columns, with_web_table_cells)

    wt_pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://t.example/"), F.col("doc_id")).alias("url"),
        F.encode(F.concat(
            F.lit("<table><tr><th>lang</th></tr><tr><td>"),
            F.col("lang"), F.lit("</td></tr><tr><td>en</td></tr></table>")),
            "utf-8").alias("html"))
    wt_cells = with_web_table_cells(wt_pages)
    from metacrafter_spark.rules.model import CompiledRule, CompiledRulePack
    wt_pack = CompiledRulePack(rules=(CompiledRule(
        seq=0, id="langtag", dataclass="languagetag", rtype="data",
        match="text", lang="common", contexts=("common",), group="wt",
        group_desc="wt", country=None, imprecise=False, is_pii=False,
        minlen=2, maxlen=2,
        keywords=frozenset({"en", "fr", "de", "es", "zh"})),))
    wtplan = plan_of(classify_web_table_columns(wt_cells, wt_pack))
    sections.append((
        "Web-table column classification (one partial-agg Exchange on "
        "the column id; cell text absent above it)",
        wtplan,
        ["MapInPandas", "HashAggregate", "Exchange"],
    ))
    assert "hashpartitioning(url" in wtplan, \
        "web-table classify must shuffle on the column id"
    assert wtplan.count("Exchange") == 2, \
        "web-table classify must pay exactly one column-id Exchange" \
        "  (tree + detail)"

    out = ["# BENCH/EXPLAIN — physical-plan audit\n"]
    ok = True
    for title, plan, must in sections:
        missing = [m for m in must if m.split(":")[0] not in plan]
        status = "OK" if not missing else f"MISSING {missing}"
        if missing:
            ok = False
        out.append(f"\n## {title}  [{status}]\n\n```\n{plan}\n```\n")
    (REPO / "BENCH").mkdir(exist_ok=True)
    (REPO / "BENCH" / "EXPLAIN.md").write_text("".join(out), encoding="utf8")
    print("wrote BENCH/EXPLAIN.md", "ok" if ok else "WITH MISSING MARKERS")
    spark.stop()


if __name__ == "__main__":
    main()
