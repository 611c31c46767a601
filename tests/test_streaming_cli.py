"""Streaming pipeline + CLI smoke tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from metacrafter_spark.corpus.streaming import stream_classify
from metacrafter_spark.corpus.webpages import synth_webpages


def test_stream_classify_drains_and_checkpoints(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    corpus = synth_webpages(spark, 120, partitions=3)
    corpus.write.parquet(src)

    stream_classify(spark, src, out, metrics, ckpt)
    written = spark.read.parquet(out)
    assert written.count() == 120
    assert {"keep", "text_scrubbed", "bucket_id"} <= set(written.columns)
    m = spark.read.parquet(metrics)
    assert m.agg(F.sum("n_docs")).first()[0] == 120

    # resume semantics: re-running with the same checkpoint adds nothing
    stream_classify(spark, src, out, metrics, ckpt)
    assert spark.read.parquet(out).count() == 120

    # streaming output matches the batch pipeline byte-for-byte
    from metacrafter_spark.corpus.pipeline import classify_corpus

    batch = {r["url"]: r["text_scrubbed"]
             for r in classify_corpus(corpus).select("url", "text_scrubbed").collect()}
    stream = {r["url"]: r["text_scrubbed"]
              for r in written.select("url", "text_scrubbed").collect()}
    assert batch == stream


def test_stream_domain_windows_watermark(spark, tmp_path):
    """Event-time windowed agg with watermark: append mode emits each
    finalized (window, domain) exactly once; re-running over the same
    checkpoint emits nothing new; counts never exceed the input."""
    from metacrafter_spark.corpus.pipeline import domain_of
    from metacrafter_spark.corpus.streaming import stream_domain_windows

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus = synth_webpages(spark, 400, partitions=16)
    corpus.write.parquet(src)  # 16 files -> >=2 micro-batches (8/trigger)

    # synth warc_ts spans ~4 hours of event time at 400 docs, so use
    # 10-minute windows with a 5-minute allowance: the second micro-batch
    # advances the watermark past most windows' ends and finalizes them
    stream_domain_windows(spark, src, out, ckpt,
                          window="10 minutes", watermark="5 minutes")
    got = spark.read.parquet(out)
    n1 = got.agg(F.sum("n_docs")).first()[0] or 0
    # multiple batches advance the watermark, so finalized windows exist,
    # but windows inside the 2-day allowance are legitimately still open
    assert 0 < n1 <= 400
    assert got.count() == got.select("win_start", "domain").distinct().count()
    domains = {r["domain"] for r in got.select("domain").distinct().collect()}
    true_domains = {
        r["d"] for r in corpus.select(domain_of("url").alias("d"))
        .distinct().collect()
    }
    assert domains <= true_domains and len(domains) > 1
    # exactly-once: a replayed drain over the same checkpoint adds nothing
    stream_domain_windows(spark, src, out, ckpt,
                          window="10 minutes", watermark="5 minutes")
    assert (spark.read.parquet(out).agg(F.sum("n_docs")).first()[0] or 0) == n1
    # every emitted (window, domain) count matches the batch ground truth
    truth = {
        (r["w"], r["d"]): r["n"]
        for r in corpus.select(
            F.window("warc_ts", "10 minutes").alias("win"),
            domain_of("url").alias("d"),
        ).select(F.col("win.start").alias("w"), "d")
        .groupBy("w", "d").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in got.collect():
        assert truth[(r["win_start"], r["domain"])] == r["n_docs"]


def test_stream_exact_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState cross-RUN dedup: the Bloom state lives in
    the checkpoint, so a later run drops documents first seen earlier."""
    from metacrafter_spark.corpus.streaming import stream_exact_dedup

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # run 1: docs 0..199
    synth_webpages(spark, 200, partitions=4).write.mode("append").parquet(src)
    stream_exact_dedup(spark, src, out, ckpt)
    got1 = spark.read.parquet(out)
    assert got1.count() == 200
    assert got1.select("url").distinct().count() == 200

    # run 2: docs 0..299 re-written — 200 are exact dupes of run 1
    synth_webpages(spark, 300, partitions=4).write.mode("append").parquet(src)
    stream_exact_dedup(spark, src, out, ckpt)
    got2 = spark.read.parquet(out)
    texts = [r["text"] for r in got2.select("text").collect()]
    assert len(texts) == len(set(texts))  # no duplicate content anywhere
    # all 300 distinct docs survived exactly once (no Bloom FP at this n)
    assert got2.select("url").distinct().count() == 300
    assert got2.count() == 300


def test_cli_scan_file(tmp_path, capsys, spark):
    # reuse the session fixture so the CLI's getOrCreate attaches to it
    from metacrafter_spark.cli import main

    p = tmp_path / "people.csv"
    p.write_text(
        "email,uuid\n"
        + "\n".join(
            f"u{i}@ex.com,550e8400-e29b-41d4-a716-4466554400{i:02d}"
            for i in range(20)
        )
    )
    out = tmp_path / "report.json"
    rc = main(["scan-file", str(p), "-o", str(out)])
    assert rc == 0
    rep = json.loads(out.read_text())
    matched = {r[0]: r[3] for r in rep["results"]}
    assert "uuid 100.00" in matched["uuid"]


def test_cli_corpus_stream(spark, tmp_path):
    from metacrafter_spark.cli import main

    src = str(tmp_path / "cin")
    synth_webpages(spark, 60, partitions=2).write.parquet(src)
    rc = main(["corpus-stream", src, str(tmp_path / "cout"),
               str(tmp_path / "cmetrics"), str(tmp_path / "cckpt")])
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "cout")).count() == 60


def test_cli_corpus_run_metrics_and_resume(spark, tmp_path, capsys):
    """corpus-run writes the classified table once: the summary counts
    come from that write and the whole output table, the metrics from
    the written partitions — equal to bucket_metrics over the lineage —
    and a --resume over completed buckets processes nothing."""
    from metacrafter_spark.cli import main
    from metacrafter_spark.corpus.pipeline import (
        bucket_metrics, classify_corpus,
    )

    src, out, met = (str(tmp_path / d) for d in ("in", "out", "met"))
    synth_webpages(spark, 60, partitions=2).write.parquet(src)
    argv = ["corpus-run", src, out, met]
    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    classified = classify_corpus(spark.read.parquet(src))
    kept = classified.filter("keep").count()
    assert first == {"processed": 60, "kept_total": kept}

    def rows(df):
        return sorted((r.asDict() for r in df.collect()),
                      key=lambda r: r["bucket_id"])

    assert rows(spark.read.parquet(met)) == rows(bucket_metrics(classified))
    assert main(argv + ["--resume"]) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again == {"processed": 0, "kept_total": kept}


def test_cli_corpus_run_empty_input(spark, tmp_path, capsys):
    """An input with no rows writes an output table with no files; the
    summary reads zeros instead of failing on a schema it cannot
    infer."""
    from metacrafter_spark.cli import main
    from metacrafter_spark.corpus.streaming import WEBPAGE_DDL

    src = str(tmp_path / "in")
    spark.createDataFrame([], WEBPAGE_DDL).write.parquet(src)
    assert main(["corpus-run", src, str(tmp_path / "out"),
                 str(tmp_path / "met")]) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got == {"processed": 0, "kept_total": 0}


def test_stream_enrich_domains_static_join(spark, tmp_path):
    """Stream-static broadcast join: blocked domains dropped, known
    domains enriched, unknown domains pass with null reputation."""
    from metacrafter_spark.corpus.pipeline import domain_of
    from metacrafter_spark.corpus.streaming import stream_enrich_domains

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    corpus = synth_webpages(spark, 200, partitions=4)
    corpus.write.parquet(src)
    domains = sorted(
        r["d"] for r in corpus.select(
            domain_of("url").alias("d")).distinct().collect()
    )
    assert len(domains) >= 3
    static = spark.createDataFrame(
        [(domains[0], True, 0.0), (domains[1], False, 0.9)],
        "domain string, blocked boolean, reputation double",
    )
    stream_enrich_domains(spark, src, static, out, ckpt)
    got = spark.read.parquet(out)
    got_domains = {r["domain"] for r in got.select("domain").distinct().collect()}
    assert domains[0] not in got_domains          # blocked dropped
    n_blocked = corpus.filter(domain_of("url") == domains[0]).count()
    assert got.count() == 200 - n_blocked
    rep = {r["domain"]: r["reputation"]
           for r in got.select("domain", "reputation").distinct().collect()}
    assert rep[domains[1]] == 0.9                 # enriched
    assert rep[domains[2]] is None                # unknown passes with null


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Bounded-state built-in dedup: duplicate texts within the
    watermark collapse to one row; replay over the same checkpoint
    adds nothing."""
    from metacrafter_spark.corpus.streaming import stream_dedup_within_watermark

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    corpus = synth_webpages(spark, 150, partitions=2)
    # re-emit 50 docs under new urls: exact text duplicates
    dupes = corpus.limit(50).withColumn(
        "url", F.concat(F.lit("https://mirror.example/"), F.col("url")))
    corpus.unionByName(dupes).write.parquet(src)

    stream_dedup_within_watermark(spark, src, out, ckpt, watermark="10 days")
    got = spark.read.parquet(out)
    assert got.count() == 150
    assert got.select("content_sha").distinct().count() == 150

    stream_dedup_within_watermark(spark, src, out, ckpt, watermark="10 days")
    assert spark.read.parquet(out).count() == 150


def test_cli_sample_and_compact(spark, tmp_path):
    import json

    from metacrafter_spark.cli import main
    from pyspark.sql import functions as F

    src = str(tmp_path / "docs")
    spark.range(0, 3000).withColumnRenamed("id", "doc_id") \
        .withColumn("src", (F.col("doc_id") % 4).cast("string")) \
        .withColumn("w", F.lit(10)).repartition(20).write.parquet(src)

    out1 = str(tmp_path / "frac")
    assert main(["sample", src, out1, "--fraction", "0.2", "--seed", "3"]) == 0
    n1 = spark.read.parquet(out1).count()
    assert 450 < n1 < 750

    out2 = str(tmp_path / "quota")
    assert main(["sample", src, out2, "--quota", "25",
                 "--strata-col", "src"]) == 0
    q = spark.read.parquet(out2).groupBy("src").count().collect()
    assert all(r["count"] == 25 for r in q) and len(q) == 4

    out3 = str(tmp_path / "budget")
    assert main(["sample", src, out3, "--budget", "2000",
                 "--strata-col", "src", "--weight-col", "w"]) == 0
    b = spark.read.parquet(out3).groupBy("src").agg(
        F.sum("w").alias("kw")).collect()
    assert all(800 < r["kw"] < 3500 for r in b)

    out4 = str(tmp_path / "compacted")
    assert main(["compact", src, out4, "--sort-cols", "src,doc_id"]) == 0
    assert spark.read.parquet(out4).count() == 3000


def test_cli_dedup_and_decontaminate(spark, tmp_path):
    from metacrafter_spark.cli import main
    from pyspark.sql import functions as F

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest near the old river crossing")
    rows = [(i, base + f" tail {i}") for i in range(20)]
    rows.append((100, base + " tail 0"))  # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "docs2")
    docs.write.parquet(src)

    out = str(tmp_path / "pairs")
    assert main(["dedup", src, out, "--threshold", "0.9"]) == 0
    pairs = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()}
    assert (0, 100) in pairs

    bench = str(tmp_path / "bench")
    docs.filter(F.col("doc_id") == 5).write.parquet(bench)
    out2 = str(tmp_path / "contam")
    assert main(["decontaminate", src, bench, out2, "--ngram", "8"]) == 0
    got = {r["doc_id"]: r["contaminated"]
           for r in spark.read.parquet(out2).collect()}
    # every doc shares the long base prefix with the benchmark doc
    assert got[0] is True and all(got.values())


def test_stream_classify_empty_batch(spark, tmp_path):
    """A micro-batch of an input file with no rows writes no partition,
    so there is nothing to read metrics from; the sink must still
    commit the batch."""
    from metacrafter_spark.corpus.streaming import WEBPAGE_DDL

    src, out, met, ckpt = (str(tmp_path / d)
                           for d in ("in", "out", "met", "ckpt"))
    spark.createDataFrame([], WEBPAGE_DDL).write.parquet(src)
    q = stream_classify(spark, src, out, met, ckpt)
    assert q.lastProgress["numInputRows"] == 0
    assert q.exception() is None


def test_stream_classify_failure_injection_recovers_exactly(spark, tmp_path):
    """Kill the stream mid-batch — after the corpus partitions land but
    before metrics / checkpoint commit — simulate a torn partition write
    on top, restart, and require the recovered tables to equal a clean
    single run byte-for-byte (the exactly-once claim, previously tested
    only via replay-adds-nothing)."""
    import pyspark.errors

    corpus = synth_webpages(spark, 120, partitions=16)  # 16 files → 2 batches
    src = str(tmp_path / "in")
    corpus.write.parquet(src)

    # clean reference run
    out_c, met_c, ck_c = (str(tmp_path / p) for p in ("outc", "metc", "ckc"))
    stream_classify(spark, src, out_c, met_c, ck_c)
    clean = spark.read.parquet(out_c)
    assert clean.count() == 120

    # faulty run: crash inside the FIRST batch's sink, between writes
    out_f, met_f, ck_f = (str(tmp_path / p) for p in ("outf", "metf", "ckf"))

    def boom(batch_id):
        raise RuntimeError(f"injected crash in batch {batch_id}")

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        stream_classify(spark, src, out_f, met_f, ck_f, fault_hook=boom)
    # partial state: some corpus partitions exist, batch never committed
    partial = spark.read.parquet(out_f)
    n_partial = partial.count()
    assert 0 < n_partial < 120
    import pathlib
    assert not pathlib.Path(met_f).exists() or \
        spark.read.parquet(met_f).count() == 0

    # torn-write simulation: plant garbage rows inside one partition the
    # replay must overwrite (same batch, same bucket)
    row = partial.limit(1).collect()[0]
    garbage_dir = (f"{out_f}/batch_id={row['batch_id']}"
                   f"/bucket_id={row['bucket_id']}")
    partial.limit(5).drop("batch_id", "bucket_id").write.mode("append") \
        .parquet(garbage_dir)
    assert spark.read.parquet(out_f).count() == n_partial + 5

    # restart with the same checkpoint: uncommitted batch replays and
    # overwrites its own partitions (incl. the torn one), then batch 2
    stream_classify(spark, src, out_f, met_f, ck_f)
    rec = spark.read.parquet(out_f)
    assert rec.count() == 120
    assert rec.select("url").distinct().count() == 120  # no duplicates
    a = {r["url"]: (r["text_scrubbed"], r["keep"], r["drop_reason"])
         for r in clean.collect()}
    b = {r["url"]: (r["text_scrubbed"], r["keep"], r["drop_reason"])
         for r in rec.collect()}
    assert a == b
    # metrics equal the clean run per bucket (summed over batches)
    mc = {r["bucket_id"]: (r["d"], r["k"], r["p"]) for r in
          spark.read.parquet(met_c).groupBy("bucket_id")
          .agg(F.sum("n_docs").alias("d"), F.sum("n_keep").alias("k"),
               F.sum("pii_spans").alias("p")).collect()}
    mf = {r["bucket_id"]: (r["d"], r["k"], r["p"]) for r in
          spark.read.parquet(met_f).groupBy("bucket_id")
          .agg(F.sum("n_docs").alias("d"), F.sum("n_keep").alias("k"),
               F.sum("pii_spans").alias("p")).collect()}
    assert mc == mf
