"""End-to-end north-rule ingestion: WARC shards (+CDX index) →
record-parallel scan → html→text extraction → keep/drop + PII scrub
pipeline → pure-Python Iceberg tables with per-bucket lineage metrics
and crash-resume idempotency.  Drives the ``warc-ingest`` CLI — the
composed path a Common-Crawl user runs.
"""

import json

import pytest
from pyspark.sql import functions as F

from metacrafter_spark.cli import main
from metacrafter_spark.corpus.webpages import synth_webpages
from metacrafter_spark.io.iceberg import IcebergTable
from metacrafter_spark.io.warc import write_warc_shards


@pytest.fixture(scope="module")
def warc_corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("warc_ingest")
    corpus = synth_webpages(spark, 200, seed=5, partitions=4)
    write_warc_shards(corpus, str(d), 3).collect()
    return str(d)


def test_warc_ingest_end_to_end(spark, warc_corpus, tmp_path, capsys):
    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "metrics_tbl")
    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               out, met, "--buckets", "8"])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["processed"] == 200
    assert 0 < payload["kept_total"] < 200

    # the output is a real Iceberg table: snapshot, manifests, schema
    t = IcebergTable.load(out)
    docs = t.read(spark)
    assert docs.count() == 200
    cols = set(docs.columns)
    # input-hint columns survive, pipeline columns attached, pii_hits
    # struct flattened to per-rule counts
    assert {"url", "warc_ts", "html", "text", "keep", "drop_reason",
            "text_scrubbed", "langid_lang", "bucket_id"} <= cols
    assert any(c.startswith("pii_hits_") for c in cols)
    assert not any("." in c for c in cols)

    # extracted text matches the source corpus byte-for-byte per url
    src = synth_webpages(spark, 200, seed=5, partitions=4) \
        .select("url", F.col("text").alias("src_text"))
    joined = docs.select("url", "text").join(src, "url")
    assert joined.count() == 200
    assert joined.filter(F.col("text") != F.col("src_text")).count() == 0

    # metrics table: every bucket complete, doc counts add up
    m = IcebergTable.load(met).read(spark)
    rows = m.collect()
    assert all(r["completed"] for r in rows)
    assert sum(r["n_docs"] for r in rows) == 200
    assert sum(r["n_keep"] for r in rows) == payload["kept_total"]

    # dataset-card reads the Iceberg output directly
    rc = main(["dataset-card", out, "--top-domains", "3"])
    assert rc == 0
    card = json.loads(capsys.readouterr().out.strip())
    assert card["total"]["n_docs"] == 200
    assert card["total"]["n_kept"] == payload["kept_total"]
    assert sum(v["n_docs"] for v in card["langs"].values()) == 200
    assert len(card["domains"]) <= 4  # top 3 + (other)


def test_warc_ingest_outlinks_flag(spark, warc_corpus, tmp_path, capsys):
    """--outlinks writes the page-level link graph from the same scan.
    The synthetic corpus has no anchors, so inject a WARC fleet that
    does: rewrite the corpus html with one anchor per page."""
    corpus = synth_webpages(spark, 50, seed=5, partitions=2)
    d = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("long")
    linked = corpus.withColumn(
        "html",
        F.encode(F.regexp_replace(
            F.decode("html", "utf-8"), "</body>",
            F.concat(F.lit('<a href="/to/'), (d * 3 + 1) % 50,
                     F.lit('">x</a></body>'))), "utf-8"))
    wd = str(tmp_path / "warcs")
    (tmp_path / "warcs").mkdir()
    write_warc_shards(linked, wd, 2).collect()
    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "metrics_tbl")
    edges = str(tmp_path / "edges")
    rc = main(["warc-ingest", wd + "/*.cdx", wd, out, met,
               "--buckets", "4", "--outlinks", edges])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["edges"] == 50
    e = spark.read.parquet(edges)
    assert set(e.columns) == {"src", "dst"}
    row = e.filter(~F.col("dst").rlike("^https?://")).count()
    assert row == 0 and e.count() == 50


def test_warc_ingest_main_text_flag(spark, warc_corpus, tmp_path,
                                    capsys):
    """--main-text: the pipeline's text column is the boilerplate-
    stripped extraction, the raw extraction survives as text_raw."""
    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "metrics_tbl")
    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               out, met, "--buckets", "4", "--main-text"])
    assert rc == 0
    docs = IcebergTable.load(out).read(spark)
    cols = set(docs.columns)
    assert {"text", "text_raw"} <= cols
    r = docs.filter(F.length("text_raw") > 200).first()
    # the synthetic corpus has no boilerplate rails: main text is the
    # same prose, whitespace-normalized per block
    assert r is not None and r.text and r.text_raw
    assert " ".join(r.text_raw.split()) == " ".join(r.text.split())


def test_warc_ingest_robots_from_crawl(spark, tmp_path, capsys):
    """--robots-from-crawl: the /robots.txt records riding in the same
    WARC input drive the keep/drop policy; the records themselves are
    excluded from the corpus."""
    from datetime import datetime

    corpus = synth_webpages(spark, 40, seed=5, partitions=2)
    hosts = sorted({r.url.split("/")[2] for r in
                    corpus.select("url").collect()})
    blocked_host = hosts[0]
    robots_rows = spark.createDataFrame(
        [(f"https://{blocked_host}/robots.txt",
          datetime(2025, 1, 1),
          b"User-agent: *\nDisallow: /",
          "User-agent: *\nDisallow: /", "")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    wd = str(tmp_path / "warcs")
    (tmp_path / "warcs").mkdir()
    write_warc_shards(corpus.unionByName(robots_rows), wd, 2).collect()
    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "metrics_tbl")
    rc = main(["warc-ingest", wd + "/*.cdx", wd, out, met,
               "--buckets", "4", "--robots-from-crawl"])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["processed"] == 40          # robots record excluded
    docs = IcebergTable.load(out).read(spark)
    rows = docs.collect()
    assert not any(r.url.endswith("/robots.txt") for r in rows)
    blocked = [r for r in rows
               if r.url.startswith(f"https://{blocked_host}/")]
    assert blocked and all(
        r.drop_reason == "robots_disallowed" for r in blocked)
    others = [r for r in rows
              if not r.url.startswith(f"https://{blocked_host}/")]
    assert others and all(
        r.drop_reason != "robots_disallowed" for r in others)


def test_warc_ingest_resume_idempotent(spark, warc_corpus, tmp_path,
                                       capsys):
    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "metrics_tbl")
    assert main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
                 out, met, "--buckets", "8"]) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # re-run with --resume: all buckets are marked complete, so zero
    # documents reprocess and the table is unchanged (no duplicates)
    assert main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
                 out, met, "--buckets", "8", "--resume"]) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["processed"] == 0
    assert second["kept_total"] == first["kept_total"]
    t = IcebergTable.load(out)
    assert t.read(spark).count() == 200
    assert t.read(spark).select("url").distinct().count() == 200

    # crash simulation: un-mark two buckets (data written, completion
    # lost) → resume reprocesses exactly those buckets, overwrite
    # keeps the table duplicate-free
    mt = IcebergTable.load(met)
    m = mt.read(spark)
    victims = [r["bucket_id"] for r in
               m.select("bucket_id").distinct().limit(2).collect()]
    mt.overwrite_partitions(
        m.filter(F.col("bucket_id").isin(victims))
        .withColumn("completed", F.lit(False)))
    assert main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
                 out, met, "--buckets", "8", "--resume"]) == 0
    third = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert third["processed"] > 0
    t = IcebergTable.load(out)
    assert t.read(spark).count() == 200
    assert t.read(spark).select("url").distinct().count() == 200
    assert third["kept_total"] == first["kept_total"]


def _metrics_rows(df):
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda r: r["bucket_id"])


@pytest.fixture(scope="module")
def lineage_metrics(spark, warc_corpus):
    """The per-bucket metrics of the fixture dump computed over the
    classified lineage, as the ingest built them before it read them
    off the written table."""
    from metacrafter_spark.corpus.html import with_extracted_text
    from metacrafter_spark.corpus.pipeline import (
        bucket_metrics, classify_corpus,
    )
    from metacrafter_spark.io.warc import scan_warc_cdx

    pages = with_extracted_text(
        scan_warc_cdx(spark, warc_corpus + "/*.cdx", warc_corpus),
        "html", "text")
    src = pages.select("url", "warc_ts", "html", "text",
                       F.lit("").alias("lang"))
    return _metrics_rows(bucket_metrics(classify_corpus(src, n_buckets=8)))


@pytest.mark.parametrize("plain", [False, True], ids=["iceberg", "parquet"])
def test_warc_ingest_metrics_match_lineage(spark, warc_corpus, tmp_path,
                                           capsys, lineage_metrics, plain):
    """The metrics table read off the written output equals
    bucket_metrics over the classified lineage, row for row and column
    for column — after a full run, and after a --resume that redoes a
    bucket whose metrics row was lost."""
    import shutil

    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "metrics_tbl")
    argv = ["warc-ingest", warc_corpus + "/*.cdx", warc_corpus, out, met,
            "--buckets", "8", *(["--plain-parquet"] if plain else [])]

    def metrics():
        m = (spark.read.parquet(met) if plain
             else IcebergTable.load(met).read(spark))
        return _metrics_rows(m)

    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics() == lineage_metrics

    lost = lineage_metrics[0]
    if plain:
        shutil.rmtree(f"{met}/bucket_id={lost['bucket_id']}")
    else:
        IcebergTable.load(met).delete_where(
            spark, f"bucket_id = {lost['bucket_id']}")
    assert len(metrics()) == len(lineage_metrics) - 1
    assert main(argv + ["--resume"]) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again == {"processed": lost["n_docs"],
                     "kept_total": first["kept_total"]}
    assert metrics() == lineage_metrics


@pytest.fixture(scope="module")
def traced_ingest(spark, warc_corpus, tmp_path_factory):
    """One warc-ingest with the paragraph and URL stores, run under a
    caller-set job description: the SQL executions it started (their
    descriptions and physical plans) and the description left after."""
    d = tmp_path_factory.mktemp("traced_ingest")
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    sc.setJobDescription("caller phase")
    try:
        assert main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
                     str(d / "out"), str(d / "met"), "--buckets", "8",
                     "--para-dedup-store", str(d / "para"),
                     "--url-hll-store", str(d / "hll")]) == 0
        after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobDescription(None)
    execs = [(e.description(), e.physicalPlanDescription() or "")
             for e in executions() if e.executionId() > last]
    return execs, after


def test_warc_ingest_runs_the_pipeline_once(traced_ingest):
    """The classified frame is computed by the output write alone: one
    execution evaluates the scrub/langid Python UDFs, and no execution
    counts the extracted pages."""
    execs, _ = traced_ingest
    passes = [desc for desc, plan in execs if "ArrowEvalPython" in plan]
    assert passes == ["warc-ingest: write output"]
    counts = [desc for desc, plan in execs
              if "MapInPandas" in plan and "partial_count(1)" in plan]
    assert counts == []


def _outside_cache(plan: str) -> list:
    """Node names of a physical plan description's tree, leaving out
    each ``InMemoryRelation`` subtree (the plan that filled a cache)."""
    names, cached_at = [], None
    for line in plan.split("\n\n", 1)[0].splitlines()[1:]:
        name = line.lstrip(" :+-*")
        depth = len(line) - len(name)
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if name.startswith("InMemoryRelation") else None
        names.append(name)
    return names


def test_warc_ingest_scans_once(traced_ingest):
    """The output write is the only execution that decodes WARC
    records: the paragraph-store advance reads the keep-first winners
    the write cached instead of re-running the scan and the extraction.
    A command execution (an ``Execute ...`` root) prints its query as a
    logical plan and runs it as a nested execution, so only the
    executions that ran a physical plan are read."""
    execs, _ = traced_ingest
    trees = [(desc, _outside_cache(plan)) for desc, plan in execs]
    ran = [(desc, names) for desc, names in trees
           if names and not names[0].startswith("Execute ")]
    decodes = {desc for desc, names in ran
               if any(n.startswith("MapInPandas") for n in names)}
    assert decodes == {"warc-ingest: write output"}
    assert any(n.startswith("InMemoryTableScan")
               for desc, names in ran
               if desc == "warc-ingest: advance para store"
               for n in names)


def test_warc_ingest_names_jobs_by_phase(traced_ingest):
    """Every SQL execution of the ingest carries its CLI phase, and the
    caller's own job description is back once the CLI returns."""
    execs, after = traced_ingest
    descs = {desc for desc, _ in execs}
    assert {"warc-ingest: write output", "warc-ingest: metrics",
            "warc-ingest: advance para store", "warc-ingest: hll"} <= descs
    assert all(desc.startswith("warc-ingest: ") for desc in descs), descs
    assert after == "caller phase"


def test_warc_ingest_repeat_call_compiles_nothing(spark, warc_corpus,
                                                  tmp_path, capsys):
    """A second identical warc-ingest in one session compiles no
    generated class.  One call's working set is over 100 classes, the
    size of Spark's default codegen cache, whose LRU eviction made
    every repeat call compile all of them again."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(i):
        d = tmp_path / f"call{i}"
        assert main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
                     str(d / "out"), str(d / "met"), "--buckets", "8",
                     "--para-dedup-store", str(d / "para"),
                     "--url-hll-store", str(d / "hll")]) == 0
        capsys.readouterr()

    run(1)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    run(2)
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_stream_warc_ingest_incremental_and_replay(spark, tmp_path):
    """Streaming CDX→WARC→pipeline→Iceberg: availableNow drains the
    backlog, new index shards process incrementally (file-source log),
    a replayed batch (crash between sink and checkpoint) swaps its own
    partitions instead of duplicating."""
    from metacrafter_spark.corpus.streaming import stream_warc_ingest
    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.io.warc import write_warc_shards

    d = tmp_path / "stream_src"
    d.mkdir()
    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "met_tbl")
    ckpt = str(tmp_path / "ckpt")

    corpus = synth_webpages(spark, 80, seed=13, partitions=2)
    write_warc_shards(corpus, str(d), 2, prefix="wave1").collect()
    stream_warc_ingest(spark, str(d / "*.cdx"), str(d), out, met, ckpt,
                       n_buckets=8)
    t = IcebergTable.load(out)
    assert t.read(spark).count() == 80

    # wave 2: only the NEW index files process (incremental)
    corpus2 = synth_webpages(spark, 120, seed=14, partitions=2) \
        .filter(F.regexp_extract("url", r"/article/(\d+)$", 1)
                .cast("long") >= 80)
    write_warc_shards(corpus2, str(d), 2, prefix="wave2").collect()
    stream_warc_ingest(spark, str(d / "*.cdx"), str(d), out, met, ckpt,
                       n_buckets=8)
    t = IcebergTable.load(out)
    docs = t.read(spark)
    assert docs.count() == 120
    assert docs.select("url").distinct().count() == 120

    # crash between corpus write and metrics/checkpoint: restart
    # replays the batch, partitions swap, no duplicates
    corpus3 = synth_webpages(spark, 150, seed=15, partitions=2) \
        .filter(F.regexp_extract("url", r"/article/(\d+)$", 1)
                .cast("long") >= 120)
    write_warc_shards(corpus3, str(d), 1, prefix="wave3").collect()
    boom = {"armed": True}

    def fault(batch_id):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash between sink writes")

    with pytest.raises(Exception):
        stream_warc_ingest(spark, str(d / "*.cdx"), str(d), out, met,
                           ckpt, n_buckets=8, fault_hook=fault)
    # data landed but the batch never committed; restart replays it
    stream_warc_ingest(spark, str(d / "*.cdx"), str(d), out, met, ckpt,
                       n_buckets=8, fault_hook=fault)
    t = IcebergTable.load(out)
    docs = t.read(spark)
    assert docs.count() == 150
    assert docs.select("url").distinct().count() == 150
    m = IcebergTable.load(met).read(spark)
    assert m.filter(~F.col("completed")).count() == 0


def test_cli_warc_ingest_stream(spark, tmp_path):
    """`mc warc-ingest --stream CKPT` runs the streaming path: first
    invocation drains the backlog, the second processes only new index
    shards (incremental by the file-source log)."""
    from metacrafter_spark.cli import main
    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.io.warc import write_warc_shards

    d = tmp_path / "src"
    d.mkdir()
    out, met = str(tmp_path / "docs"), str(tmp_path / "met")
    ckpt = str(tmp_path / "ckpt")

    write_warc_shards(synth_webpages(spark, 60, seed=21, partitions=2),
                      str(d), 2, prefix="w1").collect()
    rc = main(["warc-ingest", str(d / "*.cdx"), str(d), out, met,
               "--buckets", "8", "--stream", ckpt])
    assert rc == 0
    t = IcebergTable.load(out)
    assert t.read(spark).count() == 60

    corpus2 = synth_webpages(spark, 90, seed=22, partitions=2) \
        .filter(F.regexp_extract("url", r"/article/(\d+)$", 1)
                .cast("long") >= 60)
    write_warc_shards(corpus2, str(d), 1, prefix="w2").collect()
    rc = main(["warc-ingest", str(d / "*.cdx"), str(d), out, met,
               "--buckets", "8", "--stream", ckpt])
    assert rc == 0
    docs = IcebergTable.load(out).read(spark)
    assert docs.count() == 90
    assert docs.select("url").distinct().count() == 90


def test_warc_ingest_para_dedup_store(spark, warc_corpus, tmp_path, capsys):
    """CCNet cross-dump flow on the CLI: dump 0 (one of the three WARC
    shards) seeds the paragraph key store; dump 1 (every shard) keeps
    the new pages' paragraphs and dedups the seen ones; dump 2 (the
    same pages re-crawled) dedups against it, so every content-bearing
    paragraph drops and only layout remains.  After each dump the
    store holds exactly the prior keys plus ``para_keys`` of the
    dump's extracted text, each once."""
    import os

    from metacrafter_spark.corpus.html import with_extracted_text
    from metacrafter_spark.io.warc import scan_warc_cdx
    from metacrafter_spark.ops.dedup import para_keys

    store = str(tmp_path / "parastore")
    one, every = (f"{warc_corpus}/{g}.cdx" for g in ("part-00000", "*"))

    def ingest(i, cdx):
        assert main(["warc-ingest", cdx, warc_corpus,
                     str(tmp_path / f"d{i}"), str(tmp_path / f"m{i}"),
                     "--buckets", "8", "--plain-parquet",
                     "--para-dedup-store", store]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def batch(cdx):
        # everything a dump contributes, keyed by the library's rule
        return {r["key"] for r in para_keys(with_extracted_text(
            scan_warc_cdx(spark, cdx, warc_corpus),
            "html", "text")).collect()}

    def stored():
        keys = [r["key"] for r in spark.read.parquet(store).collect()]
        assert len(keys) == len(set(keys))
        return set(keys)

    p0 = ingest(0, one)
    assert 0 < p0["processed"] < 200
    assert os.path.isdir(store)
    seen = stored()
    assert seen and seen == batch(one)

    p1 = ingest(1, every)
    assert p1["processed"] == 200 and p1["kept_total"] > 0
    assert p1["para_removed"] > 0
    assert stored() == seen | batch(every) != seen
    seen = stored()

    p2 = ingest(2, every)
    assert p2["para_removed"] > 0
    docs2 = spark.read.parquet(str(tmp_path / "d2"))
    # no content-bearing paragraph survives the second crawl of the
    # same pages — only layout (no alphanumerics) remains
    residue = docs2.filter(
        F.length(F.regexp_replace("text", "[^a-zA-Z0-9]", "")) > 0)
    assert residue.count() == 0
    assert p2["kept_total"] == 0
    # stable under an already-seen dump
    assert stored() == seen | batch(every) == seen


def test_warc_ingest_para_dedup_store_stream_refused(spark, warc_corpus,
                                                     tmp_path):
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="batch mode only"):
        main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
              str(tmp_path / "d"), str(tmp_path / "m"),
              "--stream", str(tmp_path / "cp"),
              "--para-dedup-store", str(tmp_path / "ps")])
    with _pytest.raises(SystemExit, match="batch mode only"):
        main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
              str(tmp_path / "d"), str(tmp_path / "m"),
              "--stream", str(tmp_path / "cp"),
              "--minhash-store", str(tmp_path / "ms")])


def test_warc_ingest_minhash_store(spark, warc_corpus, tmp_path, capsys):
    """FineWeb cross-dump flow on the CLI: dump 1 seeds the MinHash
    signature store; dump 2 (the same pages re-crawled) near-dups the
    prior dump on every page — all 200 get drop_reason='near_dup',
    lineage rows are KEPT (marked, not removed), and the store is a
    fixed point (no survivors to add)."""
    import os

    store = str(tmp_path / "mhstore")
    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               str(tmp_path / "d1"), str(tmp_path / "m1"),
               "--buckets", "8", "--plain-parquet",
               "--minhash-store", store])
    assert rc == 0
    p1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert p1["processed"] == 200 and p1["kept_total"] > 0
    assert p1["minhash_seen"] == 200
    assert os.path.isdir(store)
    sigs_n = spark.read.parquet(store).count()
    # survivors only (and only docs with shingles) enter the store
    assert 0 < sigs_n <= 200 - p1["minhash_dropped"]

    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               str(tmp_path / "d2"), str(tmp_path / "m2"),
               "--buckets", "8", "--plain-parquet",
               "--minhash-store", store])
    assert rc == 0
    p2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert p2["minhash_dropped"] == 200
    assert p2["kept_total"] == 0
    docs2 = spark.read.parquet(str(tmp_path / "d2"))
    assert docs2.count() == 200  # marked, not removed: lineage intact
    assert docs2.filter(F.col("drop_reason") == "near_dup").count() == 200
    assert docs2.filter(F.col("nd_prior_dups") >= 1).count() == 200
    # no survivors in dump 2 → the store did not grow
    assert spark.read.parquet(store).count() == sigs_n


def test_key_store_swap_crash_recovery(spark, tmp_path):
    """advance_key_store never has a window holding no store: a crash
    between the two renames leaves the previous store at <path>.old,
    which read_key_store moves back."""
    import os

    from metacrafter_spark.corpus.resume import (
        advance_key_store, read_key_store,
    )

    store = str(tmp_path / "store")
    assert read_key_store(spark, store) is None
    v1 = spark.createDataFrame([("a",), ("b",)], "key string")
    advance_key_store(v1, store)
    assert {r["key"] for r in read_key_store(spark, store).collect()} \
        == {"a", "b"}
    # advance from the store's own lazy read-plan (the CLI shape)
    v2 = read_key_store(spark, store).union(
        spark.createDataFrame([("c",)], "key string"))
    advance_key_store(v2, store)
    assert read_key_store(spark, store).count() == 3
    assert not os.path.exists(store + ".old")
    assert not os.path.exists(store + ".tmp")
    # simulate the crash window: old renamed aside, new never landed
    os.rename(store, store + ".old")
    recovered = read_key_store(spark, store)
    assert recovered.count() == 3 and os.path.isdir(store)


def test_warc_ingest_url_hll_store(spark, warc_corpus, tmp_path, capsys):
    """Cross-dump unique-URL counter on the ingest CLI: dump 1 seeds
    the register store (estimate ~200 canonical URLs); re-ingesting
    the SAME dump is a fixed point (register max-merge idempotence —
    the estimate does not move and the store does not change);
    --stream refuses the flag."""
    import os

    store = str(tmp_path / "hllstore")
    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               str(tmp_path / "d1"), str(tmp_path / "m1"),
               "--buckets", "8", "--plain-parquet",
               "--url-hll-store", store])
    assert rc == 0
    p1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert p1["processed"] == 200
    assert abs(p1["url_distinct_est"] / 200 - 1) < 0.10
    assert os.path.isdir(store)
    regs1 = sorted(map(tuple, spark.read.parquet(store).collect()))

    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               str(tmp_path / "d2"), str(tmp_path / "m2"),
               "--buckets", "8", "--plain-parquet",
               "--url-hll-store", store])
    assert rc == 0
    p2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert p2["url_distinct_est"] == p1["url_distinct_est"]
    assert sorted(map(tuple,
                      spark.read.parquet(store).collect())) == regs1

    with pytest.raises(SystemExit, match="batch mode only"):
        main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
              str(tmp_path / "d3"), str(tmp_path / "m3"),
              "--stream", str(tmp_path / "cp"),
              "--url-hll-store", store])


def test_warc_ingest_all_three_stores_combined(spark, warc_corpus,
                                               tmp_path, capsys):
    """The combined production flow: paragraph-dedup, MinHash near-dup
    and unique-URL stores all active in ONE ingest.  Dump 1 seeds all
    three; re-ingesting the same pages as dump 2 must (a) near-dup
    every page against the minhash store, (b) strip every
    content-bearing paragraph against the para store, (c) leave the
    URL estimate and all three stores unchanged (fixed points), and
    (d) keep all summary fields consistent in one JSON."""
    import os

    ps, ms, hs = (str(tmp_path / n) for n in ("ps", "ms", "hs"))

    def run(i):
        rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
                   str(tmp_path / f"d{i}"), str(tmp_path / f"m{i}"),
                   "--buckets", "8", "--plain-parquet",
                   "--para-dedup-store", ps, "--minhash-store", ms,
                   "--url-hll-store", hs])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    p1 = run(1)
    assert p1["processed"] == 200
    assert p1["minhash_seen"] == 200
    assert abs(p1["url_distinct_est"] / 200 - 1) < 0.10
    assert all(os.path.isdir(s) for s in (ps, ms, hs))
    state1 = [sorted(map(tuple, spark.read.parquet(s).collect()))
              for s in (ps, ms, hs)]

    p2 = run(2)
    # every page near-dups the prior dump; nothing survives
    assert p2["minhash_dropped"] == 200 and p2["kept_total"] == 0
    # every content-bearing paragraph was already in the para store
    assert p2["para_removed"] > 0
    # the URL universe did not grow
    assert p2["url_distinct_est"] == p1["url_distinct_est"]
    state2 = [sorted(map(tuple, spark.read.parquet(s).collect()))
              for s in (ps, ms, hs)]
    assert state1 == state2  # all three stores are fixed points


def test_train_and_ingest_with_models(spark, warc_corpus, tmp_path,
                                      capsys):
    """The train-once / score-every-dump production flow on the CLI:
    mc train-lm + mc train-quality persist model artifacts, then
    warc-ingest --kenlm-model/--quality-model attaches the trained
    kn_ppl and q_model_p signal columns during ingestion."""
    corpus = synth_webpages(spark, 200, seed=5, partitions=4)
    train_dir = str(tmp_path / "train.parquet")
    (corpus.select(F.col("url").alias("doc_id"), "text",
                   # crude labels just to exercise the trainer: long
                   # pages are "good" — the plumbing is under test,
                   # not the model
                   (F.length("text") > 800).cast("int").alias("y"))
     .write.parquet(train_dir))

    lm = str(tmp_path / "lm_model")
    rc = main(["train-lm", train_dir, lm, "--vocab-size", "2048"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["order"] == 2 and out["ngram_types"] > 100

    qm = str(tmp_path / "q_model")
    rc = main(["train-quality", train_dir, qm, "--label-col", "y",
               "--iterations", "3", "--binary"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0.5 <= out["train_accuracy"] <= 1.0

    docs_tbl = str(tmp_path / "docs_tbl")
    met_tbl = str(tmp_path / "metrics_tbl")
    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               docs_tbl, met_tbl, "--buckets", "8",
               "--kenlm-model", lm, "--quality-model", qm])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["processed"] == 200
    docs = IcebergTable.load(docs_tbl).read(spark)
    assert {"kn_ppl", "q_model_p"} <= set(docs.columns)
    # signal-only: both columns scored for every document, no new
    # drop reasons introduced
    assert docs.filter(F.col("kn_ppl").isNull()).count() == 0
    assert docs.filter(F.col("q_model_p").isNull()).count() == 0
    reasons = {r["drop_reason"] for r in
               docs.select("drop_reason").distinct().collect()}
    assert "lm_perplexity" not in reasons
    assert "model_quality" not in reasons

    # a biting LM bar flips previously-kept docs to lm_perplexity
    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               str(tmp_path / "docs2"), str(tmp_path / "met2"),
               "--buckets", "8", "--kenlm-model", lm,
               "--kenlm-ppl-max", "0.5"])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["kept_total"] == 0
    docs2 = IcebergTable.load(str(tmp_path / "docs2")).read(spark)
    assert docs2.filter(
        F.col("drop_reason") == "lm_perplexity").count() > 0


def test_model_flag_validation(tmp_path):
    with pytest.raises(SystemExit):
        main(["warc-ingest", "x/*.cdx", "x", "o", "m",
              "--kenlm-ppl-max", "10"])
    with pytest.raises(SystemExit):
        main(["warc-ingest", "x/*.cdx", "x", "o", "m",
              "--quality-min-p", "0.5"])
    # stream mode validates thresholds-need-model the same way
    with pytest.raises(SystemExit):
        main(["warc-ingest", "x/*.cdx", "x", "o", "m",
              "--stream", str(tmp_path / "ckpt"),
              "--kenlm-ppl-max", "10"])


def test_cli_warc_ingest_stream_with_models(spark, tmp_path, capsys):
    """Streaming ingest with trained models: classification moves into
    the foreachBatch sink (batch semantics per micro-batch), so the
    model joins run and kn_ppl/q_model_p land in the Iceberg table —
    and the incremental second wave scores too."""
    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.io.warc import write_warc_shards

    d = tmp_path / "src"
    d.mkdir()
    out, met = str(tmp_path / "docs"), str(tmp_path / "met")
    ckpt = str(tmp_path / "ckpt")

    corpus = synth_webpages(spark, 60, seed=21, partitions=2)
    train_dir = str(tmp_path / "train.parquet")
    corpus.select(F.col("url").alias("doc_id"), "text") \
        .write.parquet(train_dir)
    lm = str(tmp_path / "lm_model")
    assert main(["train-lm", train_dir, lm,
                 "--vocab-size", "1024"]) == 0
    capsys.readouterr()

    write_warc_shards(corpus, str(d), 2, prefix="w1").collect()
    rc = main(["warc-ingest", str(d / "*.cdx"), str(d), out, met,
               "--buckets", "8", "--stream", ckpt,
               "--kenlm-model", lm])
    assert rc == 0
    docs = IcebergTable.load(out).read(spark)
    assert docs.count() == 60
    assert "kn_ppl" in docs.columns
    assert docs.filter(F.col("kn_ppl").isNull()).count() == 0

    # second wave: only the new shard streams in, scored the same way
    corpus2 = synth_webpages(spark, 90, seed=22, partitions=2) \
        .filter(F.regexp_extract("url", r"/article/(\d+)$", 1)
                .cast("long") >= 60)
    write_warc_shards(corpus2, str(d), 1, prefix="w2").collect()
    rc = main(["warc-ingest", str(d / "*.cdx"), str(d), out, met,
               "--buckets", "8", "--stream", ckpt,
               "--kenlm-model", lm])
    assert rc == 0
    docs = IcebergTable.load(out).read(spark)
    assert docs.count() == 90
    assert docs.filter(F.col("kn_ppl").isNull()).count() == 0


def test_train_langid_and_ingest(spark, warc_corpus, tmp_path, capsys):
    """mc train-langid persists the supervised langid; warc-ingest
    --langid-model attaches ft_lang/ft_score signal columns."""
    labeled = spark.createDataFrame(
        [(0, "en", "the quick brown fox jumps over the lazy dog"),
         (1, "en", "all work and no play makes a dull day today"),
         (2, "fr", "le renard brun saute par dessus le chien"),
         (3, "fr", "tout le travail et pas de jeu du jour")],
        "doc_id int, lang string, text string")
    train_dir = str(tmp_path / "langid_train.parquet")
    labeled.write.parquet(train_dir)
    lid = str(tmp_path / "langid_model")
    rc = main(["train-langid", train_dir, lid, "--buckets", "512",
               "--iterations", "2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["classes"] == 2 and out["train_accuracy"] == 1.0

    docs_tbl = str(tmp_path / "docs_tbl")
    rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
               docs_tbl, str(tmp_path / "met_tbl"), "--buckets", "8",
               "--langid-model", lid])
    assert rc == 0
    capsys.readouterr()
    docs = IcebergTable.load(docs_tbl).read(spark)
    assert {"ft_lang", "ft_score"} <= set(docs.columns)
    assert docs.filter(F.col("ft_lang").isNull()).count() == 0


def test_warc_ingest_url_bloom_store(spark, warc_corpus, tmp_path, capsys):
    """Cross-dump exact-URL revisit dedup on the ingest CLI: dump 1
    seeds the Bloom store (no prior — zero revisits); re-ingesting the
    SAME pages marks ALL of them drop_reason='url_revisit' (the Bloom
    no-false-negative guarantee makes this deterministic, not
    probabilistic), kept_total drops to 0, and the store is a fixed
    point (bit_or idempotence).  Parameter-mismatch refusal and
    --stream refusal close the contract."""
    import os

    store = str(tmp_path / "bloomstore")

    def run(i, extra=()):
        rc = main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
                   str(tmp_path / f"d{i}"), str(tmp_path / f"m{i}"),
                   "--buckets", "8", "--plain-parquet",
                   "--url-bloom-store", store, *extra])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    p1 = run(1)
    assert p1["processed"] == 200
    assert p1["url_revisits_total"] == 0
    assert p1["kept_total"] > 0
    assert os.path.isdir(store)
    st = spark.read.parquet(store)
    assert {r["m_bits"] for r in st.select("m_bits").collect()} == {1 << 22}
    words1 = sorted(map(tuple, st.select("word", "bits").collect()))

    p2 = run(2)
    # every page's canonical URL is in the prior filter: all revisits
    assert p2["url_revisits_total"] == 200
    assert p2["kept_total"] == 0
    d2 = spark.read.parquet(str(tmp_path / "d2"))
    assert d2.filter(F.col("drop_reason") == "url_revisit").count() == 200
    # the store is a fixed point under an already-seen dump
    assert sorted(map(tuple, spark.read.parquet(store)
                      .select("word", "bits").collect())) == words1

    with pytest.raises(SystemExit, match="different"):
        run(3, extra=("--bloom-bits", "8192"))
    with pytest.raises(SystemExit, match="batch mode only"):
        main(["warc-ingest", warc_corpus + "/*.cdx", warc_corpus,
              str(tmp_path / "d4"), str(tmp_path / "m4"),
              "--stream", str(tmp_path / "cp"),
              "--url-bloom-store", store])


def test_warc_ingest_doc_attachments(spark, tmp_path, capsys):
    """--doc-attachments: a crawl whose responses are html AND
    pdf/docx/odt/rtf/doc/epub/plain-text payloads — every one yields
    its text through the unified router; Content-Type breaks ties only
    where magic is inconclusive (text/plain)."""
    from datetime import datetime, timezone

    from metacrafter_spark.io.office_codec import (
        write_doc, write_docx, write_epub, write_odt, write_rtf,
    )
    from metacrafter_spark.io.pdf_codec import write_simple_pdf
    from metacrafter_spark.io.warc import write_warc

    body = "Attachment body text.\nSecond paragraph with detail."
    recs, expected = [], {}
    mk = {
        "html": (lambda t: f"<html><body>{t}</body></html>"
                 .encode(), "text/html; charset=utf-8"),
        "pdf": (lambda t: write_simple_pdf([t]), "application/pdf"),
        "docx": (lambda t: write_docx(t),
                 "application/vnd.openxmlformats-officedocument"
                 ".wordprocessingml.document"),
        "odt": (lambda t: write_odt(t),
                "application/vnd.oasis.opendocument.text"),
        "rtf": (lambda t: write_rtf(t), "application/rtf"),
        "doc": (lambda t: write_doc(t), "application/msword"),
        "epub": (lambda t: write_epub(t), "application/epub+zip"),
        # magic-inconclusive: only the Content-Type says it's text
        "txt": (lambda t: t.encode(), "text/plain; charset=utf-8"),
    }
    for i, (kind, (build, ctype)) in enumerate(sorted(mk.items())):
        url = f"https://files.example.com/{kind}/item{i}"
        recs.append({"url": url,
                     "ts": datetime(2025, 3, 1, tzinfo=timezone.utc),
                     "html": build(body), "content_type": ctype,
                     "mime": ctype.split(";")[0]})
        expected[url] = body
    d = tmp_path / "mixedwarc"
    d.mkdir()
    write_warc(recs, str(d / "part-00000.warc.gz"),
               str(d / "part-00000.cdx"))

    out = str(tmp_path / "docs_tbl")
    met = str(tmp_path / "metrics_tbl")
    rc = main(["warc-ingest", str(d) + "/*.cdx", str(d), out, met,
               "--buckets", "2", "--doc-attachments"])
    assert rc == 0
    docs = IcebergTable.load(out).read(spark)
    got = {r["url"]: (r["text"], r["payload_type"])
           for r in docs.collect()}
    assert len(got) == len(recs)
    for url, text in expected.items():
        kind = url.split("/")[3]
        want_type = {"txt": "text"}.get(kind, kind)
        assert got[url] == (text, want_type), (url, got[url][1])

    # --main-text is html-only: the combination must refuse
    with pytest.raises(SystemExit):
        main(["warc-ingest", str(d) + "/*.cdx", str(d), out, met,
              "--doc-attachments", "--main-text"])


def test_warc_ingest_grand_finale_all_subsystems(spark, tmp_path,
                                                 capsys):
    """Every subsystem in ONE composed run — the full production shape:
    mixed html + document-attachment payloads, robots.txt harvested
    from the crawl itself, all three trained models scoring, mojibake
    repair, a toxicity wordlist, and all three cross-dump stores
    (paragraph keys, MinHash signatures, URL Bloom).  A second
    ingestion of the same dump against the advanced stores then marks
    every page as a revisit — the cross-dump effects compose with the
    model/attachment machinery instead of fighting it."""
    from datetime import datetime, timezone

    from metacrafter_spark.io.office_codec import write_docx, write_rtf
    from metacrafter_spark.io.pdf_codec import write_simple_pdf
    from metacrafter_spark.io.warc import write_warc

    corpus = synth_webpages(spark, 120, seed=11, partitions=4)
    rows = corpus.select("url", "warc_ts", "html", "text").collect()
    ts = datetime(2025, 5, 1, tzinfo=timezone.utc)
    recs = [{"url": r["url"], "ts": ts, "html": bytes(r["html"])}
            for r in rows]
    # DISTINCT bodies: the cross-corpus paragraph dedup correctly
    # strips a paragraph repeated across documents (found the hard way
    # — identical attachment bodies came back empty for all but the
    # first)
    def att_body(kind):
        return (f"Unique {kind} paragraph one.\n"
                f"Unique {kind} paragraph two.")

    for kind, payload, ctype in [
            ("docx", write_docx(att_body("docx")),
             "application/vnd.openxmlformats-officedocument"
             ".wordprocessingml.document"),
            ("pdf", write_simple_pdf([att_body("pdf")]),
             "application/pdf"),
            ("rtf", write_rtf(att_body("rtf")), "application/rtf")]:
        recs.append({"url": f"https://files.example.com/a.{kind}",
                     "ts": ts, "html": payload, "content_type": ctype,
                     "mime": ctype})
    host = rows[0]["url"].split("/")[2]
    recs.append({"url": f"https://{host}/robots.txt", "ts": ts,
                 "html": b"User-agent: *\nDisallow: /private/\n",
                 "content_type": "text/plain", "mime": "text/plain"})
    d = tmp_path / "dump"
    d.mkdir()
    write_warc(recs, str(d / "p-00000.warc.gz"), str(d / "p-00000.cdx"))

    # train all three models on the synthetic corpus
    train_dir = str(tmp_path / "train.parquet")
    corpus.select(F.col("url").alias("doc_id"), "text", "lang",
                  (F.length("text") > 800).cast("int").alias("y")) \
        .write.parquet(train_dir)
    lm, qm, lid = (str(tmp_path / m) for m in ("lm", "qm", "lid"))
    assert main(["train-lm", train_dir, lm,
                 "--vocab-size", "2048"]) == 0
    assert main(["train-quality", train_dir, qm, "--label-col", "y",
                 "--iterations", "2", "--binary"]) == 0
    assert main(["train-langid", train_dir, lid, "--buckets", "512",
                 "--iterations", "2"]) == 0
    capsys.readouterr()

    stores = {f: str(tmp_path / f)
              for f in ("para_store", "mh_store", "bloom_store")}
    args = ["warc-ingest", str(d) + "/*.cdx", str(d),
            str(tmp_path / "docs1"), str(tmp_path / "met1"),
            "--buckets", "4", "--doc-attachments", "--fix-mojibake",
            "--toxicity-wordlist", "zorbly,grumph",
            "--robots-from-crawl",
            "--kenlm-model", lm, "--quality-model", qm,
            "--langid-model", lid,
            "--para-dedup-store", stores["para_store"],
            "--minhash-store", stores["mh_store"],
            "--url-bloom-store", stores["bloom_store"],
            "--bloom-bits", str(1 << 18)]
    assert main(args) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # robots.txt is consumed as policy, not corpus
    assert payload["processed"] == 123

    docs = IcebergTable.load(str(tmp_path / "docs1")).read(spark)
    assert docs.count() == 123
    # attachments extracted through the router with their route
    att = {r["url"].rsplit(".", 1)[-1]: (r["payload_type"], r["text"])
           for r in docs.filter(
               F.col("url").startswith("https://files.")).collect()}
    for kind in ("docx", "pdf", "rtf"):
        assert att[kind] == (kind, att_body(kind)), kind
    # html pages: byte-identical extraction vs the source corpus
    src = corpus.select("url", F.col("text").alias("src_text"))
    joined = docs.join(src, "url")
    assert joined.count() == 120
    assert joined.filter(F.col("text") != F.col("src_text")).count() == 0
    # all three models scored every document
    for c in ("kn_ppl", "q_model_p", "ft_lang"):
        assert docs.filter(F.col(c).isNull()).count() == 0, c
    # all three stores advanced
    for p in stores.values():
        assert spark.read.parquet(p).count() > 0

    # second ingestion of the SAME dump: the Bloom store marks every
    # page a url_revisit (drop), models/attachments still compose
    assert main(args[:3] + [str(tmp_path / "docs2"),
                            str(tmp_path / "met2")] + args[5:]) == 0
    payload2 = json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])
    assert payload2["processed"] == 123
    assert payload2["kept_total"] == 0
    docs2 = IcebergTable.load(str(tmp_path / "docs2")).read(spark)
    assert docs2.filter(F.col("drop_reason") == "url_revisit") \
        .count() == 123
    assert docs2.filter(F.col("kn_ppl").isNull()).count() == 0
