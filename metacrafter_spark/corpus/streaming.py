"""Structured-Streaming variant of the corpus pipeline.

The reference is batch-only (SURVEY.md §2.10); this is the engine's own
extension: the per-document pipeline is stateless, so the same
``classify_corpus`` plan runs unchanged on a streaming DataFrame.
``foreachBatch`` writes each micro-batch's output partitioned by
``(batch_id, bucket_id)`` with dynamic partition overwrite (replays
overwrite their own partitions — no duplicate rows) plus the per-bucket
metrics, read off the partitions just written — giving the same
lineage/resume table the batch path uses, on top of the streaming
checkpoint directory.

``trigger(availableNow=True)`` drains whatever input exists and stops —
the batch-friendly way to run (and test) a stream.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from metacrafter_spark.corpus.pipeline import bucket_metrics, classify_corpus
from metacrafter_spark.corpus.resume import observed_write
from metacrafter_spark.corpus.scrub import SpanRule, default_scrub_rules

WEBPAGE_DDL = ("url string, warc_ts timestamp, html binary, "
               "text string, lang string")


def read_webpage_stream(spark: SparkSession, input_path: str,
                        fmt: str = "parquet") -> DataFrame:
    return (
        spark.readStream.format(fmt)
        .schema(WEBPAGE_DDL)
        .option("maxFilesPerTrigger", 8)
        .load(input_path)
    )


def stream_classify(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    metrics_path: str,
    checkpoint_path: str,
    *,
    scrub_rules: Optional[tuple[SpanRule, ...]] = None,
    available_now: bool = True,
    fault_hook=None,
):
    """Start (and by default drain) the streaming classify job.

    ``fault_hook(batch_id)`` (test-only) runs between the sink's two
    writes — after the corpus partitions land but before metrics — so a
    raise simulates a crash between sink side-effects and the streaming
    checkpoint commit.  The failure-injection test uses it to prove the
    dynamic-partition-overwrite replay recovers byte-for-byte."""
    rules = scrub_rules if scrub_rules is not None else default_scrub_rules()
    stream = read_webpage_stream(spark, input_path)
    classified = classify_corpus(stream, scrub_rules=rules)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Exactly-once-per-batch: partitions are keyed by (batch_id,
        # bucket_id) and written with dynamic partition overwrite, so a
        # REPLAYED micro-batch (restart between sink and checkpoint
        # commit) overwrites ITS OWN deterministic partitions instead of
        # appending duplicates — while different batches sharing a
        # bucket_id never clobber each other.
        from pyspark.sql import functions as F

        rows, _ = observed_write(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            lambda d: (d.write.mode("overwrite")
                       .option("partitionOverwriteMode", "dynamic")
                       .partitionBy("batch_id", "bucket_id")
                       .parquet(output_path)))
        if fault_hook is not None:
            fault_hook(batch_id)
        if not rows:  # an empty batch writes no partition to read
            return
        # metrics from this batch's written partitions, not a replay
        written = spark.read.parquet(f"{output_path}/batch_id={batch_id}")
        (bucket_metrics(written, rules, run_id=f"stream-{batch_id}")
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id", "bucket_id").parquet(metrics_path))

    writer = (
        classified.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_exact_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    n_shards: int = 32,
    bloom_bits: int = 1 << 20,
    available_now: bool = True,
):
    """Custom stateful streaming operator: cross-batch exact dedup via
    ``applyInPandasWithState``.

    Documents are sharded by content hash; each shard's ``GroupState``
    holds a fixed-size Bloom filter of every content hash ever seen on
    that shard (``bloom_bits``/8 bytes — BOUNDED state no matter how
    many documents flow through, the property an unbounded seen-set
    would lose at 10¹² docs).  A document is emitted only the first
    time its content hash is seen; Bloom false positives drop a few
    never-seen docs instead of duplicating (the conservative direction
    for training corpora; size ``bloom_bits`` for the expected per-shard
    cardinality — at 1 MiB/shard and 1% FP that's ~10⁶ docs/shard).
    State persists in the checkpoint, so dedup spans RUNS, not just
    batches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_webpage_stream(spark, input_path)
    hashed = stream.withColumn("__h", F.sha2(F.col("text"), 256)).withColumn(
        "__shard", F.pmod(F.xxhash64(F.col("__h")), F.lit(n_shards))
    )
    out_schema = WEBPAGE_DDL
    state_schema = "bloom binary, n long"
    n_bytes = bloom_bits // 8

    def _positions(h: str) -> "np.ndarray":
        # 4 probe positions from the (already cryptographic) content hash
        return np.array(
            [int(h[i * 8: i * 8 + 8], 16) % bloom_bits for i in range(4)]
        )

    def dedup_fn(key, pdfs, state: GroupState):
        if state.exists:
            (bloom_bytes, n_seen) = state.get
            bloom = np.frombuffer(bytearray(bloom_bytes), dtype=np.uint8).copy()
        else:
            bloom, n_seen = np.zeros(n_bytes, dtype=np.uint8), 0
        for pdf in pdfs:
            keep_rows = []
            batch_seen: set[str] = set()
            for idx, h in zip(pdf.index, pdf["__h"]):
                pos = _positions(h)
                hit = bool(
                    np.all(bloom[pos // 8] & (1 << (pos % 8)).astype(np.uint8))
                )
                if (not hit) and h not in batch_seen:
                    keep_rows.append(idx)
                    batch_seen.add(h)
                    bloom[pos // 8] |= (1 << (pos % 8)).astype(np.uint8)
                    n_seen += 1
            if keep_rows:
                yield pdf.loc[keep_rows].drop(columns=["__h", "__shard"])
        state.update((bloom.tobytes(), n_seen))

    deduped = hashed.groupBy("__shard").applyInPandasWithState(
        dedup_fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(output_path))

    writer = (
        deduped.writeStream.outputMode("update").foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_domain_windows(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    window: str = "1 day",
    watermark: str = "2 days",
    available_now: bool = True,
):
    """Event-time windowed per-domain counts with a late-data watermark.

    The stateful-streaming counterpart of ``salted_domain_stats``:
    ``withWatermark(warc_ts)`` bounds state (documents later than the
    watermark are dropped, finalized windows are evicted), the windowed
    groupBy aggregates per (event-time window, domain), and append mode
    emits each window exactly once — when the watermark passes its end —
    into an exactly-once file sink (checkpoint + _spark_metadata).
    Windows still inside the watermark stay in state for the NEXT run
    over the same checkpoint, so late arrivals within the allowance are
    counted, not duplicated."""
    from pyspark.sql import functions as F

    from metacrafter_spark.corpus.pipeline import domain_of

    stream = read_webpage_stream(spark, input_path)
    agg = (
        stream.withColumn("domain", domain_of("url"))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "domain", "n_docs", "n_chars",
        )
    )
    writer = (
        agg.writeStream.outputMode("append").format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_enrich_domains(
    spark: SparkSession,
    input_path: str,
    domains_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    *,
    available_now: bool = True,
):
    """Stream-static broadcast join: enrich each micro-batch with a
    (small) static domain table — the allow/block-list pattern a crawl
    pipeline runs in front of classification.

    The static side is planned per micro-batch, so a refreshed domain
    table takes effect on the next trigger without restarting the
    stream; broadcasting it keeps the join shuffle-free (the streaming
    side never repartitions).  Pages whose domain is marked
    ``blocked=true`` are dropped; unknown domains pass through with
    ``reputation`` null — a LEFT join, so the static table can be
    sparse."""
    from pyspark.sql import functions as F

    from metacrafter_spark.corpus.pipeline import domain_of

    stream = read_webpage_stream(spark, input_path).withColumn(
        "domain", domain_of("url")
    )
    enriched = (
        stream.join(F.broadcast(domains_df), "domain", "left")
        .withColumn("blocked", F.coalesce(F.col("blocked"), F.lit(False)))
        .filter(~F.col("blocked"))
        .drop("blocked")
    )
    writer = (
        enriched.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_dedup_within_watermark(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    watermark: str = "1 day",
    available_now: bool = True,
):
    """Built-in bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` on the content hash keeps one row
    per duplicate group whose event times fall within the watermark
    allowance, and EVICTS state once the watermark passes — unlike
    plain ``dropDuplicates``, whose state grows without bound on an
    infinite stream.  Complements :func:`stream_exact_dedup` (the
    custom Bloom operator): this one is exact within the time bound
    and forgets afterwards; the Bloom one is probabilistic and
    remembers forever in O(bits)."""
    from pyspark.sql import functions as F

    stream = read_webpage_stream(spark, input_path)
    dedup = (
        stream.withColumn("content_sha", F.sha2(F.col("text"), 256))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_sha"])
    )
    writer = (
        dedup.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_warc_ingest(
    spark: SparkSession,
    cdx_glob: str,
    warc_dir: str,
    output_tbl: str,
    metrics_tbl: str,
    checkpoint_path: str,
    *,
    n_buckets: Optional[int] = None,
    toxicity_wordlist: Optional[tuple[str, ...]] = None,
    fix_mojibake: bool = False,
    kenlm_model=None,
    kenlm_ppl_max=None,
    quality_model=None,
    quality_min_p=None,
    langid_model=None,
    available_now: bool = True,
    fault_hook=None,
):
    """Continuous Common-Crawl ingestion into Iceberg (round 5).

    New CDXJ index files landing in ``cdx_glob`` stream through the
    record-parallel WARC range-fetch reader (``io/warc.py``), html→text
    extraction, and the keep/drop + PII-scrub pipeline; each micro-batch
    commits to the pure-Python Iceberg tables as a dynamic partition
    overwrite keyed on (batch_id, bucket_id) — a REPLAYED batch (crash
    between sink and checkpoint commit) swaps its own partitions in a
    fresh snapshot instead of appending duplicates, which is the
    exactly-once contract the parquet streaming sink in
    :func:`stream_classify` proves, now on real snapshot commits.  The
    file source's processed-file log makes re-runs incremental: only
    index files not yet checkpointed are read.

    At scale the index stream is line-splittable text and the fetch is
    map-side, so each micro-batch is one narrow stage before the
    pipeline — the same plan shape the batch `warc-ingest` CLI runs.
    """
    from pyspark.sql import functions as F

    from metacrafter_spark.corpus.html import with_extracted_text
    from metacrafter_spark.io.iceberg import (
        IcebergTable, PyIcebergTableIO, flatten_struct_columns)
    from metacrafter_spark.io.warc import cdx_fetch, cdx_parse

    rules = default_scrub_rules()
    lines = spark.readStream.text(cdx_glob)
    pages = cdx_fetch(cdx_parse(lines), warc_dir)
    pages = with_extracted_text(pages, "html", "text")
    src = pages.select("url", "warc_ts", "html", "text",
                       F.lit("").alias("lang"))
    kw = {} if n_buckets is None else {"n_buckets": n_buckets}
    model_kw = {}
    if kenlm_model is not None:
        model_kw["kenlm_model"] = kenlm_model
        if kenlm_ppl_max is not None:
            model_kw["kenlm_ppl_max"] = kenlm_ppl_max
    if quality_model is not None:
        model_kw["quality_model"] = quality_model
        if quality_min_p is not None:
            model_kw["quality_min_p"] = quality_min_p
    if langid_model is not None:
        model_kw["langid_model"] = langid_model

    def _classify(frame: DataFrame) -> DataFrame:
        return classify_corpus(frame, scrub_rules=rules,
                               toxicity_wordlist=toxicity_wordlist,
                               fix_mojibake=fix_mojibake,
                               **kw, **model_kw)

    # The trained-model stages score through dedup + aggregation +
    # join shapes Structured Streaming forbids on an unbounded frame,
    # so with models enabled classification moves INSIDE foreachBatch
    # (each micro-batch is a bounded DataFrame with full batch
    # semantics — the same plan the batch CLI runs per dump).  The
    # default path keeps classifying the stream frame itself, leaving
    # its plan and the exactly-once tests byte-stable.
    classified = src if model_kw else _classify(src)
    io = PyIcebergTableIO(spark)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if model_kw:
            batch_df = _classify(batch_df)
        # the model-score cache this batch's pipeline persisted (None
        # without models): released after this batch's writes, so
        # foreachBatch does not accumulate one cached frame per batch
        score_cache = batch_df.score_cache if model_kw else None
        try:
            io.overwrite_partitions(
                flatten_struct_columns(
                    batch_df.withColumn("batch_id", F.lit(batch_id))),
                output_tbl, partition_by=["batch_id", "bucket_id"])
            if fault_hook is not None:
                fault_hook(batch_id)
            # metrics from this batch's written partitions (pruned on
            # the driver from the manifests), not a replay of the batch
            written = IcebergTable.load(output_tbl).read(
                spark, partition_filter={"batch_id": batch_id})
            m = (bucket_metrics(written, rules, run_id=f"stream-{batch_id}")
                 .withColumn("batch_id", F.lit(batch_id)))
            io.overwrite_partitions(m, metrics_tbl,
                                    partition_by=["batch_id", "bucket_id"])
        finally:
            if score_cache is not None:
                score_cache.unpersist(blocking=False)

    writer = (classified.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
