# -*- coding: utf-8 -*-
"""Driver-side plan building: py4j round-trip budgets.

Every Column-API call crosses py4j to the driver JVM at least once (an
``F.col`` is 13 round trips, an ``F.filter`` with a Python lambda ~50),
while a projection of SQL text costs about one per expression.  The
warc-ingest stages are built as SQL text, one projection per
dependency level; these ceilings fail if a stage slides back to
per-column Column-API trees.  Each counts ``send_command`` calls on
py4j's client-server connection while the lazy frame is BUILT; no
Spark job runs inside a counted block, except in the whole-call
``warc-ingest`` ceiling, which counts everything one call sends.
"""
import contextlib
import gc
import datetime as dt
import shutil

import pytest
from py4j.clientserver import ClientServerConnection

from metacrafter_spark.cli import main
from metacrafter_spark.corpus.pipeline import classify_corpus
from metacrafter_spark.corpus.webpages import synth_webpages
from metacrafter_spark.io.iceberg import (
    PyIcebergTableIO, flatten_struct_columns,
)
from metacrafter_spark.io.warc import write_warc_shards

#: measured 430-610 per build; the Column-API build made ~6,800
CLASSIFY_CEILING = 1_000
#: measured ~30; per-column withColumn made ~230-470
FLATTEN_CEILING = 100
#: measured ~90 for 4 partition groups; per-column select made ~3,900
READ_CEILING = 400
#: a whole warc-ingest call against existing paragraph/URL stores,
#: Spark jobs included: measured ~2,440; ~3,150 with Column-API trees
#: in the CDX parse, the HLL registers and the resume observations
WARC_INGEST_CEILING = 2_900


@contextlib.contextmanager
def round_trips():
    """Count py4j commands sent by this process inside the block."""
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        n[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()  # queued JavaObject releases are sent as commands too
    ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        ClientServerConnection.send_command = send
    assert n[0] > 0, "py4j is not in client-server mode; nothing counted"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(
        [(f"https://site{i}.example/p/{i}",
          dt.datetime(2024, 1, 1 + i % 28), b"<p>x</p>",
          f"The page {i} says hello to the world and the reader. " * 12,
          "") for i in range(40)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def _counted(build):
    build()  # first use of a function resolves py4j views; not counted
    with round_trips() as n:
        build()
    return n[0]


def test_classify_corpus_round_trips(spark, pages):
    assert _counted(lambda: classify_corpus(pages)) <= CLASSIFY_CEILING


def test_flatten_struct_columns_round_trips(spark, pages):
    classified = classify_corpus(pages)
    assert _counted(lambda: flatten_struct_columns(classified)) \
        <= FLATTEN_CEILING


def test_iceberg_read_round_trips(spark, pages, tmp_path):
    path = str(tmp_path / "out")
    flat = flatten_struct_columns(classify_corpus(pages, n_buckets=4))
    io = PyIcebergTableIO(spark)
    io.overwrite_partitions(flat, path, partition_by=["bucket_id"])
    assert io.read(path).select("bucket_id").distinct().count() == 4
    assert _counted(lambda: io.read(path)) <= READ_CEILING


def test_warc_ingest_round_trips(spark, tmp_path):
    """One ``warc-ingest`` of a second dump, from CDX scan to store
    advance, Spark jobs and all.  The first call seeds the stores and
    resolves py4j views; the counted call runs against a copy of them."""
    dump = tmp_path / "dump"
    dump.mkdir()
    write_warc_shards(synth_webpages(spark, 40, seed=3, partitions=2),
                      str(dump), 2).collect()

    def ingest(name, stores):
        assert main([
            "warc-ingest", str(dump / "*.cdx"), str(dump),
            str(tmp_path / name / "out"), str(tmp_path / name / "met"),
            "--buckets", "4",
            "--para-dedup-store", str(stores / "para"),
            "--url-hll-store", str(stores / "hll")]) == 0

    ingest("first", tmp_path / "stores")
    shutil.copytree(tmp_path / "stores", tmp_path / "copy")
    with round_trips() as n:
        ingest("second", tmp_path / "copy")
    assert n[0] <= WARC_INGEST_CEILING
