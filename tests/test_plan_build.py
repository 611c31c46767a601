# -*- coding: utf-8 -*-
"""Driver-side plan building: py4j round-trip budgets.

Every Column-API call crosses py4j to the driver JVM at least once (an
``F.col`` is 13 round trips, an ``F.filter`` with a Python lambda ~50),
while a projection of SQL text costs about one per expression.  The
warc-ingest stages and scan-file's analyzer and matcher are built as
SQL text, one projection per dependency level; these ceilings fail if
a stage slides back to per-column Column-API trees.  Each counts
``send_command`` calls on py4j's client-server connection while the
lazy frame is BUILT; no Spark job runs inside a counted block, except
in the whole-call ``warc-ingest`` and ``scan-file`` ceilings, which
count everything one call sends.

The column stats are also held to generated code that does not grow
with the table's width past the explode.
"""
import contextlib
import gc
import datetime as dt
import gzip
import re
import shutil
import sys
import time
from pathlib import Path

import pytest
from py4j.clientserver import ClientServerConnection

from metacrafter_spark.analyzer import (
    _stats_frame, analyzed_columns, with_row_seq,
)
from metacrafter_spark.cli import main
from metacrafter_spark.corpus.pipeline import classify_corpus
from metacrafter_spark.corpus.webpages import synth_webpages
from metacrafter_spark.io.iceberg import (
    PyIcebergTableIO, flatten_struct_columns,
)
from metacrafter_spark.io.warc import write_warc_shards

sys.path.insert(0, str(Path(__file__).resolve().parent))
from fixtures_gen import pii_profiles  # noqa: E402

#: measured 430-610 per build; the Column-API build made ~6,800
CLASSIFY_CEILING = 1_000
#: measured ~30; per-column withColumn made ~230-470
FLATTEN_CEILING = 100
#: measured ~90 for 4 partition groups; per-column select made ~3,900
READ_CEILING = 400
#: a whole warc-ingest call against existing paragraph/URL stores,
#: Spark jobs included: measured ~1,950; ~2,460 with the Column-API
#: canonicalize_url, ~3,150 with Column-API trees in the CDX parse, the
#: HLL registers and the resume observations
WARC_INGEST_CEILING = 2_350
#: HotSpot compiles no method of more bytecode bytes than this
#: (``DontCompileHugeMethods`` is on by default): a larger generated
#: method runs interpreted
HUGE_METHOD_BYTES = 8_000
#: a whole scan-file call on a 27-column gzip CSV, Spark jobs included:
#: measured 1,130-1,250 alone and 2,236 late in the full suite; the
#: Column-API analyzer and matcher made ~37,700
SCAN_FILE_CEILING = 2_700


def _drain_releases(timeout: float = 30.0) -> None:
    """Wait for py4j's finalizer thread to send the queued JavaObject
    releases.  It sends them in the background, so without the wait
    the releases of objects freed before a counted block (by earlier
    tests too) land inside it."""
    from pyspark import SparkContext

    queue = SparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + timeout
    while queue and time.monotonic() < deadline:
        time.sleep(0.05)


@contextlib.contextmanager
def round_trips():
    """Count py4j commands sent by this process inside the block."""
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        n[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()  # queued JavaObject releases are sent as commands too
    _drain_releases()
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


@pytest.fixture(scope="module")
def pii_csv(tmp_path_factory):
    """``pii_profiles`` (27 columns) as a gzip CSV, as scan-file reads
    a wide PII table."""
    import pandas as pd

    path = tmp_path_factory.mktemp("pii") / "pii_profiles.csv.gz"
    with gzip.open(path, "wt", encoding="utf-8", newline="") as f:
        pd.DataFrame(pii_profiles(400)).to_csv(f, index=False)
    return str(path)


@pytest.fixture(scope="module")
def scan_file_calls(spark, pii_csv, tmp_path_factory):
    """Two identical scan-file calls: the py4j round trips, generated
    classes and SQL executions (description, physical plan) of the
    second."""
    d = tmp_path_factory.mktemp("scan_file")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def scan(i):
        assert main(["scan-file", pii_csv,
                     "-o", str(d / f"report{i}.json")]) == 0

    scan(1)
    last = max((e.executionId() for e in executions()), default=-1)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    with round_trips() as n:
        scan(2)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled
    execs = [(e.description(), e.physicalPlanDescription() or "")
             for e in executions() if e.executionId() > last]
    return n[0], compiled, execs


def test_scan_file_round_trips(scan_file_calls):
    assert scan_file_calls[0] <= SCAN_FILE_CEILING


def test_scan_file_repeat_call_compiles_nothing(scan_file_calls):
    assert scan_file_calls[1] == 0


def test_scan_file_stats_hash_aggregate_only(scan_file_calls):
    """Every aggregation buffer of the column stats is fixed-width, so
    they run as HashAggregate: a string ``max`` or a ``collect_set``
    would force ObjectHashAggregate, which falls back to sorting past
    128 keys."""
    plans = [plan for desc, plan in scan_file_calls[2]
             if desc == "scan-file: scan" and "HashAggregate" in plan]
    assert plans
    for plan in plans:
        assert "ObjectHashAggregate" not in plan
        assert "SortAggregate" not in plan


@pytest.fixture
def aqe_off(spark):
    """AQE off for the test: ``codegenStringSeq`` reads the stages of a
    plan that is not adaptive."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def _stats_method_bytes(spark, ncols: int) -> dict[str, int]:
    """The largest generated method of each whole-stage subtree of the
    column-stats frame over ``ncols`` string columns, by the subtree's
    root operator (expression ids stripped)."""
    df = with_row_seq(spark.range(50).selectExpr(*(
        f"CAST(id % 7 AS STRING) AS col{i:03d}" for i in range(ncols))))
    plan = _stats_frame(df, analyzed_columns(df), ["", "None"]) \
        ._jdf.queryExecution().executedPlan()
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    stages = debug.codegenStringSeq(plan)
    out = {}
    for i in range(stages.size()):
        stage = stages.apply(i)
        root = re.sub(r"#\d+L?", "", stage._1().strip().splitlines()[0])
        out[root] = stage._3().maxMethodCodeSize()
    return out


def test_stats_generated_methods_do_not_grow_with_columns(spark, aqe_off):
    """The stats explode comes first and each per-value fact is written
    once after it, so only the explode's own stage grows with the
    column count; every stage after it generates the same code at 10
    and 100 columns, and no method passes HotSpot's JIT limit at the
    benchmark's 27."""
    def after_explode(sizes):
        return {root: n for root, n in sizes.items()
                if "Generate" not in root}

    narrow = after_explode(_stats_method_bytes(spark, 10))
    assert narrow
    assert after_explode(_stats_method_bytes(spark, 100)) == narrow
    assert max(_stats_method_bytes(spark, 27).values()) <= HUGE_METHOD_BYTES
