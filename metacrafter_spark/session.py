"""SparkSession factory with scale-oriented defaults.

Used by tests, ``__spark_entry__.py`` and ``bench.py``.  On a real
cluster the same settings apply (AQE on, Arrow on); only ``master`` and
partition counts change via arguments / spark-submit conf.
"""

from __future__ import annotations

import contextlib
import os
from typing import Optional

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "metacrafter-spark",
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    if cores is not None:
        master = f"local[{cores}]"
    else:
        master = os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting;
        # at 100 TB this is what keeps reducers balanced without hand-tuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF exchange — the rule kernels depend on it.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local mode: the driver JVM IS the executor — the 1g default
        # throttles everything with GC (this box has 125 GiB)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO parquet column stats —
        # killing min/max file skipping on timestamps; INT64 micros is
        # the modern interop type and what Iceberg tables expect
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # generated-code cache: the default 100 entries is smaller than
        # one warc-ingest call's working set (~160 classes across the
        # dump-1 and dump-2 plan shapes; scan-file: 69), and LRU
        # eviction made every repeat call recompile all of it (~127
        # classes, 1.6-2.1 s of Janino).  1,000 holds both.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()


@contextlib.contextmanager
def job_phase(spark: SparkSession, label: Optional[str]):
    """Name the Spark jobs and SQL executions started inside the block
    ``label`` (Spark's job description: the status store and the UI
    show it instead of the call site).  The caller's description is
    restored on exit, so a caller-owned session keeps its own labels.
    No ``label`` leaves the description alone."""
    if not label:
        yield
        return
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
