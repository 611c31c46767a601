"""Checkpoint/resume via per-bucket lineage — batch-native, no streaming.

The metrics table (one row per completed ``bucket_id``,
:func:`metacrafter_spark.corpus.pipeline.bucket_metrics`) doubles as the
checkpoint: a re-run anti-joins its input against completed buckets and
processes only the remainder, then writes the new buckets' metrics.

One pass: the classified frame is computed once, by the output write.
That write observes (``DataFrame.observe``) the rows and the
``bucket_id`` set it writes; the metrics are then aggregated from a
narrow columnar read of those buckets in the written table, never by
re-running the pipeline's lineage.

Idempotency: both the data and the metrics writes use DYNAMIC PARTITION
OVERWRITE on ``bucket_id`` — a crash between the data write and the
metrics write (or a replayed streaming micro-batch) reprocesses those
buckets and OVERWRITES their partitions instead of appending duplicate
rows.  A bucket is only marked completed after its data is written, so
the worst case is redundant work, never double rows.

Iceberg would give this snapshot isolation for free; in this sandbox
the same layout runs on plain parquet behind the ``TableIO`` seam.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from metacrafter_spark.util import sql_ident, sql_literal


class TableIO:
    """Thin table abstraction: parquet dirs now, Iceberg later."""

    def __init__(self, spark: SparkSession, fmt: str = "parquet"):
        self.spark = spark
        self.fmt = fmt

    def exists(self, path: str) -> bool:
        try:
            self.spark.read.format(self.fmt).load(path).schema
            return True
        except Exception:
            return False

    def read(self, path: str) -> Optional[DataFrame]:
        if not self.exists(path):
            return None
        return self.spark.read.format(self.fmt).load(path)

    def append(self, df: DataFrame, path: str, partition_by: Optional[list] = None):
        w = df.write.format(self.fmt).mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)

    def overwrite_partitions(self, df: DataFrame, path: str, partition_by: list):
        """Dynamic partition overwrite: replaces ONLY the partitions
        present in ``df`` — retries/replays overwrite instead of
        duplicating (Iceberg's overwrite-by-filter equivalent)."""
        (
            df.write.format(self.fmt)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .save(path)
        )


class IcebergTableIO(TableIO):
    """Iceberg-backed ``TableIO`` — the production target the north rule
    names: snapshot-isolated reads, ACID partition overwrite (a replayed
    bucket rewrite is one atomic snapshot swap, so resume gets
    serializable semantics instead of relying on parquet's
    last-writer-wins directory swap).

    ``path`` arguments are Iceberg table identifiers
    (``catalog.db.table``), not directories.  GATED: the
    iceberg-spark-runtime jar is not bundled in this sandbox, so
    construction verifies the class is loadable and raises with the
    exact ``spark-submit`` incantation otherwise — same honest-gate
    pattern as the avro reader (io/sources.py)."""

    def __init__(self, spark: SparkSession):
        try:
            spark._jvm.java.lang.Class.forName(  # noqa: SLF001
                "org.apache.iceberg.spark.SparkCatalog"
            )
        except Exception as e:
            raise NotImplementedError(
                "Iceberg runtime not on the classpath. Launch with "
                "--packages org.apache.iceberg:iceberg-spark-runtime-"
                "4.0_2.13:<version> and configure a catalog, e.g. "
                "--conf spark.sql.catalog.local=org.apache.iceberg.spark."
                "SparkCatalog --conf spark.sql.catalog.local.type=hadoop "
                "--conf spark.sql.catalog.local.warehouse=<path>. "
                "The parquet TableIO (dynamic partition overwrite) is the "
                "bundled fallback with the same idempotency contract."
            ) from e
        super().__init__(spark, fmt="iceberg")

    def exists(self, path: str) -> bool:
        return self.spark.catalog.tableExists(path)

    def read(self, path: str) -> Optional[DataFrame]:
        if not self.exists(path):
            return None
        return self.spark.table(path)

    def append(self, df: DataFrame, path: str, partition_by: Optional[list] = None):
        if not self.exists(path):
            w = df.writeTo(path).using("iceberg")
            for c in partition_by or []:
                w = w.partitionedBy(F.col(c))
            w.create()
        else:
            df.writeTo(path).append()

    def overwrite_partitions(self, df: DataFrame, path: str, partition_by: list):
        if not self.exists(path):
            self.append(df, path, partition_by)
        else:
            # atomic snapshot swap of exactly the partitions present in df
            df.writeTo(path).overwritePartitions()


def completed_buckets(io: TableIO, metrics_path: str) -> Optional[DataFrame]:
    m = io.read(metrics_path)
    if m is None:
        return None
    return m.filter(F.col("completed")).select("bucket_id").distinct()


def pending_input(
    df_with_buckets: DataFrame, io: TableIO, metrics_path: str
) -> DataFrame:
    """Anti-join the (tiny, broadcastable) completed-bucket set."""
    done = completed_buckets(io, metrics_path)
    if done is None:
        return df_with_buckets
    return df_with_buckets.join(F.broadcast(done), on="bucket_id", how="left_anti")


def observed_write(df: DataFrame,
                   write: Callable[[DataFrame], None]) -> tuple[int, list]:
    """Run ``write`` on ``df`` and return ``(rows, bucket_ids)`` it
    wrote, observed during that same pass (no second action)."""
    seen = Observation()
    write(df.observe(seen, F.expr("count(1) AS rows"),
                     F.expr("collect_set(bucket_id) AS buckets")))
    # read only after the write ran: get blocks until an action on the
    # observed frame has finished
    got = seen.get
    return got["rows"], sorted(got["buckets"])


def run_with_resume(
    classified: DataFrame,
    io: TableIO,
    out_path: str,
    metrics_path: str,
    *,
    rules: Optional[tuple] = None,
    sums: tuple[str, ...] = (),
    label: Optional[str] = None,
) -> dict:
    """Write output partitioned by bucket, then mark buckets complete.

    Both writes are dynamic-partition-overwrites on ``bucket_id``: a
    crash between them leaves data written but buckets unmarked — the
    re-run reprocesses those buckets and overwrites their partitions
    (idempotent), never appending duplicates.

    ``classified`` is computed once, by the output write.  The metrics
    (:func:`~metacrafter_spark.corpus.pipeline.bucket_metrics` with
    ``rules``) are aggregated from the written table, restricted to the
    buckets this run wrote; the same read observes the whole-table
    totals.  Returns ``processed`` (rows written), ``kept_total`` (kept
    rows in the whole output table) and the whole-table sum of each
    column in ``sums``.  ``label`` names the two writes' Spark jobs
    ``"<label>: write output"`` and ``"<label>: metrics"``."""
    from metacrafter_spark.corpus import pipeline
    from metacrafter_spark.session import job_phase

    spark = classified.sparkSession
    with job_phase(spark, label and f"{label}: write output"):
        processed, buckets = observed_write(
            classified, lambda d: io.overwrite_partitions(
                d, out_path, partition_by=["bucket_id"]))
    out = {"processed": processed, "kept_total": 0, **dict.fromkeys(sums, 0)}
    table = io.read(out_path)
    if table is None:  # a parquet table no row was ever written to
        return out
    totals = [F.expr("sum(CAST(keep AS BIGINT)) AS kept_total"),
              *[F.expr(f"sum({sql_ident(c)}) AS {sql_ident(c)}")
                for c in sums]]
    with job_phase(spark, label and f"{label}: metrics"):
        if buckets:
            seen = Observation()
            written = table.observe(seen, *totals).filter(
                f"bucket_id IN ({', '.join(map(sql_literal, buckets))})")
            io.overwrite_partitions(
                pipeline.bucket_metrics(written, rules), metrics_path,
                partition_by=["bucket_id"])
            row = seen.get
        else:
            # nothing written, so no metrics; and isin() of no buckets
            # would fold the filter, observed node included, away —
            # leaving get blocked forever
            row = table.agg(*totals).first().asDict()
    out.update({k: int(v or 0) for k, v in row.items()})
    return out


#: bucket count for key-hashed stores (round-6).  Scale-parameterised:
#: production sets MC_KEYSTORE_BUCKETS ≈ store_bytes / 128 MB; the
#: local default keeps fixture stores at a handful of files.
import os as _os

KEYSTORE_BUCKETS = int(_os.environ.get("MC_KEYSTORE_BUCKETS", "16"))

_BUCKET_SPEC_FILE = "_mc_bucket_spec.json"


def _store_table_name(base: str) -> str:
    import hashlib

    return "mc_keystore_" + hashlib.sha256(base.encode()).hexdigest()[:12]


def read_key_store(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """Read a persisted cross-dump dedup store (paragraph keys or
    MinHash signatures), recovering a crash mid-:func:`advance_key_store`:
    if only ``<path>.old`` exists, the crash hit between the two
    renames — the previous store is intact there and is moved back.
    Returns None when no store exists yet (first dump).

    Round-6: a store written bucketed (``advance_key_store`` buckets
    any frame carrying a ``key`` column by ``hash(key)``) is
    re-registered as an EXTERNAL bucketed table over the same files,
    so the ingest anti-join reads bucket i directly — the store side
    of the join carries NO Exchange (plan-asserted in tests).  The
    spec rides inside the directory (``_mc_bucket_spec.json``), so the
    atomic .tmp/.old rename protocol — and its crash-window contract —
    is unchanged."""
    import json
    import os

    base = path.rstrip("/")
    old = base + ".old"
    if not os.path.isdir(base) and os.path.isdir(old):
        os.rename(old, base)
    if not os.path.isdir(base):
        return None
    spec_path = os.path.join(base, _BUCKET_SPEC_FILE)
    if os.path.isfile(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        name = _store_table_name(base)
        schema_sql = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.read.parquet(base).schema.fields)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        cols = ", ".join(f"`{c}`" for c in spec["cols"])
        spark.sql(
            f"CREATE TABLE {name} ({schema_sql}) USING parquet "
            f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
            f"INTO {int(spec['n'])} BUCKETS LOCATION '{base}'")
        return spark.table(name)
    return spark.read.parquet(base)


def advance_key_store(new_store: DataFrame, path: str, *,
                      n_buckets: Optional[int] = None) -> None:
    """Materialize the next dedup store and swap it in with NO window
    where the store is lost: write-aside to ``<path>.tmp`` (never
    overwrite the directory a lazy plan still reads), rename the
    current store to ``<path>.old``, rename tmp into place, then drop
    ``.old``.  A crash at any point leaves a complete store at either
    ``path`` or ``path.old`` (:func:`read_key_store` recovers the
    latter) — unlike rmtree-then-rename, which has a window holding
    neither.  Local-FS/HDFS rename semantics; on object storage the
    store belongs in the Iceberg layer (atomic snapshot commits).

    Round-6: a store carrying a ``key`` column is written BUCKETED by
    ``hash(key)`` (``repartition(n, key)`` + ``bucketBy`` → exactly one
    compacted file per bucket) so the next ingest's anti-join is
    co-located on the store side and the advance itself is the
    per-bucket compaction.  Sketch-shaped stores (HLL registers, Bloom
    words, MinHash signature tables — no ``key`` equi-join anywhere in
    their read paths) keep the plain layout."""
    import json
    import os
    import shutil

    base = path.rstrip("/")
    tmp, old = base + ".tmp", base + ".old"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    if "key" in new_store.columns:
        n = int(n_buckets or KEYSTORE_BUCKETS)
        spark = new_store.sparkSession
        name = _store_table_name(tmp)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (new_store.repartition(n, "key")
         .write.mode("overwrite").bucketBy(n, "key").sortBy("key")
         .option("path", tmp).saveAsTable(name))
        # external table: dropping the metadata leaves the files;
        # ownership passes to the rename protocol below
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        with open(os.path.join(tmp, _BUCKET_SPEC_FILE), "w") as f:
            json.dump({"cols": ["key"], "n": n}, f)
    else:
        new_store.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(base):
        os.rename(base, old)
    os.rename(tmp, base)
    if os.path.isdir(old):
        shutil.rmtree(old)
