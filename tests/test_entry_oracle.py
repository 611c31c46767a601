"""Mimic the driver's correctness gate locally: run every queries()
entry at sf0.001/sf0.01 and compare against its oracle_sql() in DuckDB
(row count, column names, exact values after column-name sort)."""

from __future__ import annotations

import math
import os
from datetime import datetime

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_vs_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), (name, len(srows), len(drows))
    assert _rowset(scols, srows) == _rowset(dcols, drows), name


def test_rows_only_queries_run(spark):
    qs = entry_mod.queries()
    for name in sorted(set(qs) - set(ORACLES)):
        df = qs[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0
        assert df.schema is not None


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"field", "ruleid", "confidence"} <= set(df.columns)


@pytest.mark.parametrize("max_bytes", ["128MB", "64m", "1g", "134217728"])
def test_t_reads_human_form_max_partition_bytes(spark, tmp_path, max_bytes):
    """``_t`` sizes splits with the session's own parse of
    ``spark.sql.files.maxPartitionBytes``, so the human forms Spark
    accepts do not fail the read."""
    key = "spark.sql.files.maxPartitionBytes"
    spark.range(10).write.parquet(str(tmp_path / "tiny.parquet"))
    prev = spark.conf.get(key, None)
    spark.conf.set(key, max_bytes)
    try:
        df = entry_mod._t(spark, str(tmp_path), "tiny")
        # one small file: the estimate is one split, so _t repartitions
        assert df.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
