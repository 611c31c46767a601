# -*- coding: utf-8 -*-
"""Iceberg schema evolution: add / rename / drop / widening type
promotion — no data rewrite, snapshots record their schema-id, and
time travel reads each snapshot with its own schema."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from metacrafter_spark.io.iceberg import IcebergTable

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("bucket_id", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("hits", T.IntegerType(), True),
])


def _docs(spark, lo, hi, tag="a", cols=None):
    d = spark.range(lo, hi).select(
        F.concat(F.lit(f"https://{tag}.example.com/p"), F.col("id"))
        .alias("url"),
        (F.col("id") % 4).alias("bucket_id"),
        F.concat(F.lit(f"body-{tag}-"), F.col("id")).alias("text"),
        F.col("id").cast("int").alias("hits"),
    )
    if cols:
        d = d.select(*cols)
    return d


@pytest.fixture()
def table(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergTable.create(loc, SCHEMA, partition_by=["bucket_id"],
                            now_ms=1_700_000_000_000)
    t.append(_docs(spark, 0, 20, "a"), now_ms=1_700_000_001_000)  # snap 1
    return t


def test_add_column(spark, table):
    table.add_column("lang", T.StringType())
    t = IcebergTable.load(table.location)  # survives reload
    assert [f.name for f in t.spark_schema.fields][-1] == "lang"

    # appends must now carry the new column; old shape refuses
    with pytest.raises(ValueError, match="columns"):
        t.append(_docs(spark, 20, 30, "b"))
    t.append(_docs(spark, 20, 30, "b").withColumn("lang", F.lit("en")),
             now_ms=1_700_000_002_000)

    rows = {r["url"]: r["lang"] for r in t.read(spark).collect()}
    assert len(rows) == 30
    assert rows["https://a.example.com/p3"] is None    # pre-add file
    assert rows["https://b.example.com/p25"] == "en"   # post-add file
    # time travel to snap 1 shows the OLD schema (no lang column)
    old = t.read(spark, snapshot_id=1)
    assert "lang" not in old.columns and old.count() == 20


def test_add_column_name_rules(table):
    with pytest.raises(ValueError, match="already exists"):
        table.add_column("text", T.StringType())


def test_rename_column(spark, table):
    table.rename_column("text", "body")
    t = IcebergTable.load(table.location)
    assert "body" in [f.name for f in t.spark_schema.fields]
    t.append(_docs(spark, 20, 30, "b").withColumnRenamed("text", "body"),
             now_ms=1_700_000_002_000)

    got = {r["url"]: r["body"] for r in t.read(spark).collect()}
    assert got["https://a.example.com/p3"] == "body-a-3"   # old file, old name
    assert got["https://b.example.com/p25"] == "body-b-25"  # new file
    # chained rename keeps resolving the full trail
    t.rename_column("body", "content")
    t2 = IcebergTable.load(table.location)
    got2 = {r["url"]: r["content"] for r in t2.read(spark).collect()}
    assert got2 == got
    # reusing a historical name is refused (resurrection guard)
    with pytest.raises(ValueError, match="historical name"):
        t2.add_column("text", T.StringType())
    # time travel: pre-rename snapshot still reads under "text"
    old = t2.read(spark, snapshot_id=1)
    assert "text" in old.columns and "content" not in old.columns
    assert {r["text"] for r in old.collect()} == {
        f"body-a-{i}" for i in range(20)}


def test_rename_partition_source_refused(table):
    with pytest.raises(ValueError, match="partition source"):
        table.rename_column("bucket_id", "shard")
    with pytest.raises(ValueError, match="partition source"):
        table.drop_column("bucket_id")


def test_drop_column_and_tombstone(spark, table):
    table.drop_column("text")
    t = IcebergTable.load(table.location)
    assert "text" not in [f.name for f in t.spark_schema.fields]
    assert t.read(spark).columns == ["url", "bucket_id", "hits"]
    assert t.read(spark).count() == 20
    # re-adding the dropped name would resurrect old bytes → refused
    with pytest.raises(ValueError, match="historical name"):
        t.add_column("text", T.StringType())
    # a fresh name is fine
    t.add_column("summary", T.StringType())
    # time travel still shows text
    old = t.read(spark, snapshot_id=1)
    assert "text" in old.columns


def test_type_promotion_int_to_long(spark, table):
    table.update_column_type("hits", T.LongType())
    t = IcebergTable.load(table.location)
    assert dict((f.name, f.dataType) for f in
                t.spark_schema.fields)["hits"] == T.LongType()
    big = 3_000_000_000  # doesn't fit int32
    t.append(_docs(spark, 20, 25, "b")
             .withColumn("hits", F.lit(big).cast("long")),
             now_ms=1_700_000_002_000)
    rows = {r["url"]: r["hits"] for r in t.read(spark).collect()}
    assert rows["https://a.example.com/p3"] == 3       # old int32 file
    assert rows["https://b.example.com/p22"] == big    # new int64 file
    total = t.read(spark).agg(F.sum("hits")).collect()[0][0]
    assert total == sum(range(20)) + 5 * big


def test_bad_promotions_refused(table):
    with pytest.raises(ValueError, match="widening"):
        table.update_column_type("hits", T.StringType())
    with pytest.raises(ValueError, match="widening"):
        table.update_column_type("bucket_id", T.IntegerType())


def test_rename_then_promote_combo(spark, table):
    table.rename_column("hits", "views")
    table.update_column_type("views", T.LongType())
    t = IcebergTable.load(table.location)
    t.append(_docs(spark, 20, 25, "b")
             .withColumnRenamed("text", "text")  # no-op, keep shape
             .withColumnRenamed("hits", "views")
             .withColumn("views", F.col("views").cast("long")),
             now_ms=1_700_000_002_000)
    rows = {r["url"]: r["views"] for r in t.read(spark).collect()}
    assert rows["https://a.example.com/p7"] == 7
    assert rows["https://b.example.com/p21"] == 21


def test_evolution_survives_manifest_rewrite_and_expiry(spark, table):
    table.rename_column("text", "body")
    table.append(_docs(spark, 20, 30, "b")
                 .withColumnRenamed("text", "body"),
                 now_ms=1_700_000_002_000)
    table.rewrite_manifests(now_ms=1_700_000_003_000)
    table.expire_snapshots(keep_last=1)
    t = IcebergTable.load(table.location)
    got = {r["url"]: r["body"] for r in t.read(spark).collect()}
    assert len(got) == 30 and got["https://a.example.com/p3"] == "body-a-3"


def test_equality_delete_keys_survive_rename(spark, table):
    """An equality-delete file committed BEFORE a rename stores its key
    column under the old name; reads after the rename must resolve it
    through the alias trail."""
    t = table
    # delete by the 'text' column value (key = the to-be-renamed column)
    keys = spark.createDataFrame([("body-a-5",), ("body-a-11",)],
                                 "text string")
    t.delete_by_keys(keys, now_ms=1_700_000_002_000)
    assert t.read(spark).count() == 18
    t.rename_column("text", "body")
    t2 = IcebergTable.load(t.location)
    got = {r["url"] for r in t2.read(spark).collect()}
    assert len(got) == 18
    assert "https://a.example.com/p5" not in got
    assert "https://a.example.com/p11" not in got
    # appends after the delete+rename are untouched by the old delete
    t2.append(_docs(spark, 100, 103, "z")
              .withColumnRenamed("text", "body")
              .withColumn("body", F.lit("body-a-5")),
              now_ms=1_700_000_003_000)
    assert IcebergTable.load(t.location).read(spark).count() == 21


def test_delete_where_on_renamed_column(spark, table):
    """A position delete whose condition names a renamed column matches
    rows in files written before the rename too."""
    table.rename_column("text", "body")
    t = IcebergTable.load(table.location)
    t.append(_docs(spark, 20, 30, "b").withColumnRenamed("text", "body"),
             now_ms=1_700_000_002_000)
    t.delete_where(spark, "body IN ('body-a-5', 'body-b-25')",
                   now_ms=1_700_000_003_000)
    got = {r["url"] for r in
           IcebergTable.load(t.location).read(spark).collect()}
    assert len(got) == 28
    assert "https://a.example.com/p5" not in got
    assert "https://b.example.com/p25" not in got
