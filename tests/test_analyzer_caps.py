"""Analyzer scale guards: bounded driver-side dictvalues, hash-keyed
stats equivalence across partitionings."""

from __future__ import annotations

from pyspark.sql import functions as F

from metacrafter_spark.analyzer import analyzed_columns, compute_stats


def _frame(spark, n=400, parts=4):
    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.concat(F.lit("cat"), (F.col("id") % 20).cast("string")).alias("cat"),
            F.col("id").cast("string").alias("uid"),
            F.col("id").alias("__row_seq"),
        )
    )


def test_max_dictvalues_caps_driver_collection(spark):
    df = _frame(spark)
    cols = analyzed_columns(df)
    stats, _ = compute_stats(df, cols, max_dictvalues=5)
    dv = stats["cat"].dictvalues
    assert len(dv) == 5
    # first-seen order: ids 0..4 in __row_seq order
    assert dv == [f"cat{i}" for i in range(5)]
    assert stats["uid"].dictvalues is None  # 100% unique, not a dict col

    # uncapped (reference behavior) returns all 20, same prefix order
    full, _ = compute_stats(df, cols, max_dictvalues=None)
    assert len(full["cat"].dictvalues) == 20
    assert full["cat"].dictvalues[:5] == dv


def test_stats_invariant_across_partitioning(spark):
    a, _ = compute_stats(_frame(spark, parts=1),
                         analyzed_columns(_frame(spark, parts=1)))
    b, _ = compute_stats(_frame(spark, parts=13),
                         analyzed_columns(_frame(spark, parts=13)))
    for k in a:
        assert a[k].as_dict() == b[k].as_dict(), k


def test_every_value_type_has_a_bitmask_code():
    """The stats job carries each column's set of value types as a
    bitmask over ``VT_CODES``: every vt the string classifier or a typed
    column can give has a bit, and a mask with a bit past the table
    raises instead of deciding an ftype."""
    import pandas as pd
    import pytest

    from metacrafter_spark.analyzer import (
        _VT_OF_KIND, VT_CODES, _classify_string_bits_fn, _classify_string_fn,
        _vt_names,
    )

    values = pd.Series([None, "", "  ", "007", "12", "1.5", "1_000", "nan",
                        "-NaN", "inf", "1e3", "abc", "T"],
                       dtype="object")
    string_vts = set(_classify_string_fn(values)["vt"])
    assert string_vts == {"empty", "numstr", "int", "float", "str"}
    assert string_vts | set(_VT_OF_KIND.values()) <= set(VT_CODES)
    bits = _classify_string_bits_fn(values)["vb"]
    assert [_vt_names(b) for b in bits] == [
        {vt} for vt in _classify_string_fn(values)["vt"]]
    assert _vt_names(0) == set()
    with pytest.raises(ValueError, match="outside VT_CODES"):
        _vt_names(1 << len(VT_CODES))
