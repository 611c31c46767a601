"""Analyzer scale guards: bounded driver-side dictvalues, hash-keyed
stats equivalence across partitionings."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
from pathlib import Path

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


TYPED_GOLDEN = Path(__file__).parent / "golden" / "typed_stats.json"


def _typed_frame(spark):
    """One column per ``ColInfo.kind`` (int and double twice, at two
    widths), an all-NULL string column and one of empty markers."""
    strings = ["", "None", "NaN", "-", "N/A", " ", "007", "12", "1.5",
               "abc", "x_y", "1_000", "nan", "inf", "ümlaut", None]
    doubles = [None, 0.1, 1e-07, 1.5e7, float("nan"), float("inf"), -0.0,
               123456789.125, 3.0]
    rows = [(
        strings[i % len(strings)],
        None if i % 7 == 0 else bool(i % 3),
        None if i % 5 == 0 else (i % 9) * 10 ** (i % 19),
        None if i % 11 == 0 else i % 4,
        doubles[i % len(doubles)],
        None if i % 10 == 0 else i / 8,
        None if i % 6 == 0 else dt.datetime(2024, 1, 1 + i % 3, 5, i % 60,
                                            0, (i % 2) * 500_000),
        None if i % 4 == 0 else dt.date(2020, 1 + i % 2, 1),
        None if i % 8 == 0 else decimal.Decimal(i % 5) / 4,
        None if i % 3 == 0 else [i % 2, i % 3],
        None if i % 9 == 0 else f"b{i % 4}".encode(),
        None, f"u{i}", ["N/A", "-", ""][i % 3],
    ) for i in range(240)]
    return spark.createDataFrame(
        rows,
        "str_col string, bool_col boolean, long_col long, int_col int, "
        "dbl_col double, flt_col float, ts_col timestamp, date_col date, "
        "dec_col decimal(10,2), arr_col array<int>, bin_col binary, "
        "null_col string, uniq_col string, mark_col string")


def _typed_stats(spark) -> dict:
    """``compute_stats`` results and aux of :func:`_typed_frame`, as
    JSON values (NaN spelled ``"NaN"`` so that it compares equal)."""
    def plain(o):
        if isinstance(o, float) and math.isnan(o):
            return "NaN"
        if isinstance(o, dict):
            return {k: plain(v) for k, v in o.items()}
        if isinstance(o, (list, tuple)):
            return [plain(v) for v in o]
        return o

    df = _typed_frame(spark)
    stats, aux = compute_stats(df, analyzed_columns(df))
    return plain({"stats": {k: v.as_dict() for k, v in stats.items()},
                  "aux": aux})


def test_typed_stats_match_golden(spark):
    """Every column kind's stats and aux, pinned from the per-column
    explode the stats plan had before it exploded first.  Regenerate
    with ``PYTHONPATH=. python tests/test_analyzer_caps.py`` only for a
    change that means to move them."""
    got = json.loads(json.dumps(_typed_stats(spark)))
    assert got == json.loads(TYPED_GOLDEN.read_text())


if __name__ == "__main__":
    from metacrafter_spark.session import get_spark

    TYPED_GOLDEN.write_text(json.dumps(
        _typed_stats(get_spark(app_name="typed-golden", cores=2)),
        indent=1, sort_keys=True) + "\n")


def test_unicode_digits_take_their_int_value(spark):
    """``int()`` reads every script's decimal digits, so '٣' and '１２'
    are ints 3 and 12 in ``minval``/``maxval``, as in the reference;
    and the kernel assigns no value of another dtype into its float
    column (pandas warns that this will raise)."""
    import warnings

    import pandas as pd

    from metacrafter_spark.analyzer import _classify_string_fn

    values = pd.Series(["٣", "１２", "7", "²", None], dtype="object")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = _classify_string_fn(values)
    assert list(out["vt"]) == ["int", "int", "int", "int", "empty"]
    assert out["nv"][:3].tolist() == [3.0, 12.0, 7.0]
    assert out["nv"][3:].isna().all()  # int('²') raises

    df = spark.createDataFrame([(v,) for v in values], "digits string")
    stats, _ = compute_stats(df, analyzed_columns(df))
    assert (stats["digits"].minval, stats["digits"].maxval) == (3.0, 12.0)
