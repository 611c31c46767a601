# -*- coding: utf-8 -*-
"""SQL-text helpers (metacrafter_spark/util.py): literals must parse
back to exactly the Python value, with the type ``F.lit`` gives, and
``with_sql_columns`` must behave like ``withColumns``."""
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from metacrafter_spark.corpus.quality import _CJK_CLASS, _EDGE_PUNCT_RE
from metacrafter_spark.util import sql_literal, sql_string, with_sql_columns

#: characters Spark's string-literal unescaping treats specially
_TRICKY = st.text(alphabet=st.sampled_from(
    ["\\", "'", '"', "\n", "\r", "\t", "\x00", "u", "0", "%", "_", "Z",
     "ü", "日", "😀", "$", " "]), max_size=24)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.one_of(st.text(max_size=40), _TRICKY))
@example(_EDGE_PUNCT_RE)
@example(_CJK_CLASS)
@example(r'[.!?"]\s*$')
@example(r"A\\u0041\'")
def test_sql_string_parses_back_exactly(spark, s):
    got = spark.range(1).select(F.expr(sql_string(s)).alias("v")).first()
    assert got["v"] == s


def test_sql_literal_matches_lit(spark):
    values = [0, 3, -3, 2**40, -(2**40), 1.0, -0.5, 0.1, 1e-05, 2.5e20,
              True, False, None, "it's", b"\x00\xff"]
    exprs = [F.expr(sql_literal(v)).alias(f"e{i}")
             for i, v in enumerate(values)]
    lits = [F.lit(v).alias(f"e{i}") for i, v in enumerate(values)]
    got = spark.range(1).select(*exprs)
    want = spark.range(1).select(*lits)
    assert got.schema == want.schema
    assert got.first() == want.first()
    # non-finite doubles are string casts: same type and value, but the
    # column is nullable
    odd = spark.range(1).select(*[
        F.expr(sql_literal(v)) for v in (float("inf"), float("-inf"),
                                         float("nan"))])
    assert [f.dataType.simpleString() for f in odd.schema] == ["double"] * 3
    inf, ninf, nan = odd.first()
    assert inf == float("inf") and ninf == float("-inf") and nan != nan


def test_with_sql_columns_is_with_columns(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = with_sql_columns(df, {"S": "upper(s)", "n": "id * 2"})
    assert out.columns == ["id", "S", "n"]
    assert [tuple(r) for r in out.orderBy("id").collect()] == \
        [(1, "A", 2), (2, "B", 4)]
    appended = with_sql_columns(df, {"n": "id + 1", "m": "'x'"})
    assert appended.columns == ["id", "s", "n", "m"]
    assert with_sql_columns(df, {}) is df
