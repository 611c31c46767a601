"""Small helpers shared across operator modules.

Multi-column stages build their expressions as Spark SQL text and add
them with :func:`with_sql_columns`, one projection per dependency
level.  Every Column-API call is one or more py4j round trips to the
driver JVM (13 for an ``F.col``, ~50 for an ``F.filter`` with a Python
lambda), while a projection of SQL strings costs one per expression.
The literal helpers below quote values for that text."""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import DataFrame, functions as F


def sql_string(s: str) -> str:
    """Spark SQL string literal whose parsed value is exactly ``s``.

    Spark unescapes backslash sequences in string literals (with the
    default ``spark.sql.parser.escapedStringLiterals=false``), so a
    regex like ``\\s+`` must reach the parser as ``\\\\s+``.  Every
    backslash and single quote is escaped; nothing else is special.
    (DuckDB SQL needs different quoting: only ``''``.)"""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """Backquoted identifier for a column or field name."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v) -> str:
    """Spark SQL literal of the type ``F.lit(v)`` gives: doubles carry
    the ``D`` suffix (a bare ``1.0`` parses as DECIMAL), ints stay int
    (bigint beyond 32 bits), and strings go through :func:`sql_string`."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"({v})" if v < 0 else str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"({v!r}D)" if math.copysign(1.0, v) < 0 else f"{v!r}D"
    if isinstance(v, str):
        return sql_string(v)
    if isinstance(v, bytes):
        return f"X'{v.hex()}'"
    if isinstance(v, Decimal):
        return f"{v}BD"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def sql_in(expr: str, values) -> str:
    """``expr IN (...)`` over string values; ``false`` for none (SQL
    has no empty IN list, and ``Column.isin()`` of none is false)."""
    if not values:
        return "false"
    return f"{expr} IN ({', '.join(map(sql_string, values))})"


def with_sql_columns(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """``df.withColumns`` for SQL-text expressions, as one projection.

    Columns already in ``df`` keep their position and are replaced in
    place when ``cols`` names them (case-insensitively, like
    ``withColumn``); the others are appended in ``cols`` order.  The
    expressions see ``df``'s columns, not each other: put a column that
    reads another new one in the next call."""
    if not cols:
        return df
    new = {name.lower(): f"{expr} AS {sql_ident(name)}"
           for name, expr in cols.items()}
    existing = df.columns
    if not any(c.lower() in new for c in existing):
        return df.selectExpr("*", *new.values())
    kept = [new.pop(c.lower(), None) or sql_ident(c) for c in existing]
    return df.selectExpr(*kept, *new.values())


def appended_schema(df: DataFrame, appended: dict[str, str]) -> str:
    """DDL schema string for a ``mapInPandas`` kernel that passes the
    input columns through unchanged and appends ``appended`` (name →
    simple type string) after them.  Field names are backtick-quoted
    so dotted/spaced names survive the round trip."""
    return ", ".join(
        [f"`{f}` {df.schema[f].dataType.simpleString()}"
         for f in df.schema.fieldNames()]
        + [f"`{name}` {typ}" for name, typ in appended.items()])


def xml_unescape(c: F.Column) -> F.Column:
    """Decode the five predefined XML entities in a Column.  ``&amp;``
    must be LAST so '&amp;lt;' decodes to '&lt;', not '<'."""
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):  # &amp; LAST
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c
