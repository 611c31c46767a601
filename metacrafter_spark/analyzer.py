"""Column-stats engine — Spark re-implementation of the reference Analyzer.

Reproduces ``metacrafter/classify/stats.py:211-497`` (``Analyzer.analyze``)
as a two-phase LONG-FRAME aggregation instead of a row-at-a-time loop:

1. explode the raw frame to one row per (column, value), each column
   contributing only its name, kind code, key text and typed value;
   one projection over the long rows then computes a 128-bit value
   hash + map-side per-value facts (display length, ``guess_datatype``
   class via one Arrow kernel call over every string value, numeric
   value, char-class flags, empty-marker membership);
2. ``groupBy(column, h1, h2, k)`` — map-side combine collapses
   duplicate values, and the shuffle carries FIXED-WIDTH fact rows,
   never the value text: a near-unique 100-TB text column shuffles ~60
   bytes per distinct value instead of the corpus itself.  Every
   aggregation buffer is fixed-width too (the set of value types is a
   ``bit_or`` bitmask), so both phases run as codegen'd hash
   aggregates;
3. per-DISTINCT-value enrichment runs only for short bounded-width
   columns (exact Python ``str()`` formatting for double/timestamp
   display), whose ≤40-char keys ride the shuffle as a carried field;
4. ``groupBy(column)`` rolls up the 19 stats; dict-value enumeration
   (``stats.py:444-454``) is a separate column-pruned pass over only
   the dict-candidate (≤ dictshare% distinct) columns, capped at
   ``max_dictvalues`` before anything reaches the driver.

The long shape also keeps the plan a FIXED handful of expressions no
matter how many columns the table has — the wide per-column-agg
alternative (~12 exprs × N columns + an N-way distinct Expand) showed
superlinear planning/codegen cost (~10 s for a 27-column 3k-row table).
Exploding before computing the facts extends that to the generated
code: only the explode itself is written per column, so no stage after
it grows with the width (writing the 13 facts per column inside the
explode gave a 58 KB method at 27 columns, past HotSpot's 8,000-byte
JIT limit).  The plans are built as SQL text; only the pandas UDFs are
Column objects, each staged in one projection.

Semantic quirks faithfully reproduced:

- ``str(None) == 'None'`` participates in lengths & uniq counts
  (stats.py:346-377) while ``guess_datatype(None)`` is ``empty``;
- columns whose first dot-path segment is 1 char or all-digit are
  skipped (stats.py:341-344);
- a column's ftype = the unique non-empty value type, else ``str``
  (stats.py:425-433);
- booleans stringify as ``True``/``False`` (Python), not
  ``true``/``false`` (Spark);
- ``minval``/``maxval`` only over values typed int/float
  (stats.py:396-407).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache
from typing import Any, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from metacrafter_spark.util import (
    sql_ident, sql_in, sql_string, with_sql_columns,
)

DEFAULT_DICT_SHARE = 10
# Analyzer's empty-marker list (stats.py:33) — used ONLY for the
# dict/empty tag decision, distinct from the matcher's null/"" emptiness.
# Compared against str(v), so the None entry never matches (str(None) is
# the *string* 'None', which IS in the list).
DEFAULT_EMPTY_VALUES = [None, "", "None", "NaN", "-", "N/A"]

ROW_SEQ = "__row_seq"

STATS_HEADERS = [
    "key", "ftype", "is_dictkey", "is_uniq", "n_uniq", "share_uniq",
    "minlen", "maxlen", "avglen", "tags", "has_digit", "has_alphas",
    "has_special", "minval", "maxval", "has_any_digit", "has_any_alphas",
    "has_any_special", "dictvalues",
]


@dataclass
class ColumnStats:
    key: str
    ftype: str
    is_dictkey: bool
    is_uniq: bool
    n_uniq: int
    share_uniq: float
    minlen: int
    maxlen: int
    avglen: float
    tags: list
    has_digit: int
    has_alphas: int
    has_special: int
    minval: Optional[float]
    maxval: Optional[float]
    has_any_digit: bool
    has_any_alphas: bool
    has_any_special: bool
    dictvalues: Optional[list]

    def as_row(self) -> list:
        return [getattr(self, h) for h in STATS_HEADERS]

    def as_dict(self) -> dict:
        return {h: getattr(self, h) for h in STATS_HEADERS}


def _python_float_series(s: pd.Series) -> pd.Series:
    """Vectorized approximation of per-value ``float(v)`` parsing."""
    nv = pd.to_numeric(s, errors="coerce")
    # Python float() additionally accepts single underscores between digits.
    mask = nv.isna() & s.notna() & s.astype("string").str.contains("_", na=False)
    if mask.any():
        def _f(v):
            try:
                return float(v)
            except (TypeError, ValueError):
                return float("nan")
        nv = nv.astype("float64").copy()
        nv[mask] = s[mask].map(_f).astype("float64")
    return nv.astype("float64")


def _python_int(v: str) -> float:
    """``int(v)`` as a float; NaN where it raises (``str.isdigit``
    accepts superscripts such as '²', which ``int`` rejects)."""
    try:
        return float(int(v))
    except (ValueError, OverflowError):
        return float("nan")


def _classify_string_fn(s: pd.Series) -> pd.DataFrame:
    """guess_datatype for string values (stats.py:125-146), vectorized."""
    vt = pd.Series("str", index=s.index, dtype="object")
    nv = pd.Series(float("nan"), index=s.index, dtype="float64")
    isna = s.isna()
    st = s.astype("string")
    blank = st.str.strip().str.len().fillna(1).eq(0) | st.str.len().fillna(1).eq(0)
    vt[isna | blank] = "empty"
    live = ~(isna | blank)
    digits = st.str.isdigit().fillna(False) & live
    leading0 = st.str.startswith("0").fillna(False)
    vt[digits & leading0] = "numstr"
    ints = digits & ~leading0
    vt[ints] = "int"
    iv = pd.to_numeric(st[ints], errors="coerce").astype("float64")
    # int() also reads other scripts' decimal digits ('٣', '１２'),
    # which to_numeric does not
    other = iv.isna()
    if other.any():
        iv[other] = st[ints][other].map(_python_int).astype("float64")
    nv[ints] = iv
    floaty = live & ~digits
    if floaty.any():
        fv = _python_float_series(s[floaty])
        ok = fv.notna()
        idx = fv.index[ok]
        vt[idx] = "float"
        nv[idx] = fv[ok]
        # float('nan') parses in Python → type float with NaN value; keep type.
        nanlit = s[floaty].astype("string").str.strip().str.lower().isin(["nan", "-nan", "+nan"])
        vt[fv.index[nanlit.reindex(fv.index, fill_value=False)]] = "float"
    return pd.DataFrame({"vt": vt, "nv": nv})


#: every value type the stats can see, one bit each: the stats job
#: carries a column's set of types as a ``bit_or`` bitmask, a
#: fixed-width aggregation buffer (a ``collect_set`` of strings is not)
VT_CODES = ("empty", "str", "numstr", "int", "float", "bool", "datetime",
            "date", "typed")
_VT_BIT = {vt: 1 << i for i, vt in enumerate(VT_CODES)}


def _vt_names(mask: int) -> set[str]:
    """The vt strings of a bitmask of :data:`VT_CODES` bits."""
    if mask >> len(VT_CODES):
        raise ValueError(f"vt bitmask {mask:#x} has a bit outside VT_CODES")
    return {vt for vt, b in _VT_BIT.items() if mask & b}


def _classify_string_bits_fn(s: pd.Series) -> pd.DataFrame:
    """:func:`_classify_string_fn` with the vt as its VT_CODES bit."""
    out = _classify_string_fn(s)
    vb = out["vt"].map(_VT_BIT)
    if vb.isna().any():
        raise ValueError(
            f"vt without a VT_CODES bit: {sorted(set(out['vt'][vb.isna()]))}")
    return pd.DataFrame({"vb": vb.astype("int32"), "nv": out["nv"]})


def _py_str_double_fn(s: pd.Series) -> pd.Series:
    # Python shortest-repr formatting (str(0.1)='0.1', str(1e-07)='1e-07'),
    # which differs from Spark's Java Double.toString for |x| ≥ 1e7 / < 1e-3.
    return s.map(lambda x: None if pd.isna(x) else str(float(x)))


def _py_str_timestamp_fn(s: pd.Series) -> pd.Series:
    # str(datetime): '...HH:MM:SS' or '...HH:MM:SS.ffffff' (6 digits);
    # Spark's cast trims trailing zeros, Python doesn't.
    return s.map(lambda x: None if pd.isna(x) else str(x.to_pydatetime()))


@lru_cache(maxsize=None)
def _udfs():
    """pandas UDFs are created lazily — registration needs a live session."""
    return {
        "classify_string": pandas_udf(_classify_string_bits_fn,
                                      "struct<vb:int, nv:double>"),
        "py_str_double": pandas_udf(_py_str_double_fn, "string"),
        "py_str_timestamp": pandas_udf(_py_str_timestamp_fn, "string"),
    }


_INT_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


@dataclass(frozen=True)
class ColInfo:
    name: str            # dot-path column key, as reported
    safe: str            # sanitized unique id used for helper column names
    dtype: T.DataType
    is_string: bool

    @property
    def kind(self) -> str:
        """string, bool, int, double, timestamp, date, decimal or other
        (arrays/structs/maps/binary)."""
        dt = self.dtype
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, _INT_TYPES):
            return "int"
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return "double"
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "timestamp"
        if isinstance(dt, T.DateType):
            return "date"
        if isinstance(dt, T.DecimalType):
            return "decimal"
        return "other"


#: guess_datatype of a non-null value of each non-string kind; string
#: values are classified per value by ``_classify_string_fn``
#: (arrays/structs/maps/binary/decimal → 'typed', stats.py:121-123)
_VT_OF_KIND = {"bool": "bool", "int": "int", "double": "float",
               "timestamp": "datetime", "date": "date",
               "decimal": "typed", "other": "typed"}
#: kinds of unbounded length: their raw value never rides a shuffle
_TEXT_KINDS = ("string", "other")


def _first_segment_skipped(key: str) -> bool:
    """Analyzer's key filter (stats.py:341-344): 1-char or ALL-DIGIT
    first path segment → excluded from stats (but still matched/reported
    upstream as 'not in stats' → dropped from the final report).
    Note: ``i[0].isdigit()`` is str.isdigit on the whole segment, so
    '2col' is NOT skipped — only names like '2'/'42'."""
    first = key.split(".")[0]
    return len(first) == 1 or first.isdigit()


def analyzed_columns(df: DataFrame, columns: Optional[list[str]] = None) -> list[ColInfo]:
    names = columns if columns is not None else [c for c in df.columns if c != ROW_SEQ]
    out = []
    for i, c in enumerate(names):
        dtype = df.schema[c].dataType
        out.append(ColInfo(name=c, safe=f"c{i}", dtype=dtype,
                           is_string=isinstance(dtype, T.StringType)))
    return out


def with_row_seq(df: DataFrame) -> DataFrame:
    """``df`` with a ``__row_seq`` column (first-seen order), if it has none."""
    if ROW_SEQ in df.columns:
        return df
    return with_sql_columns(df, {ROW_SEQ: "monotonically_increasing_id()"})


def _key_sql(ci: ColInfo) -> str:
    """SQL text of an injective string form of the column's value, NULL
    for NULL.  Booleans print as Python does (``True``/``False``); a
    double's key is Spark's form, which :func:`_display_expr` turns into
    Python's once per distinct value."""
    c = sql_ident(ci.name)
    if ci.kind == "string":
        return c
    if ci.kind == "bool":
        return f"CASE WHEN {c} THEN 'True' WHEN NOT {c} THEN 'False' END"
    if ci.kind == "double":
        return f"CAST(CAST({c} AS DOUBLE) AS STRING)"
    return f"CAST({c} AS STRING)"


def _named_struct(fields: dict[str, str]) -> str:
    return "named_struct(" + ", ".join(
        f"{sql_string(k)}, {v}" for k, v in fields.items()) + ")"


def with_normalized_columns(df: DataFrame, cols: list[ColInfo]) -> DataFrame:
    """Attach __row_seq plus, per column, {safe}__vs: str(v) as Python
    prints it, null iff v is null.  The Python kernels that format
    doubles and timestamps are staged in one projection; the other
    columns are SQL text in the next."""
    df = with_row_seq(df)
    kernels: dict[str, Column] = {}
    exprs: dict[str, str] = {}
    for ci in cols:
        c = sql_ident(ci.name)
        out = f"{ci.safe}__vs"
        if ci.kind == "double":
            kernels[out] = _udfs()["py_str_double"](
                F.expr(f"CAST({c} AS DOUBLE)"))
        elif ci.kind == "timestamp":
            kernels[out] = _udfs()["py_str_timestamp"](F.expr(c))
        else:  # str(Decimal) is its string form, like the other casts
            exprs[out] = _key_sql(ci)
    if kernels:
        df = df.withColumns(kernels)
    return with_sql_columns(df, exprs)


# Unicode-aware analogues of Python's per-char isdigit/isalpha/isalnum
# (Java regex classes; exact for ASCII, near-exact for general Unicode).
_RE_DIGIT = r"[\p{Nd}]"
_RE_ALPHA = r"[\p{L}]"
_RE_SPECIAL = r"[^\p{L}\p{N}\s]"


#: the code of each ColInfo.kind, as a column's struct carries it in
#: the explode
_KIND = {kind: i for i, kind in enumerate((
    "string", "bool", "int", "double", "timestamp", "date", "decimal",
    "other"))}


def _explode(df: DataFrame, cols: list[ColInfo]) -> DataFrame:
    """One row per (row, column) of ``df`` (which has a ``__row_seq``):
    ``seq``, the column name ``c``, its ``kind`` code (:data:`_KIND`),
    its key text ``x`` (:func:`_key_sql`, NULL iff the value is NULL)
    and ``nv``, the value of an int/double column as a double.

    Each column contributes one small struct, so per-value expressions
    are written once over the exploded rows, not once per column."""
    structs = ", ".join(_named_struct({
        "c": sql_string(ci.name), "kind": str(_KIND[ci.kind]),
        "x": _key_sql(ci),
        "nv": (f"CAST({sql_ident(ci.name)} AS DOUBLE)"
               if ci.kind in ("int", "double") else "CAST(NULL AS DOUBLE)"),
    }) for ci in cols)
    return df.selectExpr(f"{ROW_SEQ} AS seq", f"inline(array({structs}))")


def _raw_long_frame(
    df: DataFrame, cols: list[ColInfo], empty_values: list[str]
) -> DataFrame:
    """Explode the RAW frame (with its ``__row_seq``) to one row per
    (column, value) with a HASH group key and map-side per-value facts.

    The explode comes first (:func:`_explode`); one projection after it
    computes every fact once, keyed on the column's ``kind``, and the
    string columns' ``guess_datatype`` kernel runs once over the long
    frame.  Only the explode's structs are written per column: no
    expression after it, and no stage's generated code but the
    explode's own, grows with the table's width.

    Scale contract: the shuffle key is ``(c, h1, h2, k)`` — a 128-bit
    xxhash64 pair of the stringified value — and every per-value fact
    (display length, guess_datatype class as a :data:`VT_CODES` bit,
    numeric value, char-class flags, empty-marker membership) is
    computed MAP-SIDE, so unbounded text never rides a shuffle.  A
    near-unique 100-TB text column shuffles ~60 bytes per distinct value
    instead of the corpus itself.  ``n_uniq`` counts distinct 128-bit
    hashes — exact up to collision odds ~n²/2¹²⁹ (≪1e-15 even at 10¹²
    rows; documented trade).

    ``k`` is NULL for text columns; short, bounded-width columns
    (bool/int/float/date/timestamp/decimal) carry their ≤40-char key
    string there, so the exact Python ``str()`` display formatting can
    run post-group, once per distinct value.  ``k`` is a function of the
    hashed value, so grouping by it too leaves the groups unchanged.
    """
    long = _explode(df, cols)
    s = _KIND["string"]
    # a non-null value's vt bit: per value for strings, fixed otherwise
    bits = " ".join(f"WHEN {_KIND[kind]} THEN {_VT_BIT[vt]}"
                    for kind, vt in _VT_OF_KIND.items())
    nv = "nv"
    if any(ci.kind == "string" for ci in cols):
        # guess_datatype per string value (Arrow-vectorized), one call
        # over the long frame; other columns' values reach it as NULL
        long = long.withColumns({"cls": _udfs()["classify_string"](
            F.expr(f"CASE WHEN kind = {s} THEN x END"))})
        bits = f"WHEN {s} THEN cls.vb {bits}"
        nv = (f"CASE WHEN kind != {s} THEN nv WHEN (cls.vb & "
              f"{_VT_BIT['int'] | _VT_BIT['float']}) != 0 THEN cls.nv END")
    text = f"kind IN ({', '.join(str(_KIND[k]) for k in _TEXT_KINDS)})"
    long = with_sql_columns(long, {"v": "coalesce(x, 'None')"})  # str(None)
    return long.selectExpr(
        "c", "xxhash64(v) AS h1", "xxhash64(v, 1) AS h2",
        f"CASE WHEN NOT {text} THEN v END AS k",
        # the short kinds take ln and mk from their display form,
        # post-group
        f"CASE WHEN {text} THEN length(v) END AS ln",
        f"CASE WHEN x IS NOT NULL THEN CASE kind {bits} END END AS vb",
        f"{nv} AS nv", "x IS NULL AS isnull",
        f"CASE WHEN kind = {s} THEN length(x) END AS rawlen",
        # char-class counts apply to str values only (stats.py:409-423)
        *(f"CASE WHEN kind = {s} AND length(x) > 0 AND x RLIKE "
          f"{sql_string(rx)} THEN 1 ELSE 0 END AS {name}"
          for name, rx in (("dn", _RE_DIGIT), ("an", _RE_ALPHA),
                           ("sn", _RE_SPECIAL))),
        f"CASE WHEN {text} THEN NOT {sql_in('v', empty_values)} END AS mk")


def _display_expr(
    df: DataFrame, v: str, double_cols: list[str], ts_cols: list[str]
) -> tuple[DataFrame, str]:
    """Exact Python ``str()`` display formatting of the key ``v`` of
    double/timestamp distinct values (str(0.1)='0.1', trailing-zero
    microseconds kept); other values display as they are.  ``df`` has
    columns ``c`` (the column name) and ``any_null``.

    Returns ``df`` with each needed Python kernel staged as a column,
    and the SQL text of the display value over them."""
    kernels: dict[str, Column] = {}
    whens = []
    for names, udf, typ, out in (
            (double_cols, "py_str_double", "DOUBLE", "__py_dbl"),
            (ts_cols, "py_str_timestamp", "TIMESTAMP", "__py_ts")):
        if not names:
            continue
        gate = sql_in("c", names)
        # the gate must sit INSIDE the UDF argument: Python-UDF extraction
        # evaluates the argument for every row, so other columns' values
        # must become null before the cast (ANSI + Arrow overflow safety)
        kernels[out] = _udfs()[udf](
            F.expr(f"TRY_CAST(CASE WHEN {gate} THEN {v} END AS {typ})"))
        whens.append(f"WHEN {gate} AND any_null = 0 THEN {out}")
    if not kernels:
        return df, v
    return df.withColumns(kernels), f"CASE {' '.join(whens)} ELSE {v} END"


# phase 1, per (column, value hash): every buffer is fixed-width, so the
# job runs as a codegen'd HashAggregate (a string max or collect_set
# would force ObjectHashAggregate, which sorts past 128 keys)
_VALUE_AGGS = (
    "count(1) AS n", "max(ln) AS t_ln", "bit_or(vb) AS vb",
    "max(nv) AS nv0", "max(CAST(isnull AS INT)) AS any_null",
    "min(rawlen) AS raw_minlen", "max(rawlen) AS raw_maxlen",
    "sum(dn) AS dn", "sum(an) AS an", "sum(sn) AS sn", "max(mk) AS mk",
)
# phase 2, per column
_COLUMN_AGGS = (
    "sum(n) AS total", "count(1) AS n_uniq", "min(ln) AS minlen",
    "max(ln) AS maxlen", "sum(n * ln) AS totallen", "min(nv0) AS minval",
    "max(nv0) AS maxval", "bit_or(vb) AS vtypes",
    "sum(CASE WHEN mk THEN n ELSE 0 END) AS nonempty_markers",
    "max(any_null) AS has_null", "min(raw_minlen) AS raw_minlen",
    "max(raw_maxlen) AS raw_maxlen",
    # char-composition counts (string columns only): per-row flags
    # summed map-side; a matching distinct value contributes its
    # non-null copies (stats.py:409-423 semantics)
    "sum(dn) AS has_digit", "sum(an) AS has_alphas", "sum(sn) AS has_special",
)


def _stats_frame(
    df: DataFrame, cols: list[ColInfo], empty_values: list[str]
) -> DataFrame:
    """The per-column stats rollup of ``df`` (which has a ``__row_seq``),
    one row per column: phase 1 per (column, value hash), the display
    enrichment of short columns' distinct values, then phase 2."""
    double_cols = [ci.name for ci in cols if ci.kind == "double"]
    ts_cols = [ci.name for ci in cols if ci.kind == "timestamp"]

    long = _raw_long_frame(df, cols, empty_values)
    # phase 1: per distinct (column, 128-bit value hash).  Map-side
    # combine collapses duplicate values before the shuffle; the shuffle
    # rows are fixed-width facts plus ``k``, the raw key of SHORT
    # columns only (≤ ~40 chars).
    g0 = long.groupBy("c", "h1", "h2", "k").agg(*map(F.expr, _VALUE_AGGS))
    # per-DISTINCT-value enrichment for SHORT columns only: Python str()
    # display formatting decides their length/marker facts.  TEXT columns
    # (k IS NULL) carry their facts from the map side.
    g0, v_disp = _display_expr(g0, "k", double_cols, ts_cols)
    g = g0.selectExpr(
        "c", "n", "nv0", "any_null", "raw_minlen", "raw_maxlen",
        "dn", "an", "sn",
        f"CASE WHEN k IS NOT NULL THEN length({v_disp}) ELSE t_ln END AS ln",
        f"coalesce(vb, 0) | CASE WHEN any_null = 1 THEN {_VT_BIT['empty']} "
        "ELSE 0 END AS vb",
        f"CASE WHEN k IS NOT NULL THEN NOT {sql_in(v_disp, empty_values)} "
        "ELSE mk END AS mk",
    )
    return g.groupBy("c").agg(*map(F.expr, _COLUMN_AGGS))


def compute_stats(
    df: DataFrame,
    cols: list[ColInfo],
    *,
    dictshare: float = DEFAULT_DICT_SHARE,
    empty_values: Optional[list[str]] = None,
    with_dictvalues: bool = True,
    max_dictvalues: Optional[int] = 10_000,
) -> tuple[dict[str, ColumnStats], dict[str, dict[str, Any]]]:
    """Two-phase stats over the RAW frame: groupBy(col, hash128(value))
    with map-side per-value facts → groupBy(col) rollup, then a separate
    bounded dict-values pass over only the dict-candidate columns.
    Returns ({column_name: ColumnStats}, aux) for columns not skipped by
    the 1-char/all-digit filter, in column order.

    ``max_dictvalues`` bounds the driver-side dict-value enumeration
    (first-seen order) — the reference collects all of them
    (stats.py:444-454), which this reproduces on any fixture-sized
    input, but 10% of 10¹⁰ rows must not reach the driver; pass None to
    disable the cap.
    """
    empty_values = empty_values if empty_values is not None else DEFAULT_EMPTY_VALUES
    # Drop the None marker: v is str(raw) (never null here), and a None in
    # an IN list would poison the three-valued logic of the negation.
    empty_values = [e for e in empty_values if e is not None]
    kept = [ci for ci in cols if not _first_segment_skipped(ci.name)]
    if not cols:
        return {}, {}
    df = with_row_seq(df)
    percol = _stats_frame(df, cols, empty_values).collect()
    rows = {r["c"]: r.asDict() for r in percol}

    aux: dict[str, dict[str, Any]] = {}
    for ci in cols:
        r = rows.get(ci.name)
        if r is None:
            continue
        aux[ci.name] = {
            "has_null": bool(r["has_null"]),
            "raw_minlen": r["raw_minlen"],
            "raw_maxlen": r["raw_maxlen"],
            "is_string": ci.is_string,
            "total": r["total"],
        }

    out: dict[str, ColumnStats] = {}
    dict_cols: list[ColInfo] = []
    for ci in kept:
        r = rows.get(ci.name)
        if r is None or not r["total"]:
            continue
        total, n_uniq = r["total"], r["n_uniq"]
        share_uniq = n_uniq * 100.0 / total
        vtypes = _vt_names(r["vtypes"])
        vtypes.discard("empty")
        ftype = next(iter(vtypes)) if len(vtypes) == 1 else "str"
        is_dictkey = share_uniq <= dictshare
        tags: list[str] = []
        if share_uniq == 100:
            tags.append("uniq")
        if is_dictkey:
            tags.append("empty" if r["nonempty_markers"] == 0 else "dict")
            dict_cols.append(ci)
        out[ci.name] = ColumnStats(
            key=ci.name, ftype=ftype, is_dictkey=is_dictkey,
            is_uniq=share_uniq >= 100, n_uniq=n_uniq, share_uniq=share_uniq,
            minlen=r["minlen"], maxlen=r["maxlen"],
            avglen=r["totallen"] / total, tags=tags,
            has_digit=r["has_digit"], has_alphas=r["has_alphas"],
            has_special=r["has_special"],
            minval=r["minval"], maxval=r["maxval"],
            has_any_digit=r["has_digit"] > 0,
            has_any_alphas=r["has_alphas"] > 0,
            has_any_special=r["has_special"] > 0,
            dictvalues=None,
        )
    if with_dictvalues and dict_cols:
        for name, values in _dictvalues_pass(
            df, dict_cols, max_dictvalues
        ).items():
            out[name].dictvalues = values
    return out, aux


def _dictvalues_pass(
    df: DataFrame,
    dict_cols: list[ColInfo],
    max_dictvalues: Optional[int],
) -> dict[str, list]:
    """Enumerate distinct display values per dict-candidate column in
    first-seen order (stats.py:444-454).

    A second, column-pruned scan over only the dict candidates: these
    are ≤ dictshare% distinct by definition, so groupBy(c, value)
    collapses map-side to the small distinct set.  ``max_dictvalues``
    caps what reaches the driver (first-seen order kept)."""
    long = _explode(df, dict_cols).selectExpr(
        "seq", "c", "coalesce(x, 'None') AS v", "x IS NULL AS isnull")
    g = long.groupBy("c", "v").agg(
        F.expr("min(seq) AS first_seen"),
        F.expr("max(CAST(isnull AS INT)) AS any_null"))
    g, v_disp = _display_expr(
        g, "v", [ci.name for ci in dict_cols if ci.kind == "double"],
        [ci.name for ci in dict_cols if ci.kind == "timestamp"])
    exprs = ["c", f"{v_disp} AS v", "first_seen"]
    if max_dictvalues is not None:
        exprs.append("row_number() OVER (PARTITION BY c ORDER BY first_seen)"
                     " AS __rn")
    g = g.selectExpr(*exprs)
    if max_dictvalues is not None:
        g = g.where(f"__rn <= {int(max_dictvalues)}")
    byc: dict[str, list] = {}
    for r in g.collect():
        byc.setdefault(r["c"], []).append((r["first_seen"], r["v"]))
    return {
        ci.name: [v for _, v in sorted(byc.get(ci.name, []))]
        for ci in dict_cols
    }
