"""Rule-matching engine — Spark re-implementation of ``match_dict``.

Reproduces ``metacrafter/classify/processor.py:655-960`` as:

1. **driver-side field-name matching** (cheap, over ``df.columns``);
2. **driver-side planning**: ftype shortcuts (processor.py:780-821),
   rule pruning by column length stats (processor.py:836-841) and
   fieldrule gates (processor.py:842-854) select the surviving
   (column, rule) pairs — the analogue of partition pruning: the match
   job's plan only contains predicates that can possibly win;
3. **one Spark aggregation over the sampled slice** computing, per
   column, the empty count and, per surviving pair, the success count:
   text rules as native ``lower(v) IN (...)`` (whole-stage codegen),
   ppr/func rules as flags from one Arrow-vectorized pandas UDF.  The
   plan is SQL text (the explode, the flag projection, the gated sums);
   only the UDF is a Column object, staged in its own projection;
4. **driver-side confidence math**: ``success*100/(total-empty)``,
   strict ``> confidence`` threshold (processor.py:898-906), rule-seq
   ordering, stop_on_match truncation.

The raw data never reaches the driver — only the (columns × rules)
count matrix does.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from functools import lru_cache
from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from metacrafter_spark.analyzer import ROW_SEQ, ColInfo, ColumnStats
from metacrafter_spark.rules.model import CompiledRule, CompiledRulePack
from metacrafter_spark.rules.validators_compat import FUNC_REGISTRY
from metacrafter_spark.util import sql_ident, sql_in, sql_literal, sql_string


@dataclass
class RuleHit:
    ruleid: str
    dataclass: str
    confidence: float
    ruletype: str  # 'field' | 'data' | 'fieldtype'
    format: Optional[str] = None


@dataclass
class ColumnMatches:
    field: str
    matches: list[RuleHit] = dc_field(default_factory=list)


@lru_cache(maxsize=2048)
def _rx(pattern: str) -> "re.Pattern[str]":
    return re.compile(pattern)


def _multi_flag_udf(specs: tuple):
    """One Arrow-batched pandas UDF evaluating EVERY Python-side rule
    predicate (ppr anchored regex / func validators) and returning the
    flags as one ``array<boolean>`` — a single serialization boundary
    instead of one UDF column per rule: ``str.match`` on the anchored
    pattern, or the func registry's PATTERN with its lowercase
    convention."""
    @pandas_udf("array<boolean>")
    def flags(s: pd.Series) -> pd.Series:
        base = s.fillna("")
        lowered = None
        cols = []
        for kind, arg in specs:
            if kind == "ppr":
                cols.append(base.str.match(_rx(arg)))
            else:
                fn = FUNC_REGISTRY[arg]
                src = base
                if arg == "validators.domain":
                    if lowered is None:
                        lowered = base.str.lower()
                    src = lowered
                cols.append(src.str.match(fn.PATTERN))
        if not cols:
            return pd.Series([[]] * len(s))
        return pd.Series(pd.concat(cols, axis=1).values.tolist())

    return flags


def match_field_rules(
    field: str, field_rules: tuple[CompiledRule, ...], stop_on_match: bool
) -> list[RuleHit]:
    """Field-name rules: any hit → confidence 100 (processor.py:723-775)."""
    shortfield = field.rsplit(".", 1)[-1].strip()
    hits: list[RuleHit] = []
    for rule in field_rules:
        matched = False
        if rule.match == "text":
            matched = (
                shortfield.lower() in rule.keywords or field.lower() in rule.keywords
            )
        elif rule.match == "ppr":
            rx = rule.compiled_pattern()
            matched = rx.match(shortfield) is not None or rx.match(field) is not None
        elif rule.match == "func":
            fn = rule.func()
            matched = bool(fn(shortfield)) or bool(fn(field))
        if matched:
            hits.append(
                RuleHit(ruleid=rule.id, dataclass=rule.dataclass,
                        confidence=100, ruletype="field")
            )
            if stop_on_match:
                break
    return hits


_FTYPE_SHORTCUTS = {
    "bool": ("_int_fieldtype_boolean", "boolean"),
    "datetime": ("_int_fieldtype_datetime", "datetime"),
    "date": ("_int_fieldtype_date", "date"),
}


def _column_lengths(
    field: str,
    stats: dict[str, ColumnStats],
    aux: dict[str, dict[str, Any]],
) -> tuple[int, int]:
    """min_len/max_len used for rule pruning (processor.py:822-830)."""
    min_len = max_len = 0
    if field in stats:
        min_len = stats[field].minlen
        max_len = stats[field].maxlen
    if min_len == 0:
        a = aux.get(field)
        # Reference recomputes len(min(data, key=len)) over raw values:
        # TypeError → 4/4 when any value is None or not sized (non-string).
        if a is None or a["has_null"] or not a["is_string"] or a["raw_minlen"] is None:
            return 4, 4
        return a["raw_minlen"], a["raw_maxlen"]
    return min_len, max_len


def _prune_data_rules(
    field: str,
    min_len: int,
    max_len: int,
    data_rules: tuple[CompiledRule, ...],
) -> list[CompiledRule]:
    """Length-interval + fieldrule-gate pruning (processor.py:836-854)."""
    shortfield = field.rsplit(".", 1)[-1].strip()
    out = []
    for rule in data_rules:
        if not (
            (rule.minlen <= min_len <= rule.maxlen)
            or (min_len <= rule.minlen <= max_len)
        ):
            continue
        if rule.fieldrule_match == "ppr":
            if rule.compiled_fieldrule_pattern().match(shortfield) is None:
                continue
        elif rule.fieldrule_match == "text":
            if shortfield.lower() not in rule.fieldrule_keywords:
                continue
        out.append(rule)
    return out


# the per-column counts every match job takes: values and empty values
_TOTAL_SQL = "count(1) AS __total"
_EMPTY_SQL = "sum(CASE WHEN v IS NULL OR length(v) = 0 THEN 1 ELSE 0 END) AS __empty"


def _long_slice(ndf: DataFrame, cols: dict[str, ColInfo],
                limit: int) -> DataFrame:
    """The first ``limit`` rows of the normalized frame, exploded to one
    row ``(seq, c, v)`` per (row, column): ``v`` is the column's
    ``{safe}__vs``."""
    structs = ", ".join(
        f"named_struct('c', {sql_string(name)}, 'v', {ci.safe}__vs)"
        for name, ci in cols.items())
    return ndf.orderBy(ROW_SEQ).limit(limit).selectExpr(
        f"{ROW_SEQ} AS seq", f"inline(array({structs}))")


def match_columns(
    ndf: DataFrame,
    cols: list[ColInfo],
    stats: dict[str, ColumnStats],
    aux: dict[str, dict[str, Any]],
    pack: CompiledRulePack,
    *,
    fields: Optional[list[str]] = None,
    confidence: float = 95.0,
    stop_on_match: bool = False,
    limit: int = 1000,
    filter_contexts: Optional[list[str]] = None,
    filter_langs: Optional[list[str]] = None,
    except_empty: bool = True,
    ignore_imprecise: bool = True,
    parse_dates: bool = False,
) -> list[ColumnMatches]:
    """Full match_dict semantics over a normalized DataFrame."""
    field_rules = pack.filtered("field", filter_contexts, filter_langs, ignore_imprecise)
    data_rules = pack.filtered("data", filter_contexts, filter_langs, ignore_imprecise)
    by_name = {ci.name: ci for ci in cols}
    names = fields if fields else [ci.name for ci in cols]

    results: list[ColumnMatches] = []
    # -- plan: decide per column what the Spark job must compute ----------
    plan: dict[str, list[CompiledRule]] = {}
    shortcut_done: set[str] = set()
    for name in names:
        m = ColumnMatches(field=name)
        m.matches.extend(match_field_rules(name, field_rules, stop_on_match))
        results.append(m)
        st = stats.get(name)
        if st is not None and st.ftype in _FTYPE_SHORTCUTS:
            ruleid, dclass = _FTYPE_SHORTCUTS[st.ftype]
            m.matches.append(
                RuleHit(ruleid=ruleid, dataclass=dclass, confidence=100,
                        ruletype="fieldtype")
            )
            shortcut_done.add(name)
            continue
        if st is not None and st.ftype == "float":
            shortcut_done.add(name)  # float columns skip all data matching
            continue
        min_len, max_len = _column_lengths(name, stats, aux)
        plan[name] = _prune_data_rules(name, min_len, max_len, data_rules)

    # -- the one Spark job over the sampled slice -------------------------
    # Long-frame shape: explode to (column, value), evaluate each DISTINCT
    # rule predicate once as a column over the single value column, then
    # aggregate per (column, rule) pair with simple gated sums.  Keeps the
    # plan at O(pairs) trivial expressions (no N-column wide agg, whose
    # planning cost grows superlinearly) and runs each regex kernel once,
    # not once per (column, rule) pair.
    pairs = [(n, r) for n, rules in plan.items() for r in rules]
    agg_row: dict[str, Any] = {}
    if plan:
        long = _long_slice(ndf, {name: by_name[name] for name in plan}, limit)
        distinct_rules: dict[str, CompiledRule] = {}
        for _, rule in pairs:
            distinct_rules.setdefault(rule.id, rule)
        # every Python-side rule (ppr regex / func) evaluates inside
        # ONE Arrow-batched pandas UDF returning a flag array — a
        # single serialization boundary instead of one UDF column per
        # rule (the builtin pack has ~40 of them); text rules stay
        # pure-JVM IN predicates.
        py_rules = [r for r in distinct_rules.values()
                    if r.match in ("ppr", "func")]
        py_idx = {r.id: i + 1 for i, r in enumerate(py_rules)}
        if py_rules:
            long = long.withColumns({"__pyflags": _multi_flag_udf(tuple(
                (r.match, r.pattern if r.match == "ppr"
                 else r.func_name) for r in py_rules))(F.expr("v"))})
        flags = {}
        for rid, rule in distinct_rules.items():
            if rule.match == "text":
                flags[rid] = sql_in("lower(v)", sorted(rule.keywords))
            else:
                flags[rid] = f"element_at(__pyflags, {py_idx[rid]})"
        long = long.selectExpr("c", "v", *(
            f"{pred} AS {sql_ident('flag_' + rid)}"
            for rid, pred in flags.items()))

        # groupBy(column) with ONE gated sum per distinct rule — the agg
        # plan stays O(#rules) expressions; (column, rule) pair results
        # are read out driver-side from the per-column rows.
        aggs = [_TOTAL_SQL, _EMPTY_SQL] + [
            f"sum(CASE WHEN v IS NOT NULL AND length(v) > 0 AND length(v) "
            f"BETWEEN {sql_literal(rule.minlen)} AND "
            f"{sql_literal(rule.maxlen)} AND {sql_ident('flag_' + rid)} "
            f"THEN 1 ELSE 0 END) AS "
            f"{sql_ident('succ_' + rid)}"
            for rid, rule in distinct_rules.items()]
        agg_row = {
            r["c"]: r.asDict()
            for r in long.groupBy("c").agg(*map(F.expr, aggs)).collect()
        }

    # -- confidence math + assembly (processor.py:858-916) ----------------
    by_field = {m.field: m for m in results}
    succ: dict[str, list[tuple[CompiledRule, int]]] = {n: [] for n in plan}
    for name, rule in pairs:
        col_row = agg_row.get(name, {})
        succ[name].append((rule, col_row.get(f"succ_{rule.id}", 0) or 0))
    for name, rules_counts in succ.items():
        col_row = agg_row.get(name, {})
        total = col_row.get("__total", 0) or 0
        empty = col_row.get("__empty", 0) or 0
        m = by_field[name]
        for rule, success in rules_counts:
            if except_empty:
                subtotal = total - empty
                result = 0 if subtotal == 0 else success * 100.0 / subtotal
            else:
                result = success * 100.0 / total if total else 0
            if result > confidence:
                m.matches.append(
                    RuleHit(ruleid=rule.id, dataclass=rule.dataclass,
                            confidence=result, ruletype="data")
                )
                if stop_on_match:
                    break

    if parse_dates:
        _date_fallback(
            ndf, by_name, stats, results, shortcut_done,
            confidence=confidence, limit=limit, except_empty=except_empty,
        )
    return results


def _date_fallback(
    ndf: DataFrame,
    by_name: dict[str, ColInfo],
    stats: dict[str, ColumnStats],
    results: list[ColumnMatches],
    shortcut_done: set,
    *,
    confidence: float,
    limit: int,
    except_empty: bool,
) -> list[ColumnMatches]:
    """qddate-style fallback (processor.py:918-958): columns with ZERO
    matches and ftype 'str' get a date-battery pass; format = the LAST
    matching value's pattern key; only str values are tried (non-str
    values silently count toward total)."""
    from metacrafter_spark.rules.dates import first_match_key_index, pattern_key

    candidates = [
        m for m in results
        if not m.matches
        and m.field not in shortcut_done
        and m.field in by_name
        and (m.field not in stats or stats[m.field].ftype == "str")
    ]
    if not candidates:
        return results

    @pandas_udf("int")
    def date_idx(s: pd.Series) -> pd.Series:
        # battery scan per value — bounded by the sampling limit
        return s.map(
            lambda v: -1 if v is None else first_match_key_index(v)
        ).astype("int32")

    long = _long_slice(ndf, {m.field: by_name[m.field] for m in candidates},
                       limit)
    long = long.withColumns({"idx": date_idx(F.expr("v"))})
    rows = long.groupBy("c").agg(*map(F.expr, (
        _TOTAL_SQL, _EMPTY_SQL,
        "sum(CASE WHEN idx >= 0 THEN 1 ELSE 0 END) AS __succ",
        "max_by(idx, CASE WHEN idx >= 0 THEN seq END) AS __last"))).collect()
    row_by_c = {r["c"]: r.asDict() for r in rows}
    for m in candidates:
        r = row_by_c.get(m.field, {})
        total = r.get("__total", 0) or 0
        empty = r.get("__empty", 0) or 0
        success = r.get("__succ", 0) or 0
        if except_empty:
            subtotal = total - empty
            result = 0 if subtotal == 0 else success * 100.0 / subtotal
        else:
            result = success * 100.0 / total if total else 0
        if result > confidence:
            last = r.get("__last")
            m.matches.append(
                RuleHit(
                    ruleid="qddate", dataclass="datetime", confidence=result,
                    ruletype="data",
                    format=pattern_key(last) if last is not None and last >= 0 else None,
                )
            )
    return results
