"""scan_dataframe — the engine's `scan_data` equivalent.

Mirrors the reference entry point ``CrafterCmd.scan_data``
(``metacrafter/core.py:1157-1360``) over a Spark DataFrame:

    stats job (two hash aggregates over a long frame)  →  driver
    planning  →  match job (one agg)  →  report assembly

Returns the same report shape the reference returns — ``results`` rows
``[key, ftype, tags, matches, datatype_url]``, per-field ``data``
records, the stats dict and the 19-column stats table — plus helpers to
get the labels as a Spark DataFrame for downstream joins.
"""

from __future__ import annotations

from typing import Any, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from metacrafter_spark.analyzer import (
    DEFAULT_DICT_SHARE,
    ROW_SEQ,
    STATS_HEADERS,
    analyzed_columns,
    compute_stats,
    with_normalized_columns,
    with_row_seq,
)
from metacrafter_spark.matcher import ColumnMatches, RuleHit, match_columns
from metacrafter_spark.rules.model import (
    MIN_CONFIDENCE_FOR_MATCH,
    CompiledRulePack,
    load_builtin_pack,
)

BASE_URL = "https://registry.apicrafter.io/datatype/{dataclass}"


def _listify(v: Optional[Union[str, list]]) -> Optional[list]:
    if v is None:
        return None
    if isinstance(v, str):
        return [x.strip() for x in v.split(",") if x.strip()]
    return list(v)


def scan_dataframe(
    df: DataFrame,
    *,
    pack: Optional[CompiledRulePack] = None,
    limit: int = 1000,
    contexts: Optional[Union[str, list]] = None,
    langs: Optional[Union[str, list]] = None,
    confidence: Optional[float] = None,
    stop_on_match: bool = False,
    parse_dates: bool = False,
    ignore_imprecise: bool = True,
    except_empty: bool = True,
    fields: Optional[Union[str, list]] = None,
    stats_only: bool = False,
    dict_share: Optional[float] = None,
    empty_values: Optional[list] = None,
    llm_classifier=None,
    llm_mode: Optional[str] = None,
    llm_min_confidence: float = 50.0,
) -> dict[str, Any]:
    """Classify every column of ``df``; return a reference-shaped report.

    .. warning:: **Default divergence from the reference.**  The
       reference ``scan_data`` defaults ``parse_dates=True``; this
       engine defaults ``parse_dates=False`` because the date battery
       (:mod:`metacrafter_spark.rules.dates`, the qddate-stage
       re-derivation) emits its own ``date:*``/``dt:*`` format keys
       rather than qddate pattern keys — callers porting reference code
       that rely on date-fallback labels must pass
       ``parse_dates=True`` explicitly and expect the different format
       keys.  Golden parity vs the reference runs ``parse_dates=False``
       (a reference-supported mode), since qddate itself is not
       installable here.

    LLM / hybrid mode (reference ``core.py:151-157,1260-1317``): pass
    an :class:`metacrafter_spark.llm.LLMClassifier` as
    ``llm_classifier`` with ``llm_mode="hybrid"`` (rules first, LLM
    consulted only for fields whose best rule confidence is below
    ``llm_min_confidence``, reference ``_merge_llm_results``
    ``core.py:1059-1153``) or ``llm_mode="llm"`` (LLM-only — the rule
    engine is bypassed, reference ``_classify_with_llm_only``
    ``core.py:977-1057``).  Sample values feeding the LLM come from the
    same bounded first-100-row slice the reference uses
    (``core.py:1001-1007``): up to 10 truthy stringified values per
    field collected, the first 5 passed to the classifier.
    """
    from pyspark.sql import types as T

    from metacrafter_spark.flatten import flatten_frames, header_order

    pack = pack or load_builtin_pack()
    contexts = _listify(contexts)
    langs = _listify(langs)
    fields = _listify(fields)
    threshold = confidence if confidence is not None else MIN_CONFIDENCE_FOR_MATCH

    nested = any(
        isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
        for f in df.schema.fields
    )
    if nested:
        frame_groups = [(g.df, g.cols) for g in flatten_frames(df)]
        order = header_order(df)
    else:
        cols = analyzed_columns(df)
        frame_groups = [(df, cols)]
        order = [ci.name for ci in cols]

    dictshare = dict_share if dict_share is not None else DEFAULT_DICT_SHARE
    llm_active = llm_classifier is not None and llm_mode in ("llm", "hybrid")
    # (frame, cols) per group, kept for the LAZY sample collect below:
    # samples are only pulled after rule matching, for the fields the
    # LLM will actually see — a hybrid scan whose every column clears
    # the rule-confidence bar runs zero extra Spark jobs.
    sample_sources: list = []
    field_samples: dict[str, list[str]] = {}
    stats_dict: dict = {}
    all_matches: list[ColumnMatches] = []
    for frame, cols in frame_groups:
        frame = with_row_seq(frame)
        # stats run on the RAW frame (classification happens per distinct
        # value inside compute_stats); per-row normalization is only ever
        # applied to the bounded match slice below
        stats, aux = compute_stats(
            frame, cols, dictshare=dictshare, empty_values=empty_values
        )
        for k, st in stats.items():
            stats_dict[k] = st.as_dict()
        if stats_only:
            continue
        if llm_active:
            sample_sources.append((frame, cols))
        if llm_mode == "llm" and llm_classifier is not None:
            continue  # rule engine bypassed (reference core.py:1268-1291)
        group_fields = (
            [f for f in fields if any(ci.name == f for ci in cols)]
            if fields else None
        )
        if fields is not None and not group_fields:
            continue
        # Matching samples only the first `limit` rows — slice the RAW
        # frame first, then normalize: the classify kernels run on ≤limit
        # rows instead of the whole table (normalization is per-row pure,
        # so it commutes with the row filter).
        slice_frame = frame.orderBy(ROW_SEQ).limit(limit)
        ndf_slice = with_normalized_columns(slice_frame, cols)
        all_matches.extend(
            match_columns(
                ndf_slice, cols, stats, aux, pack,
                fields=group_fields,
                confidence=threshold,
                stop_on_match=stop_on_match,
                limit=limit,
                filter_contexts=contexts,
                filter_langs=langs,
                except_empty=except_empty,
                ignore_imprecise=ignore_imprecise,
                parse_dates=parse_dates,
            )
        )
    # merge in first-seen header order (reference report order)
    order_index = {name: i for i, name in enumerate(order)}
    stats_dict = dict(
        sorted(stats_dict.items(), key=lambda kv: order_index.get(kv[0], 1 << 30))
    )
    stats_table = [
        [d[h] for h in STATS_HEADERS] for d in stats_dict.values()
    ]
    if stats_only:
        return {"results": [], "data": [], "stats": stats_dict,
                "stats_table": stats_table}
    if llm_active:
        # Lazy sample collect: llm-only consults the classifier for every
        # stats field, hybrid only for fields below the rule-confidence
        # bar — samples are pulled for exactly those (and a frame group
        # contributing none runs no job at all).  NOTE the reference
        # iterates ALL of datastats in both paths regardless of the
        # ``fields`` filter (core.py:1011,1107) — excluded columns still
        # reach the LLM and can land in the report; mirrored on purpose.
        if llm_mode == "llm":
            needed = set(stats_dict)
        else:
            by_field = {m.field: m for m in all_matches}
            needed = set()
            for name in stats_dict:
                m = by_field.get(name)
                best = max((h.confidence for h in m.matches),
                           default=0.0) if m else 0.0
                if not (m and m.matches and best >= llm_min_confidence):
                    needed.add(name)
        for frame, cols in sample_sources:
            want = [ci for ci in cols if ci.name in needed]
            if want:
                field_samples.update(_collect_field_samples(frame, want))
        if llm_mode == "llm":
            all_matches = _llm_only_matches(
                llm_classifier, stats_dict, field_samples,
                langs=langs, contexts=contexts)
        else:
            _merge_llm_matches(
                llm_classifier, all_matches, stats_dict, field_samples,
                langs=langs, contexts=contexts,
                min_confidence=llm_min_confidence)
    all_matches.sort(key=lambda m: order_index.get(m.field, 1 << 30))
    return assemble_report(all_matches, stats_dict, stats_table)


def _collect_field_samples(frame, cols, *, rows: int = 100,
                           cap: int = 10) -> dict[str, list[str]]:
    """Bounded sample collect feeding the LLM path — the reference
    walks ``items[:100]`` appending up to 10 truthy stringified values
    per field (core.py:1001-1007,1096-1101).  One ``limit(100)``
    collect per frame group: bounded by construction (100 rows × the
    table's column count), never row-scale.  Flattened nested columns
    are aliased to their dotted display names (flatten.py), so every
    select here must backtick-quote — bare ``user.email`` would resolve
    as struct access on a column that no longer exists."""
    from pyspark.sql import functions as F

    names = [ci.name for ci in cols]
    out: dict[str, list[str]] = {n: [] for n in names}
    selected = [F.col(f"`{n}`") for n in names]
    for row in frame.orderBy(ROW_SEQ).limit(rows).select(selected).collect():
        for i, n in enumerate(names):
            v = row[i]
            if v and len(out[n]) < cap:
                out[n].append(str(v))
    return out


def _llm_only_matches(classifier, stats_dict: dict,
                      field_samples: dict[str, list[str]], *,
                      langs=None, contexts=None) -> list[ColumnMatches]:
    """LLM-only classification (reference ``_classify_with_llm_only``,
    core.py:977-1057): every stats field is sent to the classifier with
    its first 5 samples; a match lands only when the model named a
    datatype with confidence > 0, as ruleid ``llm_classifier`` at
    confidence × 100.  Reference quirk kept on purpose: the
    ``min_confidence`` bar applies ONLY in hybrid mode (core.py:1045
    gates on ``confidence > 0`` here) — ``--llm-min-confidence`` has no
    effect in llm-only mode."""
    fields = [{"field_name": name,
               "sample_values": field_samples.get(name, [])[:5]}
              for name in stats_dict]
    try:
        results = classifier.classify_batch(fields, langs=langs,
                                            categories=contexts or None)
    except Exception as e:  # classifier down → empty result, like ref
        import logging

        logging.warning("LLM classification failed: %s", e)
        return []
    out = []
    for res in results:
        cm = ColumnMatches(field=res.get("field"))
        datatype_id = res.get("datatype_id")
        conf = res.get("confidence", 0.0)
        if datatype_id and conf > 0:
            cm.matches.append(RuleHit(
                ruleid="llm_classifier", dataclass=datatype_id,
                confidence=conf * 100.0, ruletype="llm"))
        out.append(cm)
    return out


def _merge_llm_matches(classifier, all_matches: list[ColumnMatches],
                       stats_dict: dict,
                       field_samples: dict[str, list[str]], *,
                       langs=None, contexts=None,
                       min_confidence: float = 50.0) -> None:
    """Hybrid merge (reference ``_merge_llm_results``,
    core.py:1059-1153): fields whose best rule confidence is already
    ≥ ``min_confidence`` are never sent to the LLM; for the rest, an
    LLM answer is merged only when its confidence × 100 clears the same
    bar.  Per-field failures are logged and skipped, never fatal."""
    by_field = {m.field: m for m in all_matches}
    for name in stats_dict:
        existing = by_field.get(name)
        best = max((h.confidence for h in existing.matches),
                   default=0.0) if existing else 0.0
        if existing and existing.matches and best >= min_confidence:
            continue
        try:
            res = classifier.classify_field(
                name, sample_values=field_samples.get(name, [])[:5],
                langs=langs, categories=contexts or None)
        except Exception as e:
            import logging

            logging.warning("LLM classification failed for %s: %s", name, e)
            continue
        conf100 = res.get("confidence", 0.0) * 100.0
        if res.get("datatype_id") and conf100 >= min_confidence:
            if existing is None:
                existing = ColumnMatches(field=name)
                all_matches.append(existing)
                by_field[name] = existing
            existing.matches.append(RuleHit(
                ruleid="llm_classifier", dataclass=res["datatype_id"],
                confidence=conf100, ruletype="llm"))


def assemble_report(
    matches: list[ColumnMatches],
    stats_dict: dict[str, dict],
    stats_table: list[list],
) -> dict[str, Any]:
    """Report assembly (core.py:1320-1361): columns absent from stats
    (1-char / all-digit keys) are dropped; datatype_url comes from
    the FIRST match."""
    output = []
    outdata = []
    for res in matches:
        if res.field not in stats_dict:
            continue
        mstrs = []
        for hit in res.matches:
            s = "%s %0.2f" % (hit.dataclass, hit.confidence)
            if hit.format is not None:
                s += " (%s)" % hit.format
            mstrs.append(s)
        url = BASE_URL.format(dataclass=res.matches[0].dataclass) if res.matches else ""
        st = stats_dict[res.field]
        output.append([res.field, st["ftype"], ",".join(st["tags"]),
                       ",".join(mstrs), url])
        outdata.append({
            "field": res.field,
            "matches": [
                {"ruleid": h.ruleid, "dataclass": h.dataclass,
                 "confidence": h.confidence, "ruletype": h.ruletype,
                 "format": h.format}
                for h in res.matches
            ],
            "tags": st["tags"],
            "ftype": st["ftype"],
            "datatype_url": url,
            "stats": st,
        })
    return {"results": output, "data": outdata, "stats": stats_dict,
            "stats_table": stats_table}


def labels_dataframe(spark: SparkSession, report: dict[str, Any]) -> DataFrame:
    """The per-(column, match) label table as a Spark DataFrame."""
    rows = []
    for rec in report["data"]:
        if not rec["matches"]:
            rows.append((rec["field"], rec["ftype"], None, None, None, None))
        for h in rec["matches"]:
            rows.append((rec["field"], rec["ftype"], h["ruleid"],
                         h["dataclass"], float(h["confidence"]), h["ruletype"]))
    return spark.createDataFrame(
        rows, "field string, ftype string, ruleid string, dataclass string, "
              "confidence double, ruletype string"
    )


def scan_items(spark: SparkSession, items: list, **kwargs) -> dict[str, Any]:
    """scan_data parity entry for in-memory list-of-dicts (core.py:1157).

    Nested dicts become struct columns (dot-path flattening happens in
    scan_dataframe); lists of dicts become array<struct> bags.  Columns
    that are None in EVERY item defeat Spark's type inference — the
    reference still reports them (every value classifies 'empty') — so
    they're re-attached as null string columns in their original
    position."""
    from pyspark.sql import functions as F

    conf_key = "spark.sql.pyspark.inferNestedDictAsStruct.enabled"
    old = spark.conf.get(conf_key, "false")
    spark.conf.set(conf_key, "true")
    try:
        try:
            df = spark.createDataFrame(items)
        except Exception:
            order: list[str] = []
            for it in items:
                for k in it:
                    if k not in order:
                        order.append(k)
            all_null = [
                k for k in order if all(it.get(k) is None for it in items)
            ]
            stripped = [
                {k: v for k, v in it.items() if k not in all_null}
                for it in items
            ]
            df = spark.createDataFrame(stripped)
            for k in all_null:
                df = df.withColumn(k, F.lit(None).cast("string"))
            df = df.select(*[F.col(f"`{k}`") for k in order])
    finally:
        spark.conf.set(conf_key, old)
    return scan_dataframe(df, **kwargs)
