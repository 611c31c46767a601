"""Gopher/C4-style heuristic quality rules as native SQL expressions.

Every metric and flag below is a pure JVM expression (split/filter/
regexp over the text column) — whole-stage codegen, no Python in the
hot path.  The metrics are Spark SQL text, each defined once, so the
staged :func:`with_quality` costs a few py4j round trips per
projection instead of dozens per Column-API call.  Thresholds follow
the published Gopher (Rae et al. 2021, §A1.1) and C4 (Raffel et al.
2020, §2.2) heuristics, adapted to per-document columns.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from metacrafter_spark.util import (
    appended_schema, sql_ident, sql_literal, sql_string, with_sql_columns,
)


@dataclass(frozen=True)
class QualityThresholds:
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 10.0
    max_symbol_word_ratio: float = 0.1
    max_bullet_line_frac: float = 0.9
    max_ellipsis_line_frac: float = 0.3
    min_alpha_word_frac: float = 0.8
    min_stopword_hits: int = 2
    max_dup_line_frac: float = 0.3
    max_dup_para_frac: float = 0.3
    max_dup_2gram_frac: float = 0.9  # lenient default; tighten per corpus
    min_terminal_punct_line_frac: float = 0.0  # C4 uses line filtering; doc-level info only
    # CJK mode (round 5): whitespace-word metrics silently degrade on
    # whitespace-free scripts (a zh/ja/th document tokenizes to a
    # handful of huge "words" and fails every Gopher word gate).  When
    # the CJK-char ratio clears cjk_mode_char_frac the pass decision
    # switches to char-unit gates: text units (CJK chars + whitespace
    # words) replace words, a CJK char-bigram dup fraction replaces the
    # word-2gram one, and a Unicode-letter ratio replaces the
    # Latin/Cyrillic alpha gates.
    cjk_mode_char_frac: float = 0.3
    min_letter_char_frac: float = 0.5
    max_dup_cjk_2gram_frac: float = 0.8


DEFAULT_THRESHOLDS = QualityThresholds()

# Gopher's stopword gate is defined over WORDS ("must contain at least
# 2 of the following English words…"), so the count is token-based: a
# word matches if, after stripping leading/trailing punctuation, its
# lowercase form is in the list.  (An earlier \b-regex count diverged
# between engines on non-Latin text: Java's \b is Unicode-aware while
# RE2's — DuckDB, Go, Rust regex — is ASCII-only, so 'и' never matched
# in the oracle.  Token arithmetic is identical everywhere.)
_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with",
              "и", "в", "не", "на", "le", "la", "et", "der", "die", "und",
              "el", "los", "que")
_EDGE_PUNCT_RE = r"^[^\p{L}\p{N}]+|[^\p{L}\p{N}]+$"
_BULLET_RE = r"^\s*(?:[-*•‣▪]|\d+[.)])\s"
_WORD_ALPHA_RE = r"[A-Za-zА-Яа-яЀ-ӿÀ-ÿ]"
# Whitespace-free scripts (CJK ideographs + ext A, kana, hangul
# syllables, Thai) as literal BMP ranges — Java regex and RE2 agree on
# literal ranges, so the ratio is replayable in the DuckDB oracle.
_CJK_CLASS = "[㐀-䶿一-鿿぀-ヿ가-힣฀-๿]"
# any Unicode letter — portable (\p{L} means the same in Java and RE2)
_LETTER_RE = r"[\p{L}]"


_WS_RE = r"\s+"
_LINE_RE = r"\n"
_PARA_RE = r"\n\n+"
_SYMBOL_RE = r"[#…]|\.{3}"
_STOPWORD_LIST = ", ".join(sql_string(w) for w in _STOPWORDS)


def _ratio(num: str, den: str) -> str:
    return f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)"


def _dup_2gram_frac(words: str, n_words: str, sep: str = " ") -> str:
    """1 - distinct(2-grams)/total — repeated-phrase signal (over
    whitespace words, or over CJK chars with ``sep=""``).

    Built with zip_with over two shifted slices, NOT an index-lambda
    (`slice(words, i, 2)` inside a per-element lambda re-evaluates the
    whole words expression per gram — O(n²), observed 4× pipeline
    wall-clock)."""
    k = f"greatest({n_words} - 1, 0)"
    gram = "concat(x, y)" if sep == "" else f"concat(x, {sql_string(sep)}, y)"
    grams = (f"zip_with(slice({words}, 1, {k}), slice({words}, 2, {k}), "
             f"(x, y) -> {gram})")
    distinct = f"size(array_distinct({grams}))"
    return f"CASE WHEN {k} > 0 THEN 1.0D - {_ratio(distinct, k)} ELSE 0.0D END"


def _count_frac(arr: str, lam: str, den: str) -> str:
    """Fraction of ``arr`` elements the SQL lambda ``lam`` accepts."""
    return _ratio(f"size(filter({arr}, {lam}))", den)


def _rlike(var: str, pattern: str) -> str:
    return f"{var} -> {var} RLIKE {sql_string(pattern)}"


def _splits(text: str) -> dict[str, str]:
    """The four arrays the metrics read, as SQL over ``text``: words
    (non-empty whitespace tokens), lines, paragraphs and CJK chars."""
    return {
        "words": f"filter(split({text}, {sql_string(_WS_RE)}), "
                 "w -> length(w) > 0)",
        "lines": f"split({text}, {sql_string(_LINE_RE)})",
        "paras": f"split({text}, {sql_string(_PARA_RE)})",
        "cjk_chars": f"regexp_extract_all({text}, {sql_string(_CJK_CLASS)}, 0)",
    }


def quality_columns(
    text: str,
    *,
    words: str | None = None,
    lines: str | None = None,
    paras: str | None = None,
    cjk_chars: str | None = None,
) -> dict[str, str]:
    """Metric name → Spark SQL expression over the SQL expression
    ``text`` (a backquoted column name, say).  Pass pre-materialized
    ``words``/``lines``/``paras``/``cjk_chars`` array columns to pin
    each split to ONE evaluation — the bare form re-derives them
    (:func:`_splits`) inside every metric expression (a dozen
    re-splits of the text per row), which :func:`with_quality`
    avoids."""
    splits = _splits(text)
    words = words or splits["words"]
    lines = lines or splits["lines"]
    paras = paras or splits["paras"]
    cjk_chars = cjk_chars or splits["cjk_chars"]
    n_words, n_cjk = f"size({words})", f"size({cjk_chars})"
    n_words_1 = f"greatest({n_words}, 1)"
    n_lines_1 = f"greatest(size({lines}), 1)"
    n_chars_1 = f"greatest(length({text}), 1)"
    edge = sql_string(_EDGE_PUNCT_RE)
    return {
        "n_chars": f"length({text})",
        "n_words": n_words,
        "mean_word_len": _ratio(
            f"length(regexp_replace({text}, {sql_string(_WS_RE)}, ''))",
            n_words_1),
        "symbol_word_ratio": _ratio(
            f"regexp_count({text}, {sql_string(_SYMBOL_RE)})", n_words_1),
        "bullet_line_frac": _count_frac(
            lines, _rlike("l", _BULLET_RE), n_lines_1),
        "ellipsis_line_frac": _count_frac(
            lines, _rlike("l", r"(?:\.{3}|…)\s*$"), n_lines_1),
        "alpha_word_frac": _count_frac(
            words, _rlike("w", _WORD_ALPHA_RE), n_words_1),
        "stopword_hits": (
            f"size(filter({words}, w -> lower(regexp_replace(w, {edge}, ''))"
            f" IN ({_STOPWORD_LIST})))"),
        "dup_line_frac": "1.0D - " + _ratio(
            f"size(array_distinct({lines}))", n_lines_1),
        # Gopher-style repetition metrics (Rae et al. §A1.1): duplicate
        # paragraph fraction and duplicate word-2-gram fraction
        # (1 - distinct/total; linear-time via array ops)
        "dup_para_frac": "1.0D - " + _ratio(
            f"size(array_distinct({paras}))", f"greatest(size({paras}), 1)"),
        "dup_2gram_frac": _dup_2gram_frac(words, n_words),
        "terminal_punct_line_frac": _count_frac(
            lines, _rlike("l", r'[.!?"]\s*$'), n_lines_1),
        "alpha_char_frac": _ratio(
            f"regexp_count({text}, {sql_string(_WORD_ALPHA_RE)})", n_chars_1),
        # CJK-mode metrics (round 5): char-unit replacements for the
        # whitespace-word metrics on whitespace-free scripts
        "cjk_char_frac": _ratio(n_cjk, n_chars_1),
        "n_units": f"{n_words} + {n_cjk}",
        "dup_cjk_2gram_frac": _dup_2gram_frac(cjk_chars, n_cjk, sep=""),
        "letter_char_frac": _ratio(
            f"regexp_count({text}, {sql_string(_LETTER_RE)})", n_chars_1),
        "has_lorem": f"{text} RLIKE {sql_string('(?i)lorem ipsum')}",
        "has_curly": f"contains({text}, '{{')",
    }


def quality_pass(q: dict[str, str],
                 t: QualityThresholds = DEFAULT_THRESHOLDS) -> str:
    """Gopher-style document keep decision, as a Spark SQL expression
    over the metric expressions ``q`` (metric name → SQL, e.g. the
    materialized metric columns).

    Script-aware (round 5): documents whose CJK-char ratio clears
    ``t.cjk_mode_char_frac`` are judged by char-unit gates instead of
    the whitespace-word gates (which a zh/ja/th document always fails —
    it tokenizes to a handful of huge "words").  Line/paragraph gates
    and the boilerplate flags apply in both modes."""
    L = sql_literal
    q = {m: f"({e})" for m, e in q.items()}

    def between(m: str, lo, hi) -> str:
        return f"({q[m]} >= {L(lo)} AND {q[m]} <= {L(hi)})"

    latin = " AND ".join([
        between("n_words", t.min_words, t.max_words),
        between("mean_word_len", t.min_mean_word_len, t.max_mean_word_len),
        f"{q['symbol_word_ratio']} < {L(t.max_symbol_word_ratio)}",
        f"{q['alpha_word_frac']} > {L(t.min_alpha_word_frac)}",
        f"{q['stopword_hits']} >= {L(t.min_stopword_hits)}",
        f"{q['dup_2gram_frac']} < {L(t.max_dup_2gram_frac)}",
    ])
    cjk = " AND ".join([
        between("n_units", t.min_words, t.max_words),
        f"{q['letter_char_frac']} > {L(t.min_letter_char_frac)}",
        f"{q['dup_cjk_2gram_frac']} < {L(t.max_dup_cjk_2gram_frac)}",
    ])
    both = " AND ".join([
        f"{q['bullet_line_frac']} < {L(t.max_bullet_line_frac)}",
        f"{q['ellipsis_line_frac']} < {L(t.max_ellipsis_line_frac)}",
        f"{q['dup_line_frac']} < {L(t.max_dup_line_frac)}",
        f"{q['dup_para_frac']} < {L(t.max_dup_para_frac)}",
        f"NOT {q['has_lorem']}",
        f"NOT {q['has_curly']}",
    ])
    return (f"(CASE WHEN {q['cjk_char_frac']} >= {L(t.cjk_mode_char_frac)} "
            f"THEN {cjk} ELSE {latin} END) AND {both}")


def c4_line_filter(
    text: Column,
    *,
    min_words_per_line: int = 3,
    require_terminal_punct: bool = True,
) -> Column:
    """C4-style line cleaning (Raffel et al. §2.2) as one native
    expression: keep only lines that (a) have ≥ min_words_per_line
    words, (b) end in terminal punctuation ``.!?"`` (optional), and
    (c) don't mention javascript/cookies/copyright boilerplate; join
    the survivors back with newlines.  A doc-level transform — pair
    with the doc-level ``quality_pass`` gates."""
    def keep(line: Column) -> Column:
        n_words = F.size(
            F.filter(F.split(line, r"\s+"), lambda w: F.length(w) > 0)
        )
        ok = n_words >= min_words_per_line
        if require_terminal_punct:
            ok = ok & line.rlike(r'[.!?"]\s*$')
        return ok & ~F.lower(line).rlike(
            r"javascript|cookies? polic|copyright|all rights reserved"
        )

    return F.array_join(F.filter(F.split(text, r"\n"), keep), "\n")


def with_quality(df: DataFrame, text_col: str = "text",
                 thresholds: QualityThresholds = DEFAULT_THRESHOLDS,
                 prefix: str = "q") -> DataFrame:
    """Staged, one projection per dependency level: words/lines/paras/
    CJK chars are materialized ONCE as tmp columns, the metrics
    reference them instead of each re-splitting the text (same
    re-evaluation trap as langid's argmax), and the pass decision reads
    the metric columns (asserted by the quality_flags oracle)."""
    text = sql_ident(text_col)
    tmp = {k: f"__q_{k}" for k in ("words", "lines", "paras", "cjk_chars")}
    df = with_sql_columns(
        df, {tmp[k]: e for k, e in _splits(text).items()})
    q = quality_columns(text, **tmp)
    df = with_sql_columns(df, {f"{prefix}_{n}": e for n, e in q.items()})
    named = {n: sql_ident(f"{prefix}_{n}") for n in q}
    return with_sql_columns(
        df, {f"{prefix}_pass": quality_pass(named, thresholds)}
    ).drop(*tmp.values())


def dedup_paragraphs_from(paras: Column) -> Column:
    """Keep each paragraph's FIRST occurrence, preserving order, and
    re-join with a blank line — the remedial twin of the Gopher
    dup-paragraph *metric* (drop-or-fix; this is the fix).

    Pass a MATERIALIZED array column: ``paras`` is referenced from
    inside the filter lambda (``array_position`` probes the first
    occurrence), so a derived expression would be re-evaluated per
    element.  The first-occurrence probe is O(n²) in paragraphs per
    document — tens, not thousands — and stays fully native: zero
    shuffles, zero Python, embarrassingly parallel."""
    return F.array_join(
        F.filter(paras, lambda p, i: F.array_position(paras, p) == i + F.lit(1)),
        "\n\n",
    )


def with_dedup_paragraphs(
    df: DataFrame, text_col: str = "text", out_col: str = "text_dedup"
) -> DataFrame:
    """Stage the paragraph split once, then keep-first dedup.  Blank-line
    runs (``\\n{2,}``) are normalized to exactly one blank line in the
    output — same normalization in the DuckDB oracle."""
    return (
        df.withColumn("__paras", F.split(F.col(text_col), r"\n{2,}"))
        .withColumn(out_col, dedup_paragraphs_from(F.col("__paras")))
        .withColumn("n_paras", F.size("__paras"))
        .withColumn(
            "n_dup_paras",
            F.size("__paras") - F.size(F.array_distinct(F.col("__paras"))),
        )
        .drop("__paras")
    )


def with_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    max_words: int = 2000,
) -> DataFrame:
    """The rest of the Gopher repetition battery (Rae et al. §A1.1):
    ``top_{n}gram_char_frac`` for n in ``top_ns`` — the character
    fraction taken by all occurrences of the doc's single most
    frequent word n-gram — and ``dup_{n}gram_char_frac`` for n in
    ``dup_ns`` — the character fraction covered by n-grams occurring
    more than once in the doc (overlapping duplicate windows counted
    once, per the paper).  The per-row columns of
    :func:`quality_columns` already carry the dup-line/para/2-gram
    signals; these are the remaining named metrics a Gopher
    reproduction thresholds.

    Deterministic variant, documented precisely (the paper leaves the
    char accounting unspecified): words are the :func:`ops.dedup.
    split_words` tokens, a gram's char length is the sum of its word
    lengths (whitespace-free), the denominator is the doc's summed
    word lengths, and the most-frequent-gram tie breaks on
    (count desc, gram chars desc) — which pins the OUTPUT completely,
    since the emitted value is count × gram-chars of the selected
    gram — so the result is identical across partitionings and
    engines.

    Scale shape: ZERO Exchange — repetition is a per-document
    property.  Tokenization stays JVM-side (:func:`ops.dedup.
    split_words`, so this operator cannot drift from the other gram
    consumers); the words array crosses Arrow once into a
    ``mapInPandas`` kernel that does per-doc Counter work, O(len) per
    document per n, bounded by ``max_words``.  Implementation history,
    measured at 20k docs / 32 cores: a corpus-wide (id, n, gram-hash)
    shuffle ran 120 docs/s (petabyte-scale Exchange at 10¹² docs — a
    scale-killer); a native sorted-array HOF rewrite ran 530 docs/s
    (zero shuffle, but Catalyst evaluates higher-order-function
    lambdas interpreted, not codegen); this kernel runs ~15,600
    docs/s.  Rounding matches Spark's ``round(double, 9)`` exactly
    (shortest-repr decimal, HALF_UP — the PageRank round-half
    finding), so the SQL oracle stays value-exact.
    """
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from metacrafter_spark.ops.dedup import split_words

    all_ns = sorted(set(top_ns) | set(dup_ns))
    top_set, dup_set = set(top_ns), set(dup_ns)
    metric_cols = ([f"top_{n}gram_char_frac" for n in sorted(top_ns)]
                   + [f"dup_{n}gram_char_frac" for n in sorted(dup_ns)])
    staged = df.withColumn(
        "__words", split_words(F.col(text_col), max_words))
    out_schema = appended_schema(
        df, {c: "double" for c in metric_cols})

    def _q9(x: float) -> float:
        # Spark round(double, 9): shortest-repr decimal, HALF_UP —
        # Decimal(repr(x)) is exactly that (the pagerank round-half
        # finding); Python round() is banker's and would diverge
        return float(Decimal(repr(x)).quantize(
            Decimal("1e-9"), ROUND_HALF_UP))

    def kernel(batches):
        for b in batches:
            cols = {c: [] for c in metric_cols}
            for ws in b["__words"]:
                ws = list(ws) if ws is not None else []
                lens = [len(w) for w in ws]
                total = max(sum(lens), 1)
                for n in all_ns:
                    k = len(ws) - n + 1
                    grams = [tuple(ws[i:i + n]) for i in range(max(k, 0))]
                    cnt = Counter(grams)
                    if n in top_set:
                        best = 0
                        if cnt:
                            mc = max(cnt.values())
                            gc = max(sum(len(w) for w in g)
                                     for g, c in cnt.items() if c == mc)
                            best = mc * gc
                        cols[f"top_{n}gram_char_frac"].append(
                            _q9(best / total))
                    if n in dup_set:
                        cov = bytearray(len(ws))
                        for i, g in enumerate(grams):
                            if cnt[g] >= 2:
                                cov[i:i + n] = b"\x01" * n
                        c = sum(l for l, f in zip(lens, cov) if f)
                        cols[f"dup_{n}gram_char_frac"].append(
                            _q9(c / total))
            o = b.drop(columns=["__words"])
            for name, vals in cols.items():
                o[name] = vals
            yield o

    return staged.mapInPandas(kernel, out_schema)


# Gopher repetition thresholds (Rae et al. 2021, Table A1): a document
# fails if ANY metric exceeds its bound.  Keys must match the columns
# with_repetition_stats emits.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def repetition_pass(
    df: DataFrame,
    thresholds: dict[str, float] = GOPHER_REPETITION_THRESHOLDS,
    out_col: str = "rep_pass",
) -> DataFrame:
    """Attach the Gopher repetition keep decision: TRUE iff no
    repetition metric present in ``df`` EXCEEDS its threshold (Table
    A1 removes a document when a fraction is *greater than* its
    bound, so a document sitting exactly on a bound is kept).
    Metrics listed in ``thresholds`` but absent from ``df`` are
    skipped, so the helper composes with any (top_ns, dup_ns) choice
    passed to :func:`with_repetition_stats`.  Pure Column expression
    — no shuffle beyond what the stats already did."""
    cond = F.lit(True)
    for name, bound in thresholds.items():
        if name in df.columns:
            cond = cond & (F.col(name) <= F.lit(bound))
    return df.withColumn(out_col, cond)
