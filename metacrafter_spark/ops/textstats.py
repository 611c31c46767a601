"""Text-analysis operators: token counting, quality scoring, document
fingerprinting — all native Column expressions (no Python).

- whitespace tokens and a BPE-ish subword proxy (regex word pieces +
  punctuation singles — the standard ~token estimate);
- quality score: a 0-1 blend of length/punctuation/stopword ratios;
- fingerprint: winnowing-style — min-hash of word 4-gram window minima,
  robust to small edits (Schleimer et al., MOSS).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from metacrafter_spark.ops.dedup import WORD_SPLIT
from pyspark.sql.functions import pandas_udf

from metacrafter_spark.corpus.quality import _EDGE_PUNCT_RE, _STOPWORDS

# word pieces: runs of letters (≤4 chars each ≈ BPE granularity), digits,
# or single punctuation marks
_PIECE_RE = r"[A-Za-zÀ-ÿА-яЀ-ӿ]{1,4}|\d{1,3}|[^\sA-Za-zÀ-ÿА-яЀ-ӿ\d]"


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0))


def subword_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_PIECE_RE))


def quality_score(text: Column) -> Column:
    """0–1 heuristic quality blend (higher = cleaner prose)."""
    n_chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    n_words = whitespace_token_count(text)
    n_words_f = F.greatest(n_words, F.lit(1)).cast("double")
    alpha_frac = F.regexp_count(text, F.lit(r"[A-Za-zА-яЀ-ӿÀ-ÿ]")).cast("double") / n_chars
    # token-set stopword count (same portability rationale as
    # corpus.quality: RE2's \b is ASCII-only, Java's is Unicode-aware)
    stop_hits = F.size(F.filter(
        F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0),
        lambda w: F.lower(F.regexp_replace(w, _EDGE_PUNCT_RE, ""))
        .isin(*_STOPWORDS),
    ))
    stop_frac = F.least(
        stop_hits.cast("double") / n_words_f * 5.0,
        F.lit(1.0),
    )
    len_score = F.least(n_words_f / 50.0, F.lit(1.0))
    punct_frac = F.regexp_count(text, F.lit(r"[.!?]")).cast("double") / n_words_f
    punct_score = F.lit(1.0) - F.least(F.abs(punct_frac - 0.08) * 5.0, F.lit(1.0))
    return F.round(
        alpha_frac * 0.35 + stop_frac * 0.25 + len_score * 0.25 + punct_score * 0.15, 6
    )


def _fp_words(text: Column, max_words: int = 2000) -> Column:
    return F.slice(
        F.filter(F.split(F.lower(text), WORD_SPLIT), lambda w: F.length(w) > 0),
        1, max_words,
    )


def _fp_gram_hashes(words: Column, gram: int = 4) -> Column:
    """n-gram hashes via iterated zip_with over ``gram`` shifted slices —
    LINEAR, unlike ``slice(words, i, gram)`` inside an index lambda,
    which re-evaluates the whole ``words`` expression per gram (the
    round-2 O(n²) HOF trap; pass a MATERIALIZED column here anyway so
    the slices themselves are cheap array refs).  Hash input is the
    space-joined gram, identical bytes to the old
    ``concat_ws(" ", slice(...))`` form — fingerprints are unchanged."""
    k = F.greatest(F.size(words) - (gram - 1), F.lit(0))
    g = F.slice(words, 1, k)
    for i in range(1, gram):
        g = F.zip_with(g, F.slice(words, i + 1, k),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    return F.transform(g, lambda s: F.xxhash64(s))


def _fp_from(words: Column, gram_hashes: Column, window: int = 8) -> Column:
    """Fingerprint from MATERIALIZED words/gram-hash columns: per-window
    minima over an attribute ref are O(window) slices, not re-evals."""
    nwin = F.greatest(F.size(gram_hashes) - (window - 1), F.lit(1))
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.array_min(F.slice(gram_hashes, i, window)),
        )
    )
    return F.when(
        F.size(gram_hashes) > 0,
        F.xxhash64(F.concat_ws(",", F.transform(F.array_sort(mins),
                                                lambda x: x.cast("string")))),
    ).otherwise(F.xxhash64(F.concat_ws(" ", words)))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    w_c, gh_c = "__ts_words", "__ts_grams"
    return (
        df.withColumn(w_c, _fp_words(t))
        .withColumn(gh_c, _fp_gram_hashes(F.col(w_c)))
        .withColumn("n_tokens_ws", whitespace_token_count(t))
        .withColumn("n_tokens_subword", subword_token_count(t))
        .withColumn("quality_score", quality_score(t))
        .withColumn("fingerprint", _fp_from(F.col(w_c), F.col(gh_c)))
        .drop(w_c, gh_c)
    )


# ---------------------------------------------------------------- normalize

import re as _re

_NORM_WS = _re.compile(r"[ \t\n\r\f\v]+")
_NORM_CTRL = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "text_norm") -> DataFrame:
    """Canonical text normalization for corpus preprocessing: Unicode
    NFC composition (so ``e`` + U+0301 and ``é`` dedup/fingerprint/
    shingle identically), control-character strip, and horizontal/
    vertical-whitespace collapse to single spaces with edge trim.

    Order is NFC → control strip → whitespace collapse → trim, and the
    whitespace class is the explicit ASCII ``[ \\t\\n\\r\\f\\v]`` (NOT
    regex ``\\s``, which is Unicode-aware in Python but ASCII in RE2) —
    both choices exist so the op replays byte-identically in DuckDB
    (``nfc_normalize`` + RE2 ``regexp_replace``), which the oracle
    exercises end-to-end.

    NFC needs Python's unicodedata, so this is the Arrow-batched slow
    path — batch-independent (pure per-string function), hence
    embarrassingly parallel and partitioning-invariant.
    """
    import unicodedata

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            x = unicodedata.normalize("NFC", x)
            x = _NORM_CTRL.sub("", x)
            return _NORM_WS.sub(" ", x).strip(" ")

        return s.map(one)

    return df.withColumn(out_col, _norm(F.col(text_col)))


# ---------------------------------------------------------------- readability

def with_readability(df: DataFrame, text_col: str = "text",
                     prefix: str = "read") -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade as native expressions.

    Heuristic components (standard approximations, replayable in SQL):
    words = lowercase ``WORD_SPLIT`` tokens; sentences = runs of ``.!?``
    (min 1); syllables per word = vowel-group count ``[aeiouy]+``
    (min 1 per word).  Columns: ``{prefix}_words``,
    ``{prefix}_sentences``, ``{prefix}_syllables``, ``{prefix}_ease``,
    ``{prefix}_grade`` (4-decimal doubles; 0.0 ease/grade for empty
    docs).  One narrow Project — zero shuffles, zero Python."""
    from metacrafter_spark.ops.dedup import split_words

    staged = df.withColumn("__rd_words", split_words(F.col(text_col)))
    n_words = F.size(F.col("__rd_words"))
    n_sents = F.greatest(
        F.size(F.split(F.col(text_col), r"[.!?]+")) - 1, F.lit(1)
    )
    syl = F.aggregate(
        F.transform(
            F.col("__rd_words"),
            lambda w: F.greatest(
                F.size(F.split(w, r"[aeiouy]+")) - 1, F.lit(1)
            ),
        ),
        F.lit(0), lambda acc, x: acc + x,
    )
    staged = (
        staged.withColumn(f"{prefix}_words", n_words.cast("long"))
        .withColumn(f"{prefix}_sentences", n_sents.cast("long"))
        .withColumn(f"{prefix}_syllables", syl.cast("long"))
    )
    w = F.col(f"{prefix}_words").cast("double")
    s = F.col(f"{prefix}_sentences").cast("double")
    y = F.col(f"{prefix}_syllables").cast("double")
    ease = 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
    grade = 0.39 * (w / s) + 11.8 * (y / w) - 15.59
    return (
        staged.withColumn(
            f"{prefix}_ease",
            F.when(w > 0, F.round(ease, 4)).otherwise(0.0),
        )
        .withColumn(
            f"{prefix}_grade",
            F.when(w > 0, F.round(grade, 4)).otherwise(0.0),
        )
        .drop("__rd_words")
    )


def with_compression_ratio(df: DataFrame, text_col: str = "text",
                           out_col: str = "compression_ratio") -> DataFrame:
    """zlib compressed-size / raw-size per document (CCNet/RedPajama-v2
    style repetitiveness signal): highly repetitive boilerplate
    compresses far below ~0.4 while natural prose sits ~0.4-0.7.
    Deterministic (zlib level 6 is a pure function of the bytes) so
    partitioning-invariant, but NOT SQL-replayable (no zlib in DuckDB)
    — verified by unit + determinism tests instead of an oracle.
    1.0 for empty docs (nothing to compress)."""
    import zlib

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            b = x.encode("utf-8")
            if not b:
                return 1.0
            return round(len(zlib.compress(b, 6)) / len(b), 6)

        return s.map(one)

    return df.withColumn(out_col, _ratio(F.col(text_col)))
