"""Sitemap (sitemaps.org XML) parsing + recrawl selection.

The third leg of crawl metadata next to robots.txt (corpus/robots.py)
and robots-meta (corpus/html.py): sitemaps tell a crawler WHAT a site
wants fetched and WHEN it last changed.  A corpus pipeline uses them
to pick recrawl candidates — pages whose sitemap ``lastmod`` is newer
than the snapshot's ``warc_ts`` are stale.

Everything is native Column expressions: ``<url>`` entry blocks via
one non-greedy ``regexp_extract_all`` (RE2 ``(?is)`` — replayable),
per-entry fields via ``transform``.  Entries keep field alignment
because fields are extracted per block, never zipped across separate
global extracts (a sitemap may omit ``lastmod``/``priority`` per
entry).  Entity decoding covers the five XML built-ins — the ones a
conformant sitemap may contain in a ``<loc>``.

Scale shape: sitemaps are per-host documents (the small side); parsing
is map-side, the corpus join in :func:`stale_urls` broadcasts the
sitemap entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from metacrafter_spark.util import xml_unescape as _xml_unescape

_URL_BLOCK_RE = r"(?is)<url\s*>(.*?)</url\s*>"
_INDEX_LOC_RE = (r"(?is)<sitemap\s*>.*?<loc\s*>\s*(.*?)\s*</loc\s*>"
                 r".*?</sitemap\s*>")


def _field(block: F.Column, tag: str) -> F.Column:
    return _xml_unescape(F.regexp_extract(
        block, rf"(?is)<{tag}\s*>\s*(.*?)\s*</{tag}\s*>", 1))


def parse_sitemap_entries(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    *,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per ``<url>`` entry: ``(loc, lastmod string,
    lastmod_date date, changefreq, priority double)`` plus any
    ``keep_cols`` carried from the input (e.g. the host).  Absent
    optional fields are NULL; ``lastmod_date`` parses the leading
    W3C-datetime date part (both '2025-01-03' and full ISO forms)."""
    blocks = F.explode(
        F.regexp_extract_all(F.col(xml_col), F.lit(_URL_BLOCK_RE), 1)
    ).alias("__block")
    out = df.select(*keep_cols, blocks)
    b = F.col("__block")
    nn = lambda c: F.nullif(c, F.lit(""))
    return out.select(
        *keep_cols,
        nn(_field(b, "loc")).alias("loc"),
        nn(_field(b, "lastmod")).alias("lastmod"),
        # try_to_timestamp / try_cast, not to_date / cast: a malformed
        # <lastmod> or non-numeric <priority> in a real sitemap must
        # yield NULL, not an ANSI runtime error that kills the scan.
        F.try_to_timestamp(
            F.substring(nn(_field(b, "lastmod")), 1, 10),
            F.lit("yyyy-MM-dd")).cast("date")
        .alias("lastmod_date"),
        nn(_field(b, "changefreq")).alias("changefreq"),
        nn(_field(b, "priority")).try_cast("double").alias("priority"),
    ).filter(F.col("loc").isNotNull())


def sitemap_index_locs(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    *,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Child sitemap locations from a ``<sitemapindex>`` document —
    feed them back to the fetcher, then parse the children with
    :func:`parse_sitemap_entries`."""
    locs = F.explode(
        F.regexp_extract_all(F.col(xml_col), F.lit(_INDEX_LOC_RE), 1)
    ).alias("__loc")
    return (df.select(*keep_cols, locs)
            .select(*keep_cols,
                    _xml_unescape(F.col("__loc")).alias("loc"))
            .filter(F.col("loc") != ""))


def stale_urls(
    corpus: DataFrame,
    entries: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    *,
    stale_col: str = "sitemap_stale",
    lastmod_col: str = "sitemap_lastmod",
) -> DataFrame:
    """Attach recrawl signals: the page's sitemap ``lastmod_date`` and
    a ``sitemap_stale`` boolean (lastmod strictly newer than the
    snapshot date).  Pages without a sitemap entry get NULL lastmod
    and stale=false (no evidence of change).  Entries broadcast (one
    row per sitemapped URL — the small side); the corpus never
    shuffles.  Join is on the canonicalized URL on BOTH sides, so
    sitemap/WARC spelling differences don't miss."""
    from metacrafter_spark.ops.urls import canonicalize_url

    small = (entries
             .select(canonicalize_url("loc").alias("__canon"),
                     F.col("lastmod_date").alias(lastmod_col))
             .groupBy("__canon")
             .agg(F.max(lastmod_col).alias(lastmod_col)))
    out = (corpus
           .withColumn("__canon", canonicalize_url(url_col))
           .join(F.broadcast(small), "__canon", "left")
           .drop("__canon"))
    return out.withColumn(
        stale_col,
        F.coalesce(F.col(lastmod_col) > F.to_date(F.col(ts_col)),
                   F.lit(False)))
