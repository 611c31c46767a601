"""RSS 2.0 / Atom feed parsing + crawl-frontier selection.

The fourth leg of crawl metadata next to robots.txt
(corpus/robots.py), robots-meta (corpus/html.py) and sitemaps
(corpus/sitemaps.py): feeds tell a crawler what a site PUBLISHED and
when.  A corpus pipeline uses them to find frontier candidates —
entries whose link is not yet in the corpus are new pages to fetch.

Everything is native Column expressions, the sitemap architecture:
``<item>``/``<entry>`` blocks via one non-greedy
``regexp_extract_all`` (RE2 ``(?is)`` — replayable in the DuckDB
oracle), per-block fields with alignment preserved (a feed may omit
any field per entry), the five XML built-in entities decoded.  RSS
``pubDate`` (RFC 822: ``Tue, 07 Jan 2025 08:30:00 GMT``) and Atom
``updated``/``published`` (RFC 3339) both reduce to a ``published_date``
via engine-portable regex + month-name mapping — no locale-dependent
timestamp parser on either side.

Scale shape: feed documents are per-site (the small side); parsing is
map-side.  :func:`new_feed_urls` finds unseen entries with two
broadcast joins — the corpus is probed map-side for seen canonical
URLs (bounded output: one row per distinct seen URL) and never
shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from metacrafter_spark.util import xml_unescape as _xml_unescape

_RSS_ITEM_RE = r"(?is)<item(?:\s[^>]*)?>(.*?)</item\s*>"
_ATOM_ENTRY_RE = r"(?is)<entry(?:\s[^>]*)?>(.*?)</entry\s*>"
# link TAGS (attrs included) — rel-filtering happens as an array
# filter, NOT a regex lookahead (RE2 has none; the oracle must replay)
_ATOM_LINK_TAG_RE = r"(?is)<link(?:\s[^>]*)?>"
_ATOM_LINK_REL_RE = (r"(?is)[\s\"']rel\s*=\s*['\"]"
                     r"(?:self|hub|replies|enclosure)['\"]")
_HREF_RE = r"(?is)href\s*=\s*['\"]([^'\"]+)['\"]"
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_RFC822_DATE_RE = r"(\d{1,2})\s+(" + "|".join(_MONTHS) + r")\s+(\d{4})"


def _field(block: F.Column, tag: str) -> F.Column:
    return F.nullif(_xml_unescape(F.regexp_extract(
        block, rf"(?is)<{tag}(?:\s[^>]*)?>\s*(.*?)\s*</{tag}\s*>", 1)),
        F.lit(""))


def _rfc822_date(c: F.Column) -> F.Column:
    """RFC 822 '07 Jan 2025' → date, via regex + month-name CASE (the
    engine-portable subset — no locale-sensitive parser).  Reduced
    through ``try_to_timestamp`` so a calendar-invalid date a real
    feed may carry ('31 Feb 2025') yields NULL instead of an ANSI
    runtime error killing the job (DuckDB's try_cast agrees)."""
    day = F.regexp_extract(c, _RFC822_DATE_RE, 1)
    mon = F.regexp_extract(c, _RFC822_DATE_RE, 2)
    year = F.regexp_extract(c, _RFC822_DATE_RE, 3)
    mnum = F.lit(None).cast("int")
    for i, m in enumerate(_MONTHS, 1):
        mnum = F.when(mon == m, F.lit(i)).otherwise(mnum)
    return F.when(
        day != "",
        F.try_to_timestamp(
            F.concat_ws("-", year, mnum.cast("string"), day),
            F.lit("yyyy-M-d")).cast("date"))


def parse_feed_entries(
    df: DataFrame,
    xml_col: str = "feed_xml",
    *,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per feed entry, RSS ``<item>`` and Atom ``<entry>``
    unified: ``(feed_type, title, link, entry_id, published,
    published_date)`` plus ``keep_cols``.  Absent fields are NULL;
    rows without a link are dropped (nothing to fetch).  ``published``
    is the raw date string (RSS pubDate, Atom updated else published);
    ``published_date`` is its engine-portable date reduction."""
    out = []
    for ftype, block_re in (("rss", _RSS_ITEM_RE),
                            ("atom", _ATOM_ENTRY_RE)):
        blocks = F.explode(
            F.regexp_extract_all(F.col(xml_col), F.lit(block_re), 1)
        ).alias("__block")
        b = F.col("__block")
        if ftype == "rss":
            link = _field(b, "link")
            pub = _field(b, "pubDate")
            pub_date = _rfc822_date(pub)
            eid = _field(b, "guid")
        else:
            tags = F.filter(
                F.regexp_extract_all(b, F.lit(_ATOM_LINK_TAG_RE), 0),
                lambda t: ~t.rlike(_ATOM_LINK_REL_RE))
            # try_element_at, not element_at: an entry whose only
            # <link> is rel="self" (or none at all) leaves the array
            # empty, and plain element_at raises under ANSI mode
            # instead of yielding NULL
            first = F.try_element_at(tags, F.lit(1))
            link = F.nullif(_xml_unescape(F.regexp_extract(
                F.coalesce(first, F.lit("")), _HREF_RE, 1)), F.lit(""))
            pub = F.coalesce(_field(b, "updated"),
                             _field(b, "published"))
            # try_to_timestamp, not to_date: a malformed RFC 3339
            # value in a real feed must yield NULL, not an ANSI
            # runtime error that kills the whole scan.
            pub_date = F.try_to_timestamp(
                F.substring(pub, 1, 10),
                F.lit("yyyy-MM-dd")).cast("date")
            eid = _field(b, "id")
        out.append(
            df.select(*keep_cols, blocks).select(
                *keep_cols,
                F.lit(ftype).alias("feed_type"),
                _field(b, "title").alias("title"),
                link.alias("link"),
                eid.alias("entry_id"),
                pub.alias("published"),
                pub_date.alias("published_date"),
            ).filter(F.col("link").isNotNull()))
    return out[0].unionByName(out[1])


def new_feed_urls(
    corpus: DataFrame,
    entries: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Feed entries whose canonical link is NOT in the corpus — the
    crawl-frontier candidates.  Two broadcast joins, corpus never
    shuffles: (1) the corpus is probed map-side against the broadcast
    entry-URL set (left-semi) and reduced to the distinct SEEN
    canonical URLs (bounded by the entry count), (2) entries
    broadcast-anti-join that seen set."""
    from metacrafter_spark.ops.urls import canonicalize_url

    canon = canonicalize_url("link").alias("__canon")
    keyed = entries.select("*", canon)
    urls = keyed.select("__canon").distinct()
    seen = (corpus
            .select(canonicalize_url(url_col).alias("__canon"))
            .join(F.broadcast(urls), "__canon", "left_semi")
            .distinct())
    return (keyed.join(F.broadcast(seen), "__canon", "left_anti")
            .drop("__canon"))
