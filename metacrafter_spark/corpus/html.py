"""HTML → text extraction for the web-page input table.

The BASELINE input shape carries ``html:binary`` next to ``text:string``
(the extracted text).  This module is the extraction step itself — a
clean-room, stdlib-only (``html.parser``) extractor run as an
Arrow-batched ``mapInPandas`` kernel, so a corpus that arrives as raw
WARC payloads can be brought to the pipeline's text contract inside
Spark, no external parsing library.

Semantics (the common text-extraction contract):

- ``script`` / ``style`` / ``noscript`` / ``template`` subtrees and
  comments/CDATA are dropped;
- only text inside ``<body>`` is kept (titles/meta live in ``head``);
  documents with no explicit body/head structure keep all text;
- character/entity references decode (``&amp;`` → ``&``), via the
  parser's ``convert_charrefs``;
- ``raw`` mode concatenates text nodes byte-faithfully (whatever
  whitespace the author wrote survives) — this is the mode under the
  byte-identity oracle; ``block`` mode additionally inserts a newline
  at block-element boundaries (p/div/br/li/tr/h1-h6/…) and collapses
  runs of blank lines, the usual shape for crawled pages whose source
  uses markup, not whitespace, for layout.

The per-url byte-identity invariant (north rule) is oracle-checked:
``html_extract_text`` regenerates the synthetic corpus live, extracts
text from the html bytes, and the DuckDB twin hashes the committed
fixture's ``text`` column — the hashes can only match if extraction
reproduces the extracted-text column byte-for-byte.
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from metacrafter_spark.util import (
    appended_schema, sql_ident, with_sql_columns,
)

_DROP = {"script", "style", "noscript", "template"}
_BLOCK = {
    "p", "div", "br", "li", "ul", "ol", "tr", "table", "section",
    "article", "header", "footer", "nav", "aside", "blockquote", "pre",
    "h1", "h2", "h3", "h4", "h5", "h6", "hr", "form", "fieldset",
}


class _TextExtractor(HTMLParser):
    def __init__(self, block: bool):
        super().__init__(convert_charrefs=True)
        self.block = block
        self.parts: list[str] = []
        self.in_body = False
        self.saw_body = False
        self.in_head = False
        self.drop_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag == "head":
            self.in_head = True
        elif tag == "body":
            self.in_body = True
            self.saw_body = True
            self.in_head = False  # malformed pages may never close head
        if tag in _DROP:
            self.drop_depth += 1
        elif self.block and tag in _BLOCK:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag == "head":
            self.in_head = False
        elif tag == "body":
            self.in_body = False
        if tag in _DROP:
            self.drop_depth = max(0, self.drop_depth - 1)
        elif self.block and tag in _BLOCK:
            self.parts.append("\n")

    def handle_startendtag(self, tag, attrs):
        if self.block and tag in _BLOCK:
            self.parts.append("\n")

    def handle_data(self, data):
        if self.drop_depth or self.in_head:
            return
        if self.saw_body and not self.in_body:
            return
        self.parts.append(data)


class _BlockCollector(HTMLParser):
    """Block-level text segmentation for main-content extraction:
    text accumulates per block (boundaries at _BLOCK tags), tracking
    how many of each block's characters sit inside anchors."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []  # (text, anchor_chars)
        self._parts: list[str] = []
        self._anchor_chars = 0
        self._anchor_depth = 0
        self.in_body = False
        self.saw_body = False
        self.in_head = False
        self.drop_depth = 0

    def _flush(self):
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append((text, self._anchor_chars))
        self._parts, self._anchor_chars = [], 0

    def handle_starttag(self, tag, attrs):
        if tag == "head":
            self.in_head = True
        elif tag == "body":
            self.in_body = True
            self.saw_body = True
            self.in_head = False
        if tag in _DROP:
            self.drop_depth += 1
        elif tag == "a":
            self._anchor_depth += 1
        elif tag in _BLOCK:
            self._flush()

    def handle_endtag(self, tag):
        if tag == "head":
            self.in_head = False
        elif tag == "body":
            self.in_body = False
        if tag in _DROP:
            self.drop_depth = max(0, self.drop_depth - 1)
        elif tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        elif tag in _BLOCK:
            self._flush()

    def handle_data(self, data):
        if self.drop_depth or self.in_head:
            return
        if self.saw_body and not self.in_body:
            return
        self._parts.append(data)
        if self._anchor_depth:
            self._anchor_chars += len(data)


def extract_main_text(
    html: bytes | str,
    *,
    min_block_chars: int = 25,
    max_link_density: float = 0.5,
    encoding: str = "utf-8",
) -> str:
    """Main-content extraction (the jusText/trafilatura family,
    deterministic-simple variant): segment at block elements, keep
    blocks that are long enough AND not link-dominated — navigation,
    footers and related-links rails are short and nearly all anchor
    text, article paragraphs are neither.  Whitespace inside a block
    collapses to single spaces; kept blocks join with newlines.

    Pure function of the bytes (no scoring carry-over between blocks),
    so the output is partitioning- and engine-independent."""
    if isinstance(html, (bytes, bytearray, memoryview)):
        raw = bytes(html)
        enc = sniff_charset(raw[:2048]) if encoding == "sniff" \
            else encoding
        html = raw.decode(enc, errors="replace")
        if html.startswith("\ufeff"):
            html = html[1:]
    p = _BlockCollector()
    p.feed(html)
    p.close()
    p._flush()
    kept = []
    for text, anchor_chars in p.blocks:
        if len(text) < min_block_chars:
            continue
        if anchor_chars / max(len(text), 1) > max_link_density:
            continue
        kept.append(text)
    return "\n".join(kept)


def with_main_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    *,
    min_block_chars: int = 25,
    max_link_density: float = 0.5,
    encoding: str = "utf-8",
) -> DataFrame:
    """Attach :func:`extract_main_text` of ``html_col`` — the
    boilerplate-stripped article body.  Same execution shape as
    :func:`with_extracted_text` (Arrow-batched ``mapInPandas``,
    map-side only)."""
    out_schema = appended_schema(df, {out_col: "string"})

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            b = b.copy()
            b[out_col] = [
                None if v is None else extract_main_text(
                    v, min_block_chars=min_block_chars,
                    max_link_density=max_link_density,
                    encoding=encoding)
                for v in b[html_col]
            ]
            yield b

    return df.mapInPandas(kernel, out_schema)


# charset declarations, checked in the document head bytes:
# <meta charset=X>, <meta http-equiv=Content-Type content="...charset=X">
# and the XML declaration — ASCII-compatible patterns, so matching the
# raw bytes before decoding is sound for every charset we accept.
_CHARSET_RES = (
    re.compile(rb'(?i)<meta[^>]+charset\s*=\s*["\x27]?\s*([A-Za-z0-9_\-]+)'),
    re.compile(rb'(?i)<\?xml[^>]+encoding\s*=\s*["\x27]([A-Za-z0-9_\-]+)'),
)


def sniff_charset(head: bytes, default: str = "utf-8") -> str:
    """Charset of an html payload from its declarations (BOM first,
    then meta/xml-decl in the head bytes).  Unknown/absent → default.
    Mirrors what the WARC reader's Content-Type hook does for headers,
    for the in-body declaration case."""
    if head.startswith(b"\xef\xbb\xbf"):
        return "utf-8"
    if head.startswith(b"\xff\xfe") or head.startswith(b"\xfe\xff"):
        return "utf-16"
    for rx in _CHARSET_RES:
        m = rx.search(head)
        if m:
            name = m.group(1).decode("ascii", "replace").lower()
            try:
                codecs.lookup(name)
                return name
            except LookupError:
                continue
    return default


def extract_text(html: bytes | str, *, mode: str = "raw",
                 encoding: str = "utf-8") -> str:
    """One document's html → extracted text (driver-side helper; the
    Spark path is :func:`with_extracted_text`).  ``encoding='sniff'``
    decodes per document from its charset declaration (BOM, meta
    charset, http-equiv, xml decl; utf-8 fallback) — real crawls are
    not uniformly UTF-8."""
    if mode not in ("raw", "block"):
        raise ValueError(f"mode must be 'raw' or 'block', got {mode!r}")
    if isinstance(html, (bytes, bytearray, memoryview)):
        raw = bytes(html)
        enc = sniff_charset(raw[:2048]) if encoding == "sniff" \
            else encoding
        html = raw.decode(enc, errors="replace")
        if html.startswith("\ufeff"):
            html = html[1:]
    p = _TextExtractor(block=(mode == "block"))
    p.feed(html)
    p.close()
    out = "".join(p.parts)
    if mode == "block":
        lines = [ln.strip() for ln in out.split("\n")]
        out = "\n".join(ln for ln in lines if ln)
    return out


def with_extracted_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text_extracted",
    *,
    mode: str = "raw",
    encoding: str = "utf-8",
) -> DataFrame:
    """Attach the extracted text of ``html_col`` (binary or string).

    Arrow-batched ``mapInPandas`` — the parser is pure stdlib Python,
    but it runs per batch on executors with zero driver involvement and
    the html column never shuffles (map-side only).
    ``encoding='sniff'`` decodes each document by its own charset
    declaration (:func:`sniff_charset`)."""
    if mode not in ("raw", "block"):
        raise ValueError(f"mode must be 'raw' or 'block', got {mode!r}")
    out_schema = appended_schema(df, {out_col: "string"})

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            b = b.copy()
            b[out_col] = [
                None if v is None else extract_text(v, mode=mode,
                                                    encoding=encoding)
                for v in b[html_col]
            ]
            yield b

    return df.mapInPandas(kernel, out_schema)


# anchor with inner text: same href value class, plus the immediate
# text node up to the next tag (nested markup inside <a> stops the
# capture — documented; aggregated anchor text tolerates partial text)
_HREF_TEXT_RE = (r'(?i)<a\s[^>]*href\s*=\s*["\x27]?([^"\x27\s>]+)'
                 r'[^>]*>([^<]*)')


def with_anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    out_col: str = "anchors",
    *,
    encoding: str = "utf-8",
    dot_depth: int = 4,
    canonical: bool = True,
) -> DataFrame:
    """Attach ``array<struct<link, text>>``: every anchor's resolved
    target plus its (trimmed) immediate text node.  Aggregated anchor
    text is a classic target-page relevance/quality signal (what the
    web calls a page outweighs what the page calls itself) — group the
    exploded pairs by ``link`` downstream.

    Same execution shape as :func:`with_outlinks`: two
    ``regexp_extract_all`` over the decoded markup (groups 1 and 2 of
    one pattern), zipped, resolved, https-filtered — map-side native
    Columns only, RE2-replayable."""
    from pyspark.sql import functions as F

    from metacrafter_spark.ops.urls import canonicalize_url_sql, resolve_url

    src = F.col(html_col)
    field = dict(zip(df.schema.fieldNames(), df.schema.fields))[html_col]
    if field.dataType.simpleString() == "binary":
        src = F.decode(src, encoding)
    hrefs = F.regexp_extract_all(src, F.lit(_HREF_TEXT_RE), 1)
    texts = F.regexp_extract_all(src, F.lit(_HREF_TEXT_RE), 2)
    pairs = F.zip_with(
        hrefs, texts,
        lambda h, t: F.struct(
            resolve_url(F.col(url_col), h, dot_depth=dot_depth)
            .alias("link"),
            F.trim(t).alias("text")))
    out = df.withColumn(
        out_col,
        F.filter(pairs, lambda p: p["link"].rlike(r"(?i)^https?://")))
    if not canonical:
        return out
    # canonicalizing keeps an http(s) scheme, so it commutes with the filter
    return with_sql_columns(out, {out_col: (
        f"transform({sql_ident(out_col)}, __p -> named_struct('link', "
        f"{canonicalize_url_sql('__p.link')}, 'text', __p.text))")})


# page metadata: <title>, <meta name=description>, OpenGraph
# properties — the standard corpus-curation columns (titles feed
# quality/dedup signals, og:type distinguishes articles from products/
# videos).  Same RE2-replayable both-attribute-order shapes as the
# robots-meta patterns below.
_TITLE_RE = r"(?is)<title[^>]*>\s*(.*?)\s*</title\s*>"


def _meta_value_res(attr: str, key: str) -> tuple[str, ...]:
    """The four regexes (quoted/bare value × attribute order) for
    ``<meta {attr}={key} content=...>``."""
    return (
        rf'(?is)<meta[^>]*{attr}\s*=\s*["\x27]?{key}["\x27]?[^>]*'
        r'content\s*=\s*["\x27]([^"\x27>]*)',
        rf'(?is)<meta[^>]*{attr}\s*=\s*["\x27]?{key}["\x27]?[^>]*'
        r'content\s*=\s*([^"\x27\s>]+)',
        rf'(?is)<meta[^>]*content\s*=\s*["\x27]([^"\x27>]*)'
        rf'["\x27]?[^>]*{attr}\s*=\s*["\x27]?{key}["\x27]?',
        rf'(?is)<meta[^>]*content\s*=\s*([^"\x27\s>]+)'
        rf'[^>]*{attr}\s*=\s*["\x27]?{key}["\x27]?',
    )


def with_page_metadata(
    df: DataFrame,
    html_col: str = "html",
    *,
    encoding: str = "utf-8",
    og_props: tuple[str, ...] = ("og:title", "og:type", "og:locale"),
) -> DataFrame:
    """Attach curation metadata columns: ``page_title`` (first
    ``<title>``), ``meta_description`` and one ``og_*`` column per
    requested OpenGraph property (``og:title`` → ``og_title``).  NULL
    when absent.  Pure native decode + regexp Columns, map-side,
    RE2-replayable."""
    from pyspark.sql import functions as F

    src = F.col(html_col)
    field = dict(zip(df.schema.fieldNames(), df.schema.fields))[html_col]
    if field.dataType.simpleString() == "binary":
        src = F.decode(src, encoding)

    def first_meta(attr: str, key: str) -> F.Column:
        parts = [
            F.nullif(F.regexp_extract(src, rx, 1), F.lit(""))
            for rx in _meta_value_res(attr, key)
        ]
        return F.coalesce(*parts, F.lit(None).cast("string"))

    out = df.withColumn(
        "page_title",
        F.nullif(F.regexp_extract(src, _TITLE_RE, 1), F.lit("")))
    out = out.withColumn("meta_description",
                         first_meta("name", "description"))
    for prop in og_props:
        col = "og_" + prop.split(":", 1)[1].replace(":", "_")
        out = out.withColumn(col, first_meta("property", prop))
    return out


# robots meta: name/content in either attribute order; quoted values
# may contain spaces/commas, bare values stop at whitespace.  Four
# RE2-compatible patterns (no backrefs) so the oracle replays verbatim.
_ROBOTS_NC = (r'(?i)<meta[^>]*name\s*=\s*["\x27]?robots["\x27]?[^>]*'
              r'content\s*=\s*["\x27]([^"\x27>]*)')
_ROBOTS_NC_BARE = (r'(?i)<meta[^>]*name\s*=\s*["\x27]?robots["\x27]?[^>]*'
                   r'content\s*=\s*([^"\x27\s>]+)')
_ROBOTS_CN = (r'(?i)<meta[^>]*content\s*=\s*["\x27]([^"\x27>]*)'
              r'["\x27]?[^>]*name\s*=\s*["\x27]?robots["\x27]?')
_ROBOTS_CN_BARE = (r'(?i)<meta[^>]*content\s*=\s*([^"\x27\s>]+)'
                   r'[^>]*name\s*=\s*["\x27]?robots["\x27]?')


# anchor hrefs: <a ... href= then an optionally-quoted value.  The
# value class excludes quotes/whitespace/'>' — hrefs containing literal
# whitespace are malformed-rare and skipped by design.  RE2-compatible.
_HREF_RE = r'(?i)<a\s[^>]*href\s*=\s*["\x27]?([^"\x27\s>]+)'


def with_outlinks(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    out_col: str = "outlinks",
    *,
    encoding: str = "utf-8",
    dot_depth: int = 4,
    canonical: bool = True,
) -> DataFrame:
    """Attach the page's outgoing links: every ``<a href>`` target,
    resolved against the page URL (RFC 3986 — relative, root-relative,
    scheme-relative and absolute forms all land on absolute URLs),
    restricted to http/https, optionally canonicalized
    (:func:`~metacrafter_spark.ops.urls.canonicalize_url`) and deduped
    per page.  This is the web-graph construction step — the resolved
    links are joinable node ids for link-based quality signals
    (PageRank/harmonic ranks à la Common Crawl's domain ranks).

    Pure native Column expressions (``regexp_extract_all`` + one
    ``transform`` over the array), map-side only, zero Python, zero
    shuffle; the html column never leaves the scan stage."""
    from pyspark.sql import functions as F

    from metacrafter_spark.ops.urls import canonicalize_url_sql, resolve_url

    src = F.col(html_col)
    field = dict(zip(df.schema.fieldNames(), df.schema.fields))[html_col]
    if field.dataType.simpleString() == "binary":
        src = F.decode(src, encoding)
    hrefs = F.regexp_extract_all(src, F.lit(_HREF_RE), 1)
    resolved = F.transform(
        hrefs, lambda h: resolve_url(F.col(url_col), h,
                                     dot_depth=dot_depth))
    out = df.withColumn(
        out_col, F.filter(resolved, lambda u: u.rlike(r"(?i)^https?://")))
    links = sql_ident(out_col)
    if canonical:
        links = f"transform({links}, __u -> {canonicalize_url_sql('__u')})"
    return with_sql_columns(out, {out_col: f"array_distinct({links})"})


def with_robots_meta(
    df: DataFrame,
    html_col: str = "html",
    *,
    content_col: str = "robots_content",
    noindex_col: str = "noindex",
    nofollow_col: str = "nofollow",
    encoding: str = "utf-8",
    header_col: str | None = None,
) -> DataFrame:
    """Attach the page's robots meta directives: the raw ``content``
    value of ``<meta name="robots" …>`` (either attribute order) plus
    ``noindex`` / ``nofollow`` booleans (``none`` implies both, per the
    robots meta convention).  Production corpus pipelines drop noindex
    pages — the page owner asked not to be indexed.

    ``header_col`` (optional) names an ``X-Robots-Tag`` HTTP-header
    column (:data:`io.warc.SCAN_SCHEMA` exposes it as ``x_robots``) —
    the header sibling of the meta tag; its directives OR into the
    booleans.  Header grammar per the de-facto (Google) spec:
    comma-separated directives, each optionally agent-scoped
    (``googlebot: noindex``) — an agent-scoped directive counts for
    ANY agent here (conservative for corpus curation); valued
    directives (``unavailable_after: <date>``) never collide with the
    boolean tokens.

    Pure native Column expressions (decode + two regexp_extract over
    the raw markup — no parser needed for one well-known tag), map-side
    only, RE2-replayable."""
    from pyspark.sql import functions as F

    src = F.col(html_col)
    field = dict(zip(df.schema.fieldNames(), df.schema.fields))[html_col]
    if field.dataType.simpleString() == "binary":
        src = F.decode(src, encoding)
    content = F.lower(F.trim(F.coalesce(
        F.nullif(F.regexp_extract(src, _ROBOTS_NC, 1), F.lit("")),
        F.nullif(F.regexp_extract(src, _ROBOTS_NC_BARE, 1), F.lit("")),
        F.nullif(F.regexp_extract(src, _ROBOTS_CN, 1), F.lit("")),
        F.nullif(F.regexp_extract(src, _ROBOTS_CN_BARE, 1), F.lit("")),
        F.lit(""))))
    out = df.withColumn(content_col, content)
    c = F.col(content_col)
    tokens = F.transform(F.split(c, ","), lambda t: F.trim(t))
    if header_col is not None:
        # "agent: directive" keeps the part after the LAST colon, so
        # "unavailable_after: 25 jun 2010" yields a date fragment that
        # matches no boolean token
        htokens = F.transform(
            F.split(F.lower(F.coalesce(F.col(header_col), F.lit(""))),
                    ","),
            lambda t: F.trim(F.element_at(F.split(t, ":"), -1)))
        tokens = F.concat(tokens, htokens)
    has = (lambda word: F.arrays_overlap(
        tokens, F.array(F.lit(word), F.lit("none"))))
    return (out
            .withColumn(noindex_col, has("noindex"))
            .withColumn(nofollow_col, has("nofollow")))
