"""URL / domain curation operators for web-corpus pipelines.

Standard web-corpus hygiene (C4, RefinedWeb, FineWeb all do a variant):
extract the host from each page URL, reduce it to the *registered
domain* (the unit people block/cap on), drop blocklisted domains
(UT1-style lists), and cap per-domain document counts so one site
can't dominate the mix.

Everything here is native Column expressions — regexp_extract +
array ops, zero Python, zero shuffles for the extraction and the
blocklist filter (broadcast anti-join); per-domain caps compose with
``ops.sampling.stratified_quota_sample`` on the domain column.

The registered-domain logic is a public-suffix *heuristic* (last two
labels, or three when the two-label tail is a known ccTLD second level
like ``co.uk``): the full Mozilla public-suffix list is thousands of
entries and changes monthly — load it into ``cc_slds`` at deploy time
if exactness matters; the operator shape is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from metacrafter_spark.util import sql_ident, sql_string

# scheme://[userinfo@]host[:port]/... — host stops at : / ? #
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"

# common ccTLD second-level suffixes (public-suffix-lite)
CC_SLDS = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in", "ac.in",
    "co.za", "org.za", "web.za",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "org.mx", "com.ar", "com.tr", "com.sg", "com.hk",
    "co.kr", "or.kr", "co.nz", "net.nz", "org.nz",
)


def host_of(url: Column) -> Column:
    """Lower-cased host part of a URL ('' when the URL has no
    ``scheme://`` prefix — filter on ``!= ''`` for malformed rows)."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def registered_domain(host: Column) -> Column:
    """Registered domain of a host: last two labels, or last three when
    the two-label tail is a known ccTLD second level (``a.b.co.uk`` →
    ``b.co.uk``); hosts with < 2 labels (``localhost``) and IPv4
    literals (``192.168.0.1`` — label suffixes would be nonsense) pass
    through whole."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, F.greatest(n - 1, F.lit(1)), 2))
    last3 = F.concat_ws(".", F.slice(labels, F.greatest(n - 2, F.lit(1)), 3))
    return (
        F.when(n <= 2, host)
        .when(host.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"), host)
        .when(last2.isin(*CC_SLDS), last3)
        .otherwise(last2)
    )


#: query params that only track, never address content (C4/FineWeb-style
#: URL-dedup hygiene); anchored key= match
_TRACKING_PARAM_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)="


def canonicalize_url_sql(url: str) -> str:
    """RFC-3986-style URL normalization for corpus dedup-by-url, as
    Spark SQL text over ``url`` (a quoted column reference, a lambda
    variable or a field of one): lower-case scheme and host, strip
    default ports (http:80 / https:443), drop the fragment, sort query
    parameters and remove pure tracking params (utm_* / gclid / fbclid
    / …), normalize an empty path to ``/``.  Two spellings of the same
    page canonicalize to one string, so exact URL dedup stops
    double-counting.

    Pure native expressions (regexp + array ops, RE2-compatible
    patterns, binary-collation sort) — zero Python, replayable in SQL,
    map-side only.  Rows without a ``scheme://`` prefix pass through
    unchanged (relative references have no canonical absolute form)."""
    def extract(s: str, rx: str) -> str:
        return f"regexp_extract({s}, {sql_string(rx)}, 1)"

    base = f"regexp_replace({url}, '#.*$', '')"  # fragment off first
    scheme = f"lower({extract(base, r'^([A-Za-z][A-Za-z0-9+.-]*)://')})"
    auth = extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)")
    userinfo = extract(auth, r"^([^@]*@)")
    hostport = f"regexp_replace({auth}, '^[^@]*@', '')"
    host = f"lower({extract(hostport, r'^([^:]*)')})"
    port = extract(hostport, r":(\d+)$")
    keep_port = (f"{port} != '' AND NOT ({scheme} = 'http' AND {port} = '80')"
                 f" AND NOT ({scheme} = 'https' AND {port} = '443')")
    path = extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)")
    query = extract(base, r"\?([^#]*)")
    qstr = (f"concat_ws('&', array_sort(filter(split({query}, '&'), "
            f"__q -> __q != '' AND NOT __q RLIKE "
            f"{sql_string(_TRACKING_PARAM_RE)})))")
    rebuilt = (
        f"concat({scheme}, '://', {userinfo}, {host}, "
        f"CASE WHEN {keep_port} THEN concat(':', {port}) ELSE '' END, "
        f"CASE WHEN {path} = '' THEN '/' ELSE {path} END, "
        f"CASE WHEN {qstr} != '' THEN concat('?', {qstr}) ELSE '' END)")
    return f"CASE WHEN {scheme} = '' THEN {url} ELSE {rebuilt} END"


def canonicalize_url(url_col: str) -> Column:
    """:func:`canonicalize_url_sql` of the column named ``url_col``."""
    return F.expr(canonicalize_url_sql(sql_ident(url_col)))


def remove_dot_segments(path: Column, *, depth: int = 4) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal over an absolute path
    (``/a/./b/../c`` → ``/a/c``), as a fixed-point of regexp rewrites.

    ``depth`` bounds how deeply ``..`` segments may nest (each unroll
    resolves one level of ``x/..`` nesting plus two ``./`` layers);
    web-page hrefs virtually never exceed 2–3.  All patterns are
    RE2-compatible, so the oracle replays them verbatim (DuckDB needs
    the ``'g'`` flag — Spark's regexp_replace is global already)."""
    p = path
    for _ in range(depth):
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, r"/\./", "/")  # '/./././' overlap pass
        p = F.regexp_replace(p, r"/\.$", "/")
        p = F.regexp_replace(p, r"/[^/]+/\.\./", "/")
        p = F.regexp_replace(p, r"/[^/]+/\.\.$", "/")
    # '..' segments that climbed past the root are dropped (§5.2.4's
    # "if the buffer is empty" rule)
    p = F.regexp_replace(p, r"^/(\.\./)+", "/")
    p = F.regexp_replace(p, r"^/\.\.$", "/")
    return p


def resolve_url(base: Column, href: Column, *, dot_depth: int = 4) -> Column:
    """RFC 3986 §5 reference resolution: an ``href`` as written in a
    page (absolute, scheme-relative ``//host/…``, root-relative
    ``/path``, query-only ``?q``, or relative ``../x``) against the
    page's absolute ``base`` URL → the absolute target URL.

    Pure native Column expressions (regexp extracts + concat), map-side
    only, RE2-replayable — the web-graph construction step that turns
    raw anchors into joinable node ids.  Fragments are stripped on both
    sides (a fragment never names a different resource); hrefs carrying
    their own scheme (``mailto:``, ``javascript:``, absolute http) pass
    through — filter by scheme downstream."""
    href = F.regexp_replace(href, r"#.*$", "")
    base_nf = F.regexp_replace(base, r"#.*$", "")
    scheme = F.regexp_extract(base_nf, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(
        base_nf, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    bpath = F.regexp_extract(
        base_nf, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    bpath = F.when(bpath == "", F.lit("/")).otherwise(bpath)
    bdir = F.regexp_replace(bpath, r"/[^/]*$", "/")
    hpath = F.regexp_extract(href, r"^([^?]*)", 1)
    hquery = F.regexp_extract(href, r"(\?.*)$", 1)

    def dot_abs(u: Column) -> Column:
        # §5.2.2: dot segments are removed from a reference's own path
        # too.  Hierarchical (scheme://) URLs decompose, get the path
        # cleaned and rebuild; opaque ones (mailto:) pass through.
        pre = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)",
                               1)
        path = F.regexp_extract(
            u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
        q = F.regexp_extract(u, r"(\?.*)$", 1)
        return F.when(pre == "", u).otherwise(
            F.concat(pre, remove_dot_segments(path, depth=dot_depth), q))

    return (
        F.when(href == "", base_nf)
        .when(href.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), dot_abs(href))
        .when(href.startswith("//"),
              dot_abs(F.concat(scheme, F.lit(":"), href)))
        .when(href.startswith("/"),
              F.concat(origin,
                       remove_dot_segments(hpath, depth=dot_depth),
                       hquery))
        .when(href.startswith("?"), F.concat(origin, bpath, href))
        .otherwise(
            F.concat(origin,
                     remove_dot_segments(F.concat(bdir, hpath),
                                         depth=dot_depth),
                     hquery))
    )


def with_url_parts(
    df: DataFrame, url_col: str = "url",
    host_col: str = "host", domain_col: str = "domain",
) -> DataFrame:
    """Stage host then domain as columns (host is referenced several
    times by the domain expression — materialize it, don't inline)."""
    return (
        df.withColumn(host_col, host_of(F.col(url_col)))
        .withColumn(domain_col, registered_domain(F.col(host_col)))
    )


def dedup_url_revisits(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    *,
    canon_col: str = "url_canonical",
    keep_canon: bool = True,
) -> DataFrame:
    """Keep the newest snapshot per canonical URL — the multi-crawl
    ingestion primitive (Common-Crawl-style corpora revisit the same
    page across monthly crawls; training pipelines keep one, newest
    wins).  Deterministic: ties on the timestamp break on the raw URL
    string (descending), so the survivor is a pure function of the
    data, independent of partitioning.

    One shuffle keyed on the canonical URL (unavoidable — that IS the
    dedup key); rows are never widened, the window computes a single
    row_number.  ``keep_canon`` leaves the canonical form as a column
    (downstream joins want it); drop with ``keep_canon=False``."""
    from pyspark.sql import Window

    out = df.withColumn(canon_col, canonicalize_url(url_col))
    w = (Window.partitionBy(canon_col)
         .orderBy(F.col(ts_col).desc(), F.col(url_col).desc()))
    out = (out.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1).drop("__rn"))
    return out if keep_canon else out.drop(canon_col)


def domain_blocklist_filter(
    df: DataFrame,
    blocklist: "DataFrame | list[str]",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop rows whose registered domain is blocklisted (UT1-style).

    The blocklist (a one-column DataFrame or a plain list) is broadcast
    and anti-joined — the corpus never shuffles; a list of a few
    hundred thousand domains is a few MB, well within broadcast range."""
    if not isinstance(blocklist, DataFrame):
        spark = df.sparkSession
        blocklist = spark.createDataFrame(
            [(d.lower(),) for d in blocklist], f"{domain_col} string"
        )
    else:
        blocklist = blocklist.select(
            F.lower(F.col(blocklist.columns[0])).alias(domain_col)
        )
    return df.join(F.broadcast(blocklist), domain_col, "left_anti")
