# -*- coding: utf-8 -*-
"""Property tests for URL canonicalization: idempotence and
structure preservation over randomized URLs.

The property battery evaluates the same Column expression tree via a
one-row DataFrame per batch (hypothesis drives value generation; Spark
executes the real JVM expressions, not a Python re-implementation)."""
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from metacrafter_spark.ops.urls import canonicalize_url

_scheme = st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"])
_label = st.text(alphabet="abcdefgXYZ09-", min_size=1, max_size=8).filter(
    lambda s: not s.startswith("-") and not s.endswith("-"))
_host = st.lists(_label, min_size=1, max_size=3).map(".".join)
_port = st.sampled_from(["", ":80", ":443", ":8080"])
_path = st.lists(st.text(alphabet="abcABC09._~", min_size=1, max_size=6),
                 min_size=0, max_size=3).map(
    lambda segs: "/" + "/".join(segs) if segs else "")
_param = st.one_of(
    st.tuples(st.text(alphabet="abz09", min_size=1, max_size=5),
              st.text(alphabet="abz09", min_size=0, max_size=5))
    .map(lambda kv: f"{kv[0]}={kv[1]}"),
    st.sampled_from(["utm_source=x", "utm_campaign=yy", "gclid=g1",
                     "fbclid=f2"]))
_query = st.lists(_param, min_size=0, max_size=4).map("&".join)
_frag = st.sampled_from(["", "#x", "#frag/2?y=1"])

_url = st.builds(
    lambda s, h, p, pa, q, f: f"{s}://{h}{p}{pa}"
    + (f"?{q}" if q else "") + f,
    _scheme, _host, _port, _path, _query, _frag)


def _canon(spark, urls: list[str]) -> list[str]:
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i long, url string")
    rows = df.select("i", canonicalize_url("url").alias("c")) \
        .collect()
    return [r["c"] for r in sorted(rows, key=lambda r: r["i"])]


@settings(max_examples=25, deadline=None)
@given(st.lists(_url, min_size=1, max_size=8))
def test_canonicalization_idempotent(spark, urls):
    once = _canon(spark, urls)
    twice = _canon(spark, once)
    assert twice == once


# --- RFC 3986 reference resolution properties -----------------------

_seg = st.sampled_from(["a", "bb", "c9", "x.y", ".", ".."])
_href = st.one_of(
    # relative / root-relative paths with dot segments (≤3 '..' so the
    # default dot_depth=4 unroll is sufficient by contract)
    st.tuples(st.sampled_from(["", "/"]),
              st.lists(_seg, min_size=0, max_size=6).filter(
                  lambda s: s.count("..") <= 3),
              st.sampled_from(["", "?q=1", "?a=1&b=2"]),
              st.sampled_from(["", "#f"]))
    .map(lambda t: t[0] + "/".join(t[1]) + t[2] + t[3]),
    # scheme-relative and absolute
    st.sampled_from(["//other.example/p", "https://abs.example/x?y=1#z",
                     "mailto:a@b.example", "?only=query", "#only-frag",
                     ""]),
)
_base = st.builds(
    lambda h, p: f"https://{h}{p}",
    _host, st.lists(st.text(alphabet="abc09", min_size=1, max_size=4),
                    min_size=0, max_size=3).map(
        lambda segs: "/" + "/".join(segs) if segs else ""))


def _resolve(spark, pairs):
    from metacrafter_spark.ops.urls import resolve_url

    df = spark.createDataFrame(
        [(i, b, h) for i, (b, h) in enumerate(pairs)],
        "i long, base string, href string")
    rows = df.select(
        "i", resolve_url(F.col("base"), F.col("href")).alias("r")) \
        .collect()
    return [r["r"] for r in sorted(rows, key=lambda r: r["i"])]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_base, _href), min_size=1, max_size=8))
def test_resolution_always_absolute_and_dot_free(spark, pairs):
    for (base, href), r in zip(pairs, _resolve(spark, pairs)):
        assert "://" in r or ":" in r.split("/", 1)[0], (base, href, r)
        assert "#" not in r                       # fragments stripped
        if r.startswith("http"):
            path = r.split("://", 1)[1]
            path = "/" + path.split("/", 1)[1] if "/" in path else "/"
            path = path.split("?", 1)[0]
            assert "/./" not in path + "/" and "/../" not in path + "/", \
                (base, href, r)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_base, _href), min_size=1, max_size=8))
def test_resolution_fixed_points(spark, pairs):
    """Resolving an already-absolute result against the same base is a
    no-op (absolute hrefs pass through), and '' resolves to the
    defragmented base."""
    first = _resolve(spark, pairs)
    again = _resolve(spark, [(b, r) for (b, _), r in zip(pairs, first)])
    assert again == first
    empties = _resolve(spark, [(b, "") for b, _ in pairs])
    for (base, _), r in zip(pairs, empties):
        assert r == base.split("#", 1)[0]


@settings(max_examples=25, deadline=None)
@given(st.lists(_url, min_size=1, max_size=8))
def test_canonical_structure(spark, urls):
    for u, c in zip(urls, _canon(spark, urls)):
        assert "#" not in c                      # fragment gone
        assert "utm_" not in c and "gclid" not in c and "fbclid" not in c
        scheme, rest = c.split("://", 1)
        assert scheme == scheme.lower()
        host = rest.split("/", 1)[0].split("@")[-1].split(":")[0]
        assert host == host.lower()
        # default ports for the matching scheme are gone
        if scheme == "http":
            assert not rest.split("/", 1)[0].endswith(":80")
        if scheme == "https":
            assert not rest.split("/", 1)[0].endswith(":443")
        # every surviving query param existed in the input
        if "?" in c:
            got = c.split("?", 1)[1].split("&")
            src = u.split("#", 1)[0]
            src_params = src.split("?", 1)[1].split("&") if "?" in src \
                else []
            assert all(p in src_params for p in got)
            assert got == sorted(got)
