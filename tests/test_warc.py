"""WARC reader/writer + Spark scan tests.

Clean-room ISO 28500 + Common-Crawl-layout coverage: record
round-trips, HTTP payload decoding (chunked / gzip / deflate),
member-per-record gzip splitting with CDX offset agreement, the two
distributed scans (whole-file and CDX range-fetch) against the
synthetic web corpus, determinism across partitionings, and the
truncation and brotli-body errors.
"""

import gzip
import os
import zlib
from datetime import datetime

import pytest

from metacrafter_spark.io.warc import (
    build_http_response, build_record, cdx_line, gzip_member,
    iter_gzip_members, iter_warc_file, parse_http_response,
    parse_warc_stream, charset_of, scan_warc, scan_warc_cdx, surt,
    write_warc, write_warc_shards,
)

TS = datetime(2025, 3, 4, 5, 6, 7)


def _mk_response_record(url="https://news.example.org/a/1",
                        body=b"<html><body>hi</body></html>", **kw):
    return build_record("response", build_http_response(body, **kw),
                        url=url, date=TS)


# ---------------------------------------------------------------------------
# record-level round trips
# ---------------------------------------------------------------------------

def test_record_roundtrip_plain():
    rec_bytes = _mk_response_record()
    recs = list(parse_warc_stream(rec_bytes))
    assert len(recs) == 1
    r = recs[0]
    assert r.rtype == "response"
    assert r.target_uri == "https://news.example.org/a/1"
    assert r.date == TS
    status, headers, decoded = parse_http_response(r.payload)
    assert status == 200
    assert decoded == b"<html><body>hi</body></html>"
    assert charset_of(headers) == "utf-8"


def test_record_bytes_deterministic():
    assert _mk_response_record() == _mk_response_record()


def test_http_chunked_and_content_encodings():
    body = b"x" * 5000 + b"<p>end</p>"
    for kw in ({"chunked": True}, {"content_encoding": "gzip"},
               {"content_encoding": "deflate"},
               {"chunked": True, "content_encoding": "gzip"}):
        payload = build_http_response(body, **kw)
        status, headers, decoded = parse_http_response(payload)
        assert status == 200 and decoded == body, kw


def test_http_raw_deflate_server():
    # some servers send raw-deflate despite saying "deflate"
    body = b"raw deflate body"
    head = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n"
            b"Content-Type: text/html\r\n\r\n")
    raw = zlib.compressobj(wbits=-15)
    wire = raw.compress(body) + raw.flush()
    status, _, decoded = parse_http_response(head + wire)
    assert status == 200 and decoded == body


def test_http_brotli_body_decodes():
    # br bodies decode through pyarrow's bundled brotli
    import pyarrow as pa

    body = b"<html><body>brotli-encoded page body</body></html>" * 20
    wire = pa.Codec("brotli", compression_level=5).compress(body, asbytes=True)
    head = b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n" + wire
    status, _, decoded = parse_http_response(head)
    assert status == 200 and decoded == body

    # malformed br payloads still raise ValueError, not a crash
    with pytest.raises(ValueError):
        parse_http_response(b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nxxxx")


def test_http_header_folding_and_dupes():
    payload = (b"HTTP/1.1 301 Moved\r\n"
               b"Location: https://a.example/\r\n"
               b"X-Long: part1\r\n\tpart2\r\n"
               b"Set-Cookie: a=1\r\nSet-Cookie: b=2\r\n"
               b"Content-Length: 0\r\n\r\n")
    status, headers, body = parse_http_response(payload)
    assert status == 301
    assert headers["x-long"] == "part1 part2"
    assert headers["set-cookie"] == "a=1, b=2"
    assert body == b""


def test_warc_header_folding():
    rec = _mk_response_record()
    folded = rec.replace(
        b"WARC-Target-URI: https://news.example.org/a/1",
        b"WARC-Target-URI: https://news.example.org\r\n /a/1", 1)
    r = next(iter(parse_warc_stream(folded)))
    # unfolding joins continuation lines with a single space (spec ABNF)
    assert r.headers["warc-target-uri"] == "https://news.example.org /a/1"


def test_truncation_raises():
    rec = _mk_response_record()
    with pytest.raises(ValueError, match="truncated WARC payload"):
        list(parse_warc_stream(rec[: len(rec) - 40]))
    gz = gzip_member(rec)
    with pytest.raises(ValueError, match="truncated gzip member"):
        list(iter_gzip_members(gz[: len(gz) - 6]))
    chunked = build_http_response(b"abcdef" * 500, chunked=True)
    with pytest.raises(ValueError, match="truncated chunk"):
        parse_http_response(chunked[: len(chunked) - 30])


def test_surt_and_cdx_line():
    assert surt("https://news.example.org/En/A?x=1") == \
        "org,example,news)/en/a?x=1"
    ln = cdx_line("https://news.example.org/a", TS, "f.warc.gz", 123,
                  456, digest="sha1:ABC")
    key, ts14, js = ln.split(" ", 2)
    assert key == "org,example,news)/a" and ts14 == "20250304050607"
    import json
    d = json.loads(js)
    assert d["offset"] == "123" and d["length"] == "456"
    assert d["filename"] == "f.warc.gz"


# ---------------------------------------------------------------------------
# file-level: write_warc → members, offsets, CDX agreement
# ---------------------------------------------------------------------------

def _write_sample_file(tmp_path, n=5):
    recs = [{"url": f"https://blog.example.net/p/{i}", "ts": TS,
             "html": f"<html><body>doc {i}</body></html>".encode()}
            for i in range(n)]
    warc = str(tmp_path / "sample.warc.gz")
    cdx = str(tmp_path / "sample.cdx")
    write_warc(recs, warc, cdx)
    return warc, cdx, recs


def test_write_warc_member_per_record(tmp_path):
    warc, cdx, recs = _write_sample_file(tmp_path)
    data = open(warc, "rb").read()
    members = list(iter_gzip_members(data))
    assert len(members) == len(recs) + 1          # warcinfo head
    first = next(iter(parse_warc_stream(members[0][2])))
    assert first.rtype == "warcinfo"
    # CDX offsets/lengths point exactly at the members
    import json
    lines = open(cdx).read().splitlines()
    assert len(lines) == len(recs)
    for ln in lines:
        d = json.loads(ln.split(" ", 2)[2])
        off, length = int(d["offset"]), int(d["length"])
        raw = gzip.decompress(data[off:off + length])
        r = next(iter(parse_warc_stream(raw)))
        assert r.target_uri == d["url"]
        _, _, body = parse_http_response(r.payload)
        assert body == f"<html><body>doc " \
            f"{d['url'].rsplit('/', 1)[1]}</body></html>".encode()


def test_iter_warc_file_plain_and_gz(tmp_path):
    rec = _mk_response_record()
    plain = rec + _mk_response_record(url="https://x.example/2")
    got = [r.target_uri for _, r in iter_warc_file(plain)]
    assert got == ["https://news.example.org/a/1", "https://x.example/2"]
    gz = gzip_member(rec) + gzip_member(
        _mk_response_record(url="https://x.example/2"))
    offs = [(o, r.target_uri) for o, r in iter_warc_file(gz)]
    assert offs[0][0] == 0 and offs[1][0] == len(gzip_member(rec))


# ---------------------------------------------------------------------------
# Spark scans
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def warc_dir(spark, tmp_path_factory):
    from metacrafter_spark.corpus.webpages import synth_webpages
    out = tmp_path_factory.mktemp("warcshards")
    corpus = synth_webpages(spark, 300, seed=7, partitions=6)
    summary = write_warc_shards(corpus, str(out), 4).collect()
    assert sorted(r["shard"] for r in summary) == [0, 1, 2, 3]
    assert sum(r["n_records"] for r in summary) == 300
    return str(out)


def test_scan_warc_matches_corpus(spark, warc_dir):
    from metacrafter_spark.corpus.webpages import synth_webpages
    scanned = scan_warc(spark, warc_dir + "/*.warc.gz").cache()
    orig = synth_webpages(spark, 300, seed=7, partitions=6)
    assert scanned.count() == 300
    joined = (scanned.alias("s")
              .join(orig.alias("o"), "url", "full_outer")
              .selectExpr("url",
                          "s.html = o.html as html_eq",
                          "s.warc_ts = o.warc_ts as ts_eq",
                          "s.http_status as st", "s.mime as mime"))
    rows = joined.collect()
    assert len(rows) == 300
    assert all(r["html_eq"] and r["ts_eq"] and r["st"] == 200
               and r["mime"] == "text/html" for r in rows)


def test_scan_warc_cdx_equals_whole_file(spark, warc_dir):
    full = scan_warc(spark, warc_dir + "/*.warc.gz")
    via_cdx = scan_warc_cdx(spark, warc_dir + "/*.cdx", warc_dir)
    a = {(r["url"], bytes(r["html"])) for r in full.collect()}
    b = {(r["url"], bytes(r["html"])) for r in via_cdx.collect()}
    assert a == b and len(a) == 300
    # CDX offsets land on real member boundaries
    offs = via_cdx.select("file", "offset").collect()
    by_file = {}
    for r in offs:
        by_file.setdefault(r["file"], set()).add(r["offset"])
    for path, got in by_file.items():
        data = open(path, "rb").read()
        true_offs = {o for o, _, _ in iter_gzip_members(data)}
        assert got <= true_offs and 0 not in got   # 0 is the warcinfo

    # determinism across index split sizes (D): force tiny line splits
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        again = scan_warc_cdx(spark, warc_dir + "/*.cdx", warc_dir)
        assert again.rdd.getNumPartitions() > 4
        assert {(r["url"], bytes(r["html"]))
                for r in again.collect()} == a
    finally:
        if old is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_scan_warc_lax_keeps_bad_rows(spark, tmp_path):
    # a response whose HTTP payload is garbage: strict raises, lax
    # yields the row with null status/html
    bad_http = build_record("response", b"NOT HTTP AT ALL\r\n\r\nbody",
                            url="https://bad.example/x", date=TS)
    good = _mk_response_record()
    p = tmp_path / "mixed.warc.gz"
    p.write_bytes(gzip_member(good) + gzip_member(bad_http))
    with pytest.raises(Exception):
        scan_warc(spark, str(p)).collect()
    rows = scan_warc(spark, str(p), strict=False).collect()
    assert len(rows) == 2
    bad = [r for r in rows if r["url"] == "https://bad.example/x"][0]
    assert bad["http_status"] is None and bad["html"] is None


def test_scan_skips_non_response_records(spark, tmp_path):
    req = build_record(
        "request", b"GET /a HTTP/1.1\r\nHost: x\r\n\r\n",
        url="https://x.example/a", date=TS,
        content_type="application/http; msgtype=request")
    meta = build_record("metadata", b"via: crawler\r\n", date=TS,
                        content_type="application/warc-fields")
    p = tmp_path / "mixed2.warc.gz"
    p.write_bytes(gzip_member(req) + gzip_member(_mk_response_record())
                  + gzip_member(meta))
    rows = scan_warc(spark, str(p)).collect()
    assert len(rows) == 1 and rows[0]["url"].endswith("/a/1")


def test_x_robots_header_scan_and_directives(spark, tmp_path):
    """The scan exposes X-Robots-Tag, and with_robots_meta ORs the
    header directives into the meta-tag booleans (agent-scoped and
    valued directives handled per the de-facto grammar)."""
    from metacrafter_spark.corpus.html import with_robots_meta

    cases = [
        ("https://h/1", ()),                                  # no header
        ("https://h/2", (("X-Robots-Tag", "noindex"),)),
        ("https://h/3", (("X-Robots-Tag", "googlebot: noindex"),)),
        ("https://h/4", (("X-Robots-Tag", "nofollow, noarchive"),)),
        ("https://h/5", (("X-Robots-Tag", "none"),)),
        ("https://h/6", (("X-Robots-Tag",
                          "unavailable_after: 25 Jun 2010 15:00 PST"),)),
        # repeated header -> parse joins with ", "
        ("https://h/7", (("X-Robots-Tag", "noindex"),
                         ("X-Robots-Tag", "nofollow"),)),
    ]
    recs = []
    for url, hdrs in cases:
        recs.append(build_record(
            "response",
            build_http_response(b"<html><body>x</body></html>",
                                extra_headers=hdrs),
            url=url, date=TS))
    p = tmp_path / "xr.warc.gz"
    p.write_bytes(gzip_member(b"".join(recs)))
    scanned = scan_warc(spark, str(p)).cache()
    xr = {r["url"]: r["x_robots"] for r in scanned.collect()}
    assert xr["https://h/1"] == ""
    assert xr["https://h/2"] == "noindex"
    assert xr["https://h/7"] == "noindex, nofollow"
    out = {r["url"]: r for r in with_robots_meta(
        scanned, "html", header_col="x_robots").collect()}
    truth = {
        "https://h/1": (False, False),
        "https://h/2": (True, False),
        "https://h/3": (True, False),   # agent-scoped counts
        "https://h/4": (False, True),
        "https://h/5": (True, True),    # none implies both
        "https://h/6": (False, False),  # valued directive, no collision
        "https://h/7": (True, True),
    }
    for url, (ni, nf) in truth.items():
        assert (out[url]["noindex"], out[url]["nofollow"]) == (ni, nf), url
    # meta tag still works alongside the header column
    meta = spark.createDataFrame(
        [("<html><head><meta name=\"robots\" content=\"noindex\">"
          "</head></html>", "")], "html string, x_robots string")
    r = with_robots_meta(meta, "html", header_col="x_robots").first()
    assert r["noindex"] and not r["nofollow"]


# ------------------------------------------------------------------ WET


def test_write_wet_roundtrip_single_file(tmp_path):
    from metacrafter_spark.io.warc import (
        _conversion_rows, iter_warc_file, write_wet)

    recs = [
        {"url": "https://a.example/x", "ts": datetime(2025, 3, 1, 8, 0, 0),
         "text": "plain ascii text"},
        {"url": "https://b.example/y", "ts": datetime(2025, 3, 2, 9, 30, 5),
         "text": "unicode — café …漢字\n two lines", "lang": "fra"},
    ]
    p = str(tmp_path / "x.warc.wet.gz")
    assert write_wet(recs, p) == 2
    data = open(p, "rb").read()
    rows = _conversion_rows(p, data, strict=True)
    assert [(r[2], r[3], r[4], r[5]) for r in rows] == [
        ("https://a.example/x", datetime(2025, 3, 1, 8, 0, 0), None,
         "plain ascii text"),
        ("https://b.example/y", datetime(2025, 3, 2, 9, 30, 5), "fra",
         "unicode — café …漢字\n two lines"),
    ]
    # warcinfo heads the file; conversion records carry text/plain
    types = [rec.rtype for _, rec in iter_warc_file(data)]
    assert types == ["warcinfo", "conversion", "conversion"]
    # deterministic bytes (same basename — the warcinfo record embeds
    # the filename, so determinism is per-name)
    d2 = tmp_path / "again"
    d2.mkdir()
    p2 = str(d2 / "x.warc.wet.gz")
    write_wet(recs, p2)
    assert open(p2, "rb").read() == data


def test_wet_refers_to_matching_response_record(tmp_path):
    """WARC-Refers-To of a conversion record must equal the record id
    write_warc assigns to the response record of the same (url, ts)."""
    from metacrafter_spark.io.warc import (
        iter_warc_file, write_warc, write_wet)

    url, ts = "https://site.example/p", datetime(2025, 4, 1, 12, 0, 0)
    wp = str(tmp_path / "r.warc.gz")
    write_warc([{"url": url, "ts": ts, "html": b"<html>hi</html>"}], wp)
    resp_id = [rec.headers["warc-record-id"]
               for _, rec in iter_warc_file(open(wp, "rb").read())
               if rec.rtype == "response"][0]
    tp = str(tmp_path / "r.warc.wet.gz")
    write_wet([{"url": url, "ts": ts, "text": "hi"}], tp)
    refers = [rec.headers["warc-refers-to"]
              for _, rec in iter_warc_file(open(tp, "rb").read())
              if rec.rtype == "conversion"][0]
    assert refers == resp_id


def test_wet_strict_contract_on_bad_utf8(tmp_path):
    from metacrafter_spark.io.warc import (
        _conversion_rows, build_record, gzip_member)

    bad = gzip_member(build_record(
        "conversion", b"\xff\xfe broken", url="https://x.example/b",
        date=datetime(2025, 1, 1), content_type="text/plain"))
    with pytest.raises(UnicodeDecodeError):
        _conversion_rows("f", bad, strict=True)
    rows = _conversion_rows("f", bad, strict=False)
    assert len(rows) == 1 and rows[0][5] is None


def test_wet_shards_scan_roundtrip(spark, tmp_path):
    """Distributed WET export + scan: every (url, text, lang) survives,
    shard bytes are independent of input partitioning."""
    from pyspark.sql import functions as F

    from metacrafter_spark.corpus.webpages import synth_webpages
    from metacrafter_spark.io.warc import scan_wet, write_wet_shards

    corpus = synth_webpages(spark, 60, seed=7, partitions=4)
    docs = corpus.select(
        "url", "warc_ts", "text",
        F.lit("eng").alias("lang"))
    out1 = tmp_path / "wet1"
    out2 = tmp_path / "wet2"
    out1.mkdir(), out2.mkdir()
    s1 = write_wet_shards(docs, str(out1), 3, lang_col="lang").collect()
    s2 = write_wet_shards(docs.repartition(11), str(out2), 3,
                          lang_col="lang").collect()
    assert sum(r["n_records"] for r in s1) == 60
    for r in s1:
        name = f"part-{r['shard']:05d}.warc.wet.gz"
        assert (out1 / name).read_bytes() == (out2 / name).read_bytes()

    back = scan_wet(spark, str(out1 / "*.warc.wet.gz"))
    got = {r["url"]: (r["text"], r["lang"]) for r in back.collect()}
    want = {r["url"]: (r["text"], "eng") for r in docs.collect()}
    assert got == want
