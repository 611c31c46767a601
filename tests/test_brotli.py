""".br head reads (io/sources.py ``_head_bytes``, pyarrow's bundled
libbrotli) — round trips across all quality levels and payload shapes
(dictionary-transform-heavy English/HTML, incompressible, repetitive,
UTF-8), multi-meta-block sizes, bounded heads, the driver-side .br
scan, and the ValueError contract for truncated or garbage input."""

from __future__ import annotations

import pyarrow as pa
import pytest

from metacrafter_spark.io.sources import _head_bytes


def _bc(level):
    return pa.Codec("brotli", compression_level=level)


def _english(n):
    # Heavy in static-dictionary words so dictionary references and word
    # transforms (ferment, omit, suffix forms) get exercised.
    para = (b"The time of the people is now. This is a very important "
            b"question for the development of the world and the history "
            b"of the American government, which should be able to provide "
            b'information about all different services available to the '
            b'public through the Internet. "Because" there are many other '
            b"things that would have been used, the first section "
            b"describes what the University, The National Association and "
            b"THE INTERNATIONAL community received. ")
    out = bytearray()
    while len(out) < n:
        out += para
    return bytes(out[:n])


def _html(n):
    page = (b'<a href="http://www.example.com/index.html" class="main">'
            b'Example</a><div id="content" style="display:none">Text</div>')
    out = bytearray()
    while len(out) < n:
        out += page
    return bytes(out[:n])


def _semirandom(n, seed=424242):
    x, b = seed, bytearray()
    while len(b) < n:
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        b += (x >> 16).to_bytes(6, "little")
    return bytes(b[:n])


PAYLOADS = {
    "empty": b"",
    "one": b"a",
    "english": _english(50000),
    "html": _html(40000),
    "semirandom": _semirandom(100000),   # uncompressed meta-blocks
    "repetitive": b"abcabcabd" * 20000,  # backward refs + ring reuse
    "allbytes": bytes(range(256)) * 300,
    "utf8": ("Ünïcode tëxt — café déjà vu žluťoučký kůň 中文 " * 800).encode(),
}


def _head(tmp_path, comp: bytes, n: int = 1 << 23) -> bytes:
    p = tmp_path / "data.csv.br"
    p.write_bytes(comp)
    return _head_bytes(str(p), n)


@pytest.mark.parametrize("name", sorted(PAYLOADS))
@pytest.mark.parametrize("level", [1, 2, 5, 9, 11])
def test_roundtrip_vs_libbrotli(tmp_path, name, level):
    """Whole and half heads for every payload shape and quality level."""
    data = PAYLOADS[name]
    comp = _bc(level).compress(data, asbytes=True)
    assert _head(tmp_path, comp) == data
    assert _head(tmp_path, comp, len(data) // 2) == data[: len(data) // 2]


def test_multi_metablock_large_input(tmp_path):
    # > 4 MiB forces several meta-blocks
    big = b"the quick brown fox jumps over the lazy dog. " * 120000
    for level in (1, 9):
        assert _head(tmp_path, _bc(level).compress(big, asbytes=True)) == big


def test_max_out_stops_early_and_is_prefix_exact(tmp_path):
    big = _english(2_000_000)
    comp = _bc(9).compress(big, asbytes=True)
    assert _head(tmp_path, comp, 4096) == big[:4096]


def test_truncation_raises(tmp_path):
    comp = _bc(5).compress(_english(50000), asbytes=True)
    for cut in (1, 3, len(comp) // 2, len(comp) - 1):
        with pytest.raises(ValueError, match="[Tt]runcated"):
            _head(tmp_path, comp[:cut])
    # an empty file is an empty head, as for .gz and .zst
    assert _head(tmp_path, b"") == b""


def test_garbage_raises_not_crashes(tmp_path):
    for junk in (b"xxxx", b"\xff" * 64, _semirandom(512, seed=7)):
        with pytest.raises(ValueError):
            _head(tmp_path, junk)


def test_br_head_read_scan_gate(tmp_path, spark):
    """A .csv.br source sniffs and scans through scan_file's driver-side
    decompression."""
    from metacrafter_spark.io.sources import scan_file

    text = b"id;word\n" + b"\n".join(
        b"%d;%s" % (i, w) for i, w in enumerate(_english(30000).split()))
    p = tmp_path / "docs.csv.br"
    p.write_bytes(_bc(5).compress(text, asbytes=True))
    assert _head_bytes(str(p), 1000) == text[:1000]
    df = scan_file(spark, str(p))
    assert df.columns == ["id", "word"]
    assert df.count() == text.count(b"\n")
