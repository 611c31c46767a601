""".zst head reads (io/sources.py ``_head_bytes``, pyarrow's bundled
libzstd) — round trips across compression levels, block boundaries and
frame features, bounded heads, and the ValueError contract for
malformed or truncated input."""

from __future__ import annotations

import struct

import pyarrow as pa
import pytest

from metacrafter_spark.io.sources import _head_bytes


def _zc(level=None):
    return pa.Codec("zstd") if level is None else pa.Codec(
        "zstd", compression_level=level)


def _words(n, seed=12345):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta"]
    out, x = [], seed
    while sum(len(w) + 1 for w in out) < n:
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        out.append(words[x % 8])
    return (" ".join(out)).encode()[:n]


def _semirandom(n, seed=98765):
    x, b = seed, bytearray()
    while len(b) < n:
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        b += (x >> 16).to_bytes(6, "little")
    return bytes(b[:n])


def _html(n):
    page = (b"<html><head><title>Page %d</title></head>"
            b"<body><p>content with variation %d</p></body></html>\n")
    out, i = bytearray(), 0
    while len(out) < n:
        out += page.replace(b"%d", str(i).encode())
        i += 1
    return bytes(out[:n])


PAYLOADS = {
    "empty": b"",
    "one": b"a",
    "rle": b"z" * 10000,
    "words": _words(60000),
    "html": _html(200000),          # > 128 KiB: multiple blocks
    "semirandom": _semirandom(150000),  # raw-ish blocks
    "mixed": _words(50000) + _semirandom(50000) + b"\x00" * 5000,
}


def _head(tmp_path, comp: bytes, n: int = 1 << 20) -> bytes:
    p = tmp_path / "data.csv.zst"
    p.write_bytes(comp)
    return _head_bytes(str(p), n)


@pytest.mark.parametrize("name", sorted(PAYLOADS))
@pytest.mark.parametrize("level", [1, 3, 19])
def test_roundtrip_vs_libzstd(tmp_path, name, level):
    """Whole and half heads for every payload shape and block layout."""
    data = PAYLOADS[name]
    comp = _zc(level).compress(data, asbytes=True)
    assert _head(tmp_path, comp) == data
    assert _head(tmp_path, comp, len(data) // 2) == data[: len(data) // 2]


def test_multi_frame_concatenation(tmp_path):
    a, b = _words(3000), _html(3000)
    comp = _zc().compress(a, asbytes=True) + _zc().compress(b, asbytes=True)
    assert _head(tmp_path, comp) == a + b


def test_skippable_frame_is_skipped(tmp_path):
    a = _words(2000)
    skippable = struct.pack("<II", 0x184D2A50, 7) + b"sevenby"
    assert _head(tmp_path, skippable + _zc().compress(a, asbytes=True)) == a


def test_max_out_stops_early_and_is_prefix_exact(tmp_path):
    data = _html(300000)
    comp = _zc(19).compress(data, asbytes=True)
    assert _head(tmp_path, comp, 10000) == data[:10000]


def test_truncated_prefix_head_read(tmp_path):
    """A head that fits in a truncated file's decodable prefix reads
    exactly; reading past it raises ValueError."""
    data = _html(400000)
    comp = _zc(3).compress(data, asbytes=True)
    assert _head(tmp_path, comp[: len(comp) // 2], 1 << 16) == data[:1 << 16]
    with pytest.raises(ValueError, match="[Tt]runcated"):
        _head(tmp_path, comp[: len(comp) // 2])


def test_bad_magic_raises(tmp_path):
    with pytest.raises(ValueError, match="frame descriptor"):
        _head(tmp_path, b"\x00\x01\x02\x03\x04\x05\x06\x07")


def test_checksummed_frame(tmp_path, spark):
    """A frame with an XXH64 content checksum (zstd-jni from Spark's JVM;
    the zstd CLI writes one by default) decodes, and one whose checksum
    word is corrupted is rejected."""
    data = _words(5000)
    ctx = spark._jvm.com.github.luben.zstd.ZstdCompressCtx()
    try:
        ctx.setChecksum(True)
        comp = bytes(ctx.compress(data))
    finally:
        ctx.close()
    assert comp[4] & 0x04  # Content_Checksum_flag
    assert _head(tmp_path, comp) == data
    bad = comp[:-4] + bytes(b ^ 0xFF for b in comp[-4:])
    with pytest.raises(ValueError, match="checksum"):
        _head(tmp_path, bad)


def test_dictionary_frames_gate(tmp_path):
    """A frame that needs a dictionary raises ValueError, not garbage."""
    data = _words(500)
    comp = bytearray(_zc().compress(data, asbytes=True))
    comp[4] |= 0x01  # 1-byte dictionary ID flag
    # splice a fake 1-byte dict id after the window descriptor
    with pytest.raises(ValueError, match="[Dd]ictionary"):
        _head(tmp_path, bytes(comp[:6]) + b"\x01" + bytes(comp[6:]))


def test_scan_file_zst_head(tmp_path):
    """The default sniff head of a .zst CSV is its plaintext prefix."""
    rows = "id,email\n" + "\n".join(
        f"{i},user{i}@example.com" for i in range(200))
    p = tmp_path / "people.csv.zst"
    p.write_bytes(_zc().compress(rows.encode(), asbytes=True))
    head = _head_bytes(str(p))
    assert head.startswith(b"id,email\n0,user0@example.com")
