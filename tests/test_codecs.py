"""One decode path per compression extension: every CODEC_EXTS member
round-trips through ``_head_bytes``; Spark-written (Hadoop block
layout) .lz4/.snappy text scans through ``scan_file`` with a sniffed
delimiter; layouts ``spark.read`` would read as 0 rows raise; and no
module imports an optional codec wheel."""

from __future__ import annotations

import ast
import bz2
import glob
import gzip
import lzma
import pathlib
import struct
import subprocess
import sys
import zipfile

import pyarrow as pa
import pytest

import metacrafter_spark
from metacrafter_spark.io.sources import CODEC_EXTS, _head_bytes, scan_file

ROWS = "id;email;note\n" + "".join(
    f"{i};user{i}@example.com;{'x' * (i % 50)}\n" for i in range(3000))


def _zip(data: bytes) -> bytes:
    import io

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("rows.csv", data)
    return buf.getvalue()


ENCODERS = {
    "gz": gzip.compress,
    "bz2": bz2.compress,
    "xz": lzma.compress,
    "zip": _zip,
    "zst": lambda d: pa.Codec("zstd").compress(d, asbytes=True),
    "br": lambda d: pa.Codec("brotli").compress(d, asbytes=True),
    "lz4": lambda d: pa.Codec("lz4").compress(d, asbytes=True),   # frame
    "snappy": lambda d: pa.Codec("snappy").compress(d, asbytes=True),  # raw
}


@pytest.mark.parametrize("ext", sorted(CODEC_EXTS))
def test_head_bytes_round_trip(tmp_path, ext):
    data = ROWS.encode()
    p = tmp_path / f"rows.csv.{ext}"
    p.write_bytes(ENCODERS[ext](data))
    assert _head_bytes(str(p), 1 << 20) == data
    assert _head_bytes(str(p), 1000) == data[:1000]
    upper = tmp_path / f"ROWS.CSV.{ext.upper()}"
    p.rename(upper)
    assert _head_bytes(str(upper), 1000) == data[:1000]


def _long_chunk(ext: str) -> bytes:
    """Hadoop block layout whose second chunk claims ~4 GiB."""
    x = b"abc" * 10
    chunk = pa.Codec("lz4_raw" if ext == "lz4" else "snappy").compress(
        x, asbytes=True)
    return (struct.pack(">II", 2 * len(x), len(chunk)) + chunk
            + struct.pack(">I", 0xFFFFFFF0) + b"\0" * 16)


@pytest.mark.parametrize("ext", ["lz4", "snappy"])
def test_head_bytes_malformed_raises_value_error(tmp_path, ext):
    """Truncated or junk LZ4 frames and raw snappy, a Hadoop chunk
    longer than the file, and a length prefix no block of its size can
    decode to all raise ValueError (test_zstd/test_brotli cover
    .zst/.br)."""
    comp = ENCODERS[ext](ROWS.encode())
    for name, bad in (("cut", comp[: len(comp) // 2]),
                      ("junk", b"\xff" * 64),
                      ("long_chunk", _long_chunk(ext)),
                      ("huge_len", b"\xff\xff\xff\xff\x7f\x00")):
        p = tmp_path / f"{name}.csv.{ext}"
        p.write_bytes(bad)
        with pytest.raises(ValueError):
            _head_bytes(str(p), 1 << 20)


HEAD_UNDER_RLIMIT = """
import resource, sys
from metacrafter_spark.io.sources import DRIVER_DECOMPRESS_CAP, _head_bytes
vm = next(int(l.split()[1]) * 1024 for l in open("/proc/self/status")
          if l.startswith("VmSize"))
resource.setrlimit(resource.RLIMIT_AS, (vm + (1 << 30),) * 2)
for path in sys.argv[1:]:
    try:
        print(len(_head_bytes(path, DRIVER_DECOMPRESS_CAP + 1)))
    except ValueError:
        print("ValueError")
"""


def test_head_bytes_reads_a_small_file_under_a_small_address_space(
        tmp_path):
    """scan_file asks zip/xz/br sources for a 2 GiB head, and a corrupt
    length field can claim gigabytes: neither may be allocated up front,
    so read every codec's small file, and the corrupt lengths, with
    1 GiB of address space to spare."""
    paths = []
    for ext in sorted(CODEC_EXTS):
        p = tmp_path / f"rows.csv.{ext}"
        p.write_bytes(ENCODERS[ext](ROWS.encode()))
        paths.append(str(p))
    for ext in ("lz4", "snappy"):
        p = tmp_path / f"long_chunk.csv.{ext}"
        p.write_bytes(_long_chunk(ext))
        paths.append(str(p))
    p = tmp_path / "huge_len.csv.snappy"
    p.write_bytes(b"\xff\xff\xff\xff\x7f\x00")
    paths.append(str(p))
    run = subprocess.run(
        [sys.executable, "-c", HEAD_UNDER_RLIMIT, *paths],
        cwd=pathlib.Path(metacrafter_spark.__file__).parents[1],
        capture_output=True, text=True, timeout=120)
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.split() == (
        [str(len(ROWS))] * len(CODEC_EXTS) + ["ValueError"] * 3)


@pytest.mark.parametrize("codec", ["lz4", "snappy"])
def test_spark_written_hadoop_layout_scans(spark, tmp_path, codec):
    """Spark writes .lz4/.snappy text in Hadoop's block layout; scan_file
    must sniff its ';' delimiter and return every row."""
    src = tmp_path / "rows.csv"
    src.write_text(ROWS)
    out = str(tmp_path / codec)
    (spark.read.option("header", "true").option("sep", ";").csv(str(src))
     .coalesce(1).write.option("compression", codec)
     .option("header", "true").option("sep", ";").csv(out))
    (part,) = glob.glob(f"{out}/part-*.csv.{codec}")
    df = scan_file(spark, part)
    assert df.columns == ["id", "email", "note"]
    assert df.count() == 3000


@pytest.mark.parametrize("codec", ["lz4", "snappy"])
def test_non_hadoop_text_layout_raises(spark, tmp_path, codec):
    """An LZ4 frame or raw snappy text file would read as 0 rows through
    spark.read; scan_file raises and names the layout it needs."""
    p = tmp_path / f"rows.csv.{codec}"
    p.write_bytes(ENCODERS[codec](ROWS.encode()))
    with pytest.raises(ValueError, match="Hadoop's block layout"):
        scan_file(spark, str(p))
    with pytest.raises(ValueError, match="Hadoop's block layout"):
        scan_file(spark, str(p), delimiter=";", encoding="UTF-8")


OPTIONAL_CODEC_WHEELS = {"zstandard", "lz4", "snappy", "brotli", "brotlicffi"}


def test_no_optional_codec_wheel_imports():
    """Each codec has one decode path (pyarrow or the stdlib): no module
    may grow a try-import ladder onto an optional codec wheel again."""
    root = pathlib.Path(metacrafter_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module or ""]
            else:
                continue
            found += [f"{path.relative_to(root)}:{node.lineno} {name}"
                      for name in names
                      if name.split(".")[0] in OPTIONAL_CODEC_WHEELS]
    assert not found, found
