"""File/DB sources — Spark-first re-expression of the reference's scans.

Reference surface (metacrafter/core.py:1363-1565 scan_file, :1568-1641
scan_bulk, :1824-2175 scan_db): 14 file formats + 8 codecs, encoding/
delimiter sniffing, bulk directory walks, SQL via SQLAlchemy.  Spark
equivalents:

- csv/tsv/json/jsonl/ndjson/parquet/orc: native ``spark.read`` (codecs
  gz/bz2/lz4/zstd/snappy handled by Hadoop transparently).  Hadoop reads
  .lz4/.snappy only in its block layout — the one Spark writes — and
  reads an LZ4 frame or raw snappy as 0 rows, so ``scan_file`` raises
  ValueError on those instead;
- zip/xz/br text: decompressed on the driver (not Hadoop codecs);
- head bytes for sniffing: gz/bz2/xz/zip through the stdlib, zst/br/
  lz4/snappy through pyarrow's bundled codecs;
- avro: ``spark-avro`` package when present (import-try gated);
- xml: record-tag discovery on the driver (xmltodict over head bytes),
  then driver-parse → createDataFrame for small files (spark-xml jar is
  not bundled here);
- xlsx/bson/pickle: driver-side pandas/bson parse → createDataFrame,
  gated behind import-try (these formats are inherently small-file);
- encoding sniff: UTF-8/16 BOM + heuristic fallback over head bytes
  (chardet is unavailable — the sniffer is ours);
- delimiter sniff: argmax count of ``,;\\t|`` in the first line
  (classify/utils.py:128-150 semantics);
- JDBC: ``spark.read.jdbc`` with partitioned reads.

Every reader returns a DataFrame ready for ``scan_dataframe``.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import os
import struct
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

TEXT_FORMATS = {"csv", "tsv", "json", "jsonl", "ndjson"}
NATIVE_FORMATS = {"parquet", "orc"}
CODEC_EXTS = {"gz", "bz2", "xz", "lz4", "zst", "br", "snappy", "zip"}
SUPPORTED = TEXT_FORMATS | NATIVE_FORMATS | {
    "avro", "xml", "xls", "xlsx", "bson", "pickle", "pkl"
}
# Driver-side decompression cap for single-file zip/xz/br payloads
# (2 GiB): beyond this, scan_file raises instead of silently truncating.
DRIVER_DECOMPRESS_CAP = 1 << 31


def detect_format(path: str) -> tuple[str, Optional[str]]:
    """(format, codec) from the filename, handling double extensions."""
    name = os.path.basename(path).lower()
    parts = name.split(".")
    codec = None
    if len(parts) > 1 and parts[-1] in CODEC_EXTS:
        codec = parts[-1]
        parts = parts[:-1]
    fmt = parts[-1] if len(parts) > 1 else ""
    return fmt, codec


def detect_encoding(head: bytes) -> str:
    """BOM + heuristic encoding sniff (chardet-free)."""
    if head.startswith(b"\xef\xbb\xbf"):
        return "UTF-8"
    if head.startswith(b"\xff\xfe") or head.startswith(b"\xfe\xff"):
        return "UTF-16"
    try:
        head.decode("utf-8")
        return "UTF-8"
    except UnicodeDecodeError:
        return "windows-1251"  # most common non-UTF fallback in the wild


def detect_delimiter(first_line: str) -> str:
    """argmax count over ',;\\t|' (classify/utils.py:128-150)."""
    counts = {d: first_line.count(d) for d in [",", ";", "\t", "|"]}
    return max(counts, key=lambda d: (counts[d], d == ","))


_LZ4_FRAME_MAGIC = b"\x04\x22\x4d\x18"
# Header of a one-block LZ4 frame: magic, FLG (version 1, independent
# blocks), BD (4 MiB max block) and its header-checksum byte.
_LZ4_ONE_BLOCK_FRAME = _LZ4_FRAME_MAGIC + b"\x60\x70\x73"


@contextlib.contextmanager
def codec_errors(what: str):
    """pyarrow reports corrupt or truncated compressed input as OSError
    (its ArrowInvalid already is a ValueError); callers of the decoders
    here catch ValueError, so translate it."""
    try:
        yield
    except OSError as e:
        raise ValueError(f"{what}: {e}") from e


def _is_hadoop_block(lead: bytes, size: int, codec: str) -> bool:
    """Does a .lz4/.snappy file of ``size`` bytes start (``lead``) in
    Hadoop's BlockCompressorStream layout: BE32 raw length, BE32 chunk
    length, chunk?  Spark writes that layout, and it is the only one
    ``spark.read`` decodes.  An LZ4 frame starts with its magic.  Raw
    snappy starts with a varint: from 128 bytes of payload up its high
    bit makes the "raw length" negative as a Java int, and below that
    the "chunk length" would need three zero bytes of literal text."""
    if len(lead) < 8 or (codec == "lz4" and lead[:4] == _LZ4_FRAME_MAGIC):
        return False
    raw, clen = struct.unpack(">II", lead[:8])
    return 0 < raw < 1 << 31 and 0 < clen <= size - 8


def _snappy_block(block: bytes) -> bytes:
    """One raw snappy block; its varint prefix is the decoded length.
    pyarrow allocates that length before decoding, so a length no block
    of this size can decode to (a 3-byte copy yields at most 64 bytes)
    is rejected first."""
    import pyarrow as pa

    size = 0
    for i, b in enumerate(block[:5]):
        size |= (b & 0x7F) << (7 * i)
        if b < 0x80:
            if size >= 1 << 32 or size > 22 * len(block) + 64:
                raise ValueError(
                    f"snappy: declared length {size} is more than "
                    f"{len(block)} compressed bytes can hold")
            return pa.Codec("snappy").decompress(
                block, decompressed_size=size, asbytes=True)
    raise ValueError("snappy: bad length prefix")


def _lz4_block(block: bytes) -> bytes:
    """One raw LZ4 block.  pyarrow's one-shot ``lz4_raw`` decode returns
    as many bytes as it is told to expect, and a Hadoop chunk's decoded
    size is recorded nowhere, so the block is read as a one-block LZ4
    frame, whose stream ends where the block does."""
    import pyarrow as pa

    frame = (_LZ4_ONE_BLOCK_FRAME + struct.pack("<I", len(block)) + block
             + b"\0\0\0\0")
    return pa.CompressedInputStream(pa.BufferReader(frame), "lz4").read()


def _hadoop_blocks(f, codec: str, n: int) -> bytes:
    """First n bytes of Hadoop's block layout: each block is a BE32 raw
    length, then BE32-length-prefixed chunks until that many raw bytes
    are out."""
    decode = _lz4_block if codec == "lz4" else _snappy_block
    size = os.fstat(f.fileno()).st_size

    def take(k: int) -> bytes:
        if k > size - f.tell():  # checked first: read(k) allocates k
            raise ValueError(f"truncated Hadoop {codec} block")
        return f.read(k)

    def be32() -> int:
        return struct.unpack(">I", take(4))[0]

    out = bytearray()
    while len(out) < n and f.peek(1):
        end = len(out) + be32()
        while len(out) < end:
            out += decode(take(be32()))
    return bytes(out[:n])


def _read_upto(f, n: int) -> bytes:
    """Up to n bytes of f, read in 1 MiB pieces: Python's and pyarrow's
    ``read(n)`` allocate all n bytes up front, and scan_file asks for a
    2 GiB head whatever the file's size."""
    parts = []
    while n > 0:
        part = f.read(min(n, 1 << 20))
        if not part:
            break
        parts.append(part)
        n -= len(part)
    return b"".join(parts)


def _arrow_head(f, codec: str, n: int) -> bytes:
    """First n decoded bytes of a zst/br/lz4/snappy file, through
    pyarrow's bundled codecs."""
    import pyarrow as pa

    if codec in ("zst", "br"):
        return _read_upto(pa.CompressedInputStream(
            f, "zstd" if codec == "zst" else "brotli"), n)
    lead = f.read(8)
    f.seek(0)
    if not lead:
        return b""
    if codec == "lz4" and lead[:4] == _LZ4_FRAME_MAGIC:
        return _read_upto(pa.CompressedInputStream(f, "lz4"), n)
    if codec == "lz4" or _is_hadoop_block(
            lead, os.fstat(f.fileno()).st_size, codec):
        return _hadoop_blocks(f, codec, n)
    return _snappy_block(f.read())[:n]  # raw snappy: one block, whole file


def _head_bytes(path: str, n: int = 1 << 20) -> bytes:
    """First n DECOMPRESSED bytes — encoding/delimiter sniffing must see
    plaintext.  gz/bz2/xz/zip decode through the stdlib, zst/br/lz4/
    snappy through pyarrow's bundled codecs (LZ4 frame or Hadoop block
    layout; Hadoop block layout or raw snappy).  Corrupt or truncated
    input raises ValueError; an empty file is an empty head."""
    import bz2
    import gzip
    import lzma
    import zipfile

    _, codec = detect_format(path)
    if codec == "zip":
        with zipfile.ZipFile(path) as z:
            names = z.namelist()
            if not names:
                return b""
            with z.open(names[0]) as f:
                return _read_upto(f, n)
    if codec in ("zst", "br", "lz4", "snappy"):
        with open(path, "rb") as f, codec_errors(path):
            return _arrow_head(f, codec, n)
    opener = {"gz": gzip.open, "bz2": bz2.open, "xz": lzma.open}.get(
        codec, open)
    with opener(path, "rb") as f:
        return _read_upto(f, n)


def xml_record_tag(head: bytes) -> Optional[str]:
    """First list-typed tag path — the record container
    (classify/utils.py:180-221 analogue, via xmltodict on the driver)."""
    import xmltodict

    try:
        doc = xmltodict.parse(head)
    except Exception:
        return None

    def seek(node, depth=0):
        if depth > 6 or not isinstance(node, dict):
            return None
        for k, v in node.items():
            if isinstance(v, list):
                return k
            found = seek(v, depth + 1)
            if found:
                return found
        return None

    return seek(doc)


def scan_file(
    spark: SparkSession,
    path: str,
    *,
    fmt: Optional[str] = None,
    delimiter: Optional[str] = None,
    encoding: Optional[str] = None,
    tagname: Optional[str] = None,
    options: Optional[dict[str, Any]] = None,
) -> DataFrame:
    detected, codec = detect_format(path)
    fmt = (fmt or detected or "csv").lower()
    options = dict(options or {})
    # zip/xz/br are NOT Hadoop codecs — spark.read would consume raw
    # compressed bytes.  Like the reference's iterabledata, decompress
    # on the driver (these are inherently single-file, small-ish
    # payloads; large data should ship as gz/bz2/zstd/lz4, which the
    # distributed readers handle natively).
    if codec in {"zip", "xz", "br"} and fmt in TEXT_FORMATS:
        import io as _io

        import pandas as _pd

        # Driver-side decompression is capped: a payload that reaches the
        # cap would otherwise parse cleanly with rows silently missing.
        # Read cap+1 bytes so truncation is detectable, and point users at
        # the distributed alternatives.
        cap = int(options.pop("max_driver_bytes", DRIVER_DECOMPRESS_CAP))
        data = _head_bytes(path, cap + 1)
        if len(data) > cap:
            raise ValueError(
                f"{path}: decompressed payload exceeds the {cap}-byte "
                "driver-side cap for zip/xz/br. Re-ship as gz/bz2/zstd/lz4 "
                "(distributed Hadoop codecs), or for multi-member zip "
                "archives use scan_zip_members() for an executor-parallel "
                "read. Override with options={'max_driver_bytes': N} only "
                "if the driver has the memory."
            )
        if fmt in {"csv", "tsv"}:
            encoding = encoding or detect_encoding(data[: 1 << 16])
            text = data.decode(encoding, "replace")
            if delimiter is None:
                first = text.splitlines()[:1]
                delimiter = "\t" if fmt == "tsv" else detect_delimiter(
                    first[0] if first else ","
                )
            # keep_default_na=False: with dtype=str, pandas would turn
            # empty cells / NA-like tokens into NaN and createDataFrame
            # would stringify them to the literal 'nan' — the Spark-native
            # CSV path yields null for empties, so only "" maps to null.
            pdf = _pd.read_csv(
                _io.StringIO(text), sep=delimiter, dtype=str,
                keep_default_na=False, na_values=[""],
            )
        else:  # json/jsonl/ndjson
            pdf = _pd.read_json(
                _io.BytesIO(data), lines=(fmt in {"jsonl", "ndjson"})
            )
        pdf = pdf.astype(object).where(pdf.notna(), None)
        return spark.createDataFrame(pdf)
    if codec in {"lz4", "snappy"} and fmt in TEXT_FORMATS and (
            os.path.isfile(path)):
        with open(path, "rb") as f:
            lead = f.read(8)
        if lead and not _is_hadoop_block(lead, os.path.getsize(path), codec):
            raise ValueError(
                f"{path}: .{codec} text sources must be in Hadoop's block "
                "layout (what Spark writes with option('compression', "
                f"'{codec}')); spark.read reads an "
                f"{'LZ4 frame' if codec == 'lz4' else 'raw snappy'} file "
                "as 0 rows. Re-compress it, or decode it first."
            )
    if fmt in {"csv", "tsv"}:
        if encoding is None or delimiter is None:
            head = _head_bytes(path, 1 << 16)
            encoding = encoding or detect_encoding(head)
            if delimiter is None:
                first = head.decode(encoding, "replace").splitlines()[:1]
                delimiter = "\t" if fmt == "tsv" else detect_delimiter(
                    first[0] if first else ","
                )
        encoding = encoding or "UTF-8"
        delimiter = delimiter or ("\t" if fmt == "tsv" else ",")
        return (
            spark.read.option("header", "true")
            .option("sep", delimiter)
            .option("encoding", encoding)
            .options(**options)
            .csv(path)
        )
    if fmt in {"json", "jsonl", "ndjson"}:
        r = spark.read
        if fmt == "json":
            r = r.option("multiLine", "true")
        return r.options(**options).json(path)
    if fmt == "parquet":
        return spark.read.options(**options).parquet(path)
    if fmt == "orc":
        return spark.read.options(**options).orc(path)
    if fmt == "avro":
        try:
            return spark.read.format("avro").options(**options).load(path)
        except Exception:
            # spark-avro jar absent: fall back to the pure-Python OCF
            # reader (io/avro_codec.py — clean-room from the public
            # spec).  Driver-side; for block-parallel reads of large
            # files use scan_avro_distributed().
            from metacrafter_spark.io.avro_codec import read_ocf

            return spark.createDataFrame(list(read_ocf(path)))
    if fmt == "xml":
        import xmltodict

        head = _head_bytes(path)
        tag = tagname or xml_record_tag(head)
        if tag is None:
            raise ValueError(f"no record tag found in {path}")
        doc = xmltodict.parse(_head_bytes(path, 1 << 30))

        def find(node):
            if isinstance(node, dict):
                for k, v in node.items():
                    if k == tag:
                        return v if isinstance(v, list) else [v]
                    got = find(v)
                    if got:
                        return got
            return None

        records = find(doc) or []
        return spark.createDataFrame(records)
    if fmt == "xlsx":
        try:
            import pandas as pd

            return spark.createDataFrame(pd.read_excel(path))
        except ImportError:
            # openpyxl absent: pure-stdlib OOXML reader (io/xlsx_codec.py
            # — clean-room from ECMA-376; same header-keyed record shape
            # as the reference's iterabledata rows).
            from metacrafter_spark.io.xlsx_codec import read_xlsx

            records = read_xlsx(path, sheet=options.get("sheet"))
            if not records:
                raise ValueError(f"no data rows in {path}")
            return spark.createDataFrame(records)
    if fmt == "xls":
        try:
            import pandas as pd

            return spark.createDataFrame(pd.read_excel(path))
        except ImportError:
            # xlrd absent: pure-stdlib BIFF8 reader (io/xls_codec.py —
            # clean-room from [MS-CFB]+[MS-XLS]; same header-keyed record
            # shape as the reference's iterabledata rows).  Pre-BIFF8
            # workbooks still raise NotImplementedError inside the codec.
            from metacrafter_spark.io.xls_codec import read_xls

            records = read_xls(path, sheet=options.get("sheet"))
            if not records:
                raise ValueError(f"no data rows in {path}")
            return spark.createDataFrame(records)
    if fmt == "bson":
        try:
            from bson import decode_file_iter  # type: ignore
        except ImportError:
            # pymongo absent: clean-room spec codec (io/bson_codec.py).
            from metacrafter_spark.io.bson_codec import decode_file_iter
        with open(path, "rb") as f:
            items = list(decode_file_iter(f))
        return spark.createDataFrame(items)
    if fmt in {"pickle", "pkl"}:
        import pickle

        with open(path, "rb") as f:
            items = pickle.load(f)
        return spark.createDataFrame(items)
    raise ValueError(f"unsupported format {fmt!r} for {path}")


def _xml_record_from_piece(piece: str, tag: str):
    """Reconstruct one record's XML from a close-tag-split chunk and
    parse it to a flat dict (attributes keep xmltodict's @ prefix;
    nested structures are JSON-encoded — one string column per field)."""
    import json as _json
    import re as _re

    import xmltodict

    m = None
    for m in _re.finditer(rf"<{_re.escape(tag)}(?=[\s>/])", piece):
        pass  # last open tag in the chunk starts the record
    if m is None:
        return None
    try:
        doc = xmltodict.parse(piece[m.start():] + f"</{tag}>")
    except Exception:
        return None
    rec = doc.get(tag)
    if not isinstance(rec, dict):
        return {"#text": None if rec is None else str(rec)}
    return {
        k: (None if v is None
            else v if isinstance(v, str) else _json.dumps(v))
        for k, v in rec.items()
    }


def scan_xml_distributed(
    spark: SparkSession,
    path: str,
    *,
    tagname: Optional[str] = None,
    sample_records: int = 50,
) -> DataFrame:
    """Distributed XML record scan WITHOUT the spark-xml jar.

    ``spark.read.text`` with ``lineSep=f"</{tag}>"`` splits the file at
    record close tags — a safe record boundary, and a splittable read
    (each executor task parses its own chunk range), unlike the
    driver-side ``scan_file`` fallback.  Each resulting row holds one
    record's worth of bytes; executors re-attach the close tag and
    parse with xmltodict per row inside ``mapInPandas``.

    The driver reads only head bytes: record-tag discovery plus a
    column sniff over the first ``sample_records`` records (columns =
    union of keys in first-appearance order; missing keys → null,
    nested structures → JSON strings)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    head = _head_bytes(path, 1 << 20)
    tag = tagname or xml_record_tag(head)
    if tag is None:
        raise ValueError(f"no record tag found in {path}")
    enc = detect_encoding(head[: 1 << 16])
    cols: list[str] = []
    for piece in head.decode(enc, "replace").split(f"</{tag}>")[:sample_records]:
        rec = _xml_record_from_piece(piece, tag)
        if rec:
            for k in rec:
                if k not in cols:
                    cols.append(k)
    if not cols:
        raise ValueError(f"no <{tag}> records parseable in head of {path}")
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])

    def parse(batches):
        import pandas as _pd

        for pdf in batches:
            recs = [
                _xml_record_from_piece(v, tag)
                for v in pdf["value"].tolist()
            ]
            out = _pd.DataFrame(
                [r for r in recs if r is not None], columns=cols, dtype=object
            ).reindex(columns=cols)
            yield out.where(out.notna(), None)

    raw = spark.read.option("lineSep", f"</{tag}>").text(path)
    # strip XML prolog/container chunks executor-side (rows with no open
    # tag yield None and are dropped by the parser)
    raw = raw.filter(F.length("value") > 0)
    return raw.mapInPandas(parse, schema=schema)


def scan_avro_distributed(spark: SparkSession, path: str) -> DataFrame:
    """Block-parallel Avro OCF read WITHOUT the spark-avro jar.

    Avro's container format frames records into blocks separated by a
    sync marker, so blocks are independent decode units.  The driver
    reads only block HEADERS (count + byte size, seeking past the
    data — O(#blocks) I/O); executors seek to their assigned blocks and
    decode with the pure-Python codec (io/avro_codec.py).  Requires the
    path to be executor-reachable, like any Spark input."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from metacrafter_spark.io.avro_codec import (
        block_spans,
        decode_block,
        field_names,
    )

    schema, codec, spans = block_spans(path)
    if not spans:
        raise ValueError(f"{path}: no Avro blocks")
    cols = field_names(schema)
    avro_to_spark = {
        "boolean": T.BooleanType(), "int": T.LongType(), "long": T.LongType(),
        "float": T.DoubleType(), "double": T.DoubleType(),
        "bytes": T.BinaryType(), "string": T.StringType(),
        "null": T.StringType(), "enum": T.StringType(),
    }

    def spark_type(node):
        if isinstance(node, list):  # union: the non-null branch decides
            branches = [b for b in node if b != "null"]
            return spark_type(branches[0]) if branches else T.StringType()
        if isinstance(node, dict):
            return avro_to_spark.get(node.get("type"), T.StringType())
        return avro_to_spark.get(node, T.StringType())

    out_schema = T.StructType([
        T.StructField(f["name"], spark_type(f["type"]))
        for f in schema["fields"]
    ])

    def decode(batches):
        import pandas as _pd

        for pdf in batches:
            recs = []
            for off, size, cnt in zip(pdf["offset"], pdf["size"], pdf["count"]):
                recs.extend(decode_block(path, int(off), int(size), int(cnt),
                                         schema, codec))
            out = _pd.DataFrame(recs, columns=cols, dtype=object)
            yield out.where(out.notna(), None)

    n_tasks = min(len(spans), spark.sparkContext.defaultParallelism)
    spans_df = spark.createDataFrame(
        [(o, s, c) for o, s, c in spans],
        "offset long, size long, count long",
    ).repartition(n_tasks, F.col("offset"))
    return spans_df.mapInPandas(decode, schema=out_schema)


def scan_zip_members(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "csv",
    delimiter: Optional[str] = None,
    encoding: Optional[str] = None,
) -> DataFrame:
    """Executor-parallel read of a multi-member zip archive.

    The driver reads only the central directory (member names) and the
    head of the first member (schema sniff); each executor task then
    opens the archive locally and decompresses its assigned members —
    so a 100-member archive decompresses on up to 100 cores instead of
    one driver thread.  Requires ``path`` to be reachable from executors
    (local mode / shared FS / distributed cache), like any Spark input.

    Columns are all strings (like the header'd CSV reader with
    inferSchema off); members must share one schema.
    """
    import zipfile

    import pandas as pd  # noqa: F401 (executor-side import verified early)

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if fmt not in {"csv", "tsv", "jsonl", "ndjson"}:
        raise ValueError(f"scan_zip_members supports csv/tsv/jsonl, not {fmt}")

    with zipfile.ZipFile(path) as z:
        members = [i.filename for i in z.infolist() if not i.is_dir()]
        if not members:
            raise ValueError(f"{path}: empty archive")
        with z.open(members[0]) as f:
            head = f.read(1 << 16)
    enc = encoding or detect_encoding(head)
    text_head = head.decode(enc, "replace")
    first_line = text_head.splitlines()[0] if text_head else ""
    if fmt in {"csv", "tsv"}:
        sep = delimiter or ("\t" if fmt == "tsv" else
                            detect_delimiter(first_line))
        cols = [c.strip() for c in first_line.split(sep)]
    else:
        import json as _json

        sep = None
        cols = sorted(_json.loads(first_line).keys()) if first_line else []
    if not cols:
        raise ValueError(f"{path}: could not sniff a schema from {members[0]}")

    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    lines = fmt in {"jsonl", "ndjson"}

    def read_members(batches):
        import io as _io
        import zipfile as _zf

        import pandas as _pd

        for pdf in batches:
            with _zf.ZipFile(path) as zf:
                for name in pdf["member"]:
                    with zf.open(name) as f:
                        data = f.read()
                    if lines:
                        out = _pd.read_json(_io.BytesIO(data), lines=True,
                                            dtype=str)
                    else:
                        out = _pd.read_csv(
                            _io.StringIO(data.decode(enc, "replace")),
                            sep=sep, dtype=str,
                            keep_default_na=False, na_values=[""],
                        )
                    out = out.reindex(columns=cols)
                    yield out.astype(object).where(out.notna(), None)

    n_tasks = min(len(members), spark.sparkContext.defaultParallelism)
    member_df = spark.createDataFrame(
        [(m,) for m in members], "member string"
    ).repartition(n_tasks, F.col("member"))
    return member_df.mapInPandas(read_members, schema=schema)


def scan_bulk(spark: SparkSession, dirname: str, *,
              fmt: Optional[str] = None, **kw) -> dict[str, DataFrame]:
    """Directory walk → one DataFrame per supported file
    (core.py:1568-1641 analogue; homogeneous trees should instead use a
    single glob path in spark.read for one distributed scan)."""
    out = {}
    for path in sorted(_glob.glob(os.path.join(dirname, "**", "*"),
                                  recursive=True)):
        if not os.path.isfile(path):
            continue
        detected, _ = detect_format(path)
        if (fmt or detected) in SUPPORTED:
            try:
                out[path] = scan_file(spark, path, fmt=fmt, **kw)
            except (NotImplementedError, ValueError):
                continue
    return out


def scan_db(
    spark: SparkSession, url: str, tables: list[str], *,
    properties: Optional[dict] = None, **kw,
) -> dict[str, DataFrame]:
    """Multi-table DB scan (core.py:1824-2175 scan_db analogue): one
    DataFrame per table, ready for per-table ``scan_dataframe`` +
    ``io.sinks.write_db_report`` aggregation.  The reference inspects
    the schema via SQLAlchemy; Spark-side we take the table list
    explicitly (or query the DB's information_schema upstream)."""
    return {
        t: scan_jdbc(spark, url, t, properties=properties, **kw)
        for t in tables
    }


def scan_jdbc(
    spark: SparkSession, url: str, table: str, *,
    properties: Optional[dict] = None,
    partition_column: Optional[str] = None,
    num_partitions: int = 8,
    lower_bound: Optional[int] = None,
    upper_bound: Optional[int] = None,
) -> DataFrame:
    """JDBC scan; with a partition column the read parallelizes
    (core.py scan_db's fetchmany batching becomes partitioned pushdown)."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        r = r.option(k, v)
    if partition_column is not None:
        r = (r.option("partitionColumn", partition_column)
             .option("numPartitions", num_partitions)
             .option("lowerBound", lower_bound or 0)
             .option("upperBound", upper_bound or 1_000_000))
    return r.load()
