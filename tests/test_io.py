"""Source/sink tests: format dispatch, sniffing, report writers."""

from __future__ import annotations

import gzip
import json

from metacrafter_spark.io.sinks import report_rows, write_report
from metacrafter_spark.io.sources import (
    detect_delimiter,
    detect_encoding,
    detect_format,
    scan_bulk,
    scan_file,
    xml_record_tag,
)

CSV = "id,name\n1,John\n2,Mary\n3,Anna\n"


def test_detect_format():
    assert detect_format("/a/b/x.csv") == ("csv", None)
    assert detect_format("x.csv.gz") == ("csv", "gz")
    assert detect_format("x.jsonl.zst") == ("jsonl", "zst")
    assert detect_format("noext") == ("", None)


def test_detect_encoding_and_delimiter():
    assert detect_encoding(b"\xef\xbb\xbfabc") == "UTF-8"
    assert detect_encoding("привет".encode("utf-8")) == "UTF-8"
    assert detect_encoding("привет".encode("windows-1251")) == "windows-1251"
    assert detect_delimiter("a,b,c") == ","
    assert detect_delimiter("a;b;c") == ";"
    assert detect_delimiter("a\tb\tc") == "\t"
    assert detect_delimiter("a|b|c") == "|"


def test_scan_csv_and_gz(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text(CSV)
    df = scan_file(spark, str(p))
    assert df.columns == ["id", "name"] and df.count() == 3
    pz = tmp_path / "t.csv.gz"
    pz.write_bytes(gzip.compress(CSV.encode()))
    assert scan_file(spark, str(pz)).count() == 3
    # semicolon sniffing
    ps = tmp_path / "semi.csv"
    ps.write_text("id;name\n1;x\n")
    assert scan_file(spark, str(ps)).columns == ["id", "name"]


def test_scan_jsonl_and_json(spark, tmp_path):
    pj = tmp_path / "t.jsonl"
    pj.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    assert scan_file(spark, str(pj)).count() == 2
    pm = tmp_path / "t.json"
    pm.write_text('[{"a": 1}, {"a": 2}, {"a": 3}]')
    assert scan_file(spark, str(pm)).count() == 3


def test_scan_xml(spark, tmp_path):
    px = tmp_path / "books.xml"
    px.write_text(
        "<catalog><book><id>1</id><title>A</title></book>"
        "<book><id>2</id><title>B</title></book></catalog>"
    )
    assert xml_record_tag(px.read_bytes()) == "book"
    df = scan_file(spark, str(px))
    assert df.count() == 2 and set(df.columns) == {"id", "title"}


def test_scan_pickle_and_bulk(spark, tmp_path):
    import pickle

    pp = tmp_path / "t.pkl"
    pp.write_bytes(pickle.dumps([{"a": 1}, {"a": 2}]))
    assert scan_file(spark, str(pp)).count() == 2
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "u.csv").write_text(CSV)
    frames = scan_bulk(spark, str(tmp_path))
    assert len(frames) == 2  # the pkl + the csv (tmp_path is per-test)


def test_write_report(spark, tmp_path):
    from metacrafter_spark.scanner import scan_dataframe

    df = spark.createDataFrame(
        [{"email_addr": "a@b.io", "uuid": "550e8400-e29b-41d4-a716-446655440000"}] * 20
    )
    rep = scan_dataframe(df)
    out = tmp_path / "rep.json"
    write_report(rep, str(out))
    data = json.loads(out.read_text())
    assert data["results"] and "stats" in data
    assert len(report_rows(rep, short=True)) <= len(report_rows(rep))
    write_report(rep, str(tmp_path / "rep.csv"), fmt="csv")
    write_report(rep, str(tmp_path / "rep.yaml"), fmt="yaml", short=True)


def test_scan_zip_and_xz_csv(spark, tmp_path):
    """zip/xz are not Hadoop codecs — the driver-side decompression
    fallback must yield the same rows as the plain file."""
    import lzma
    import zipfile

    z = tmp_path / "people.csv.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("people.csv", CSV)
    out = scan_file(spark, str(z))
    rows = {r["id"]: r["name"] for r in out.collect()}
    assert rows == {"1": "John", "2": "Mary", "3": "Anna"}

    x = tmp_path / "people.csv.xz"
    x.write_bytes(lzma.compress(CSV.encode()))
    out2 = scan_file(spark, str(x))
    assert out2.count() == 3 and set(out2.columns) == {"id", "name"}


def test_scan_zip_nulls_match_native_csv(spark, tmp_path):
    """Empty cells / NA-like tokens through the driver-side zip path must
    behave like the Spark-native CSV reader: '' → null, 'NA' stays the
    literal string — NOT pandas-NaN stringified to 'nan'."""
    import zipfile

    csv = "id,city,note\n1,,x\n2,NA,\n3,Paris,ok\n"
    z = tmp_path / "cities.csv.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("cities.csv", csv)
    got = {r["id"]: (r["city"], r["note"])
           for r in scan_file(spark, str(z)).collect()}

    p = tmp_path / "cities.csv"
    p.write_text(csv)
    want = {r["id"]: (r["city"], r["note"])
            for r in scan_file(spark, str(p)).collect()}
    assert got == want
    assert got["1"][0] is None and got["2"][0] == "NA" and got["2"][1] is None


def test_scan_zip_driver_cap_raises(spark, tmp_path):
    """A payload at the driver-decompression cap must raise (silent
    truncation mid-row would return a clean-looking wrong frame)."""
    import zipfile

    import pytest

    z = tmp_path / "big.csv.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("big.csv", CSV * 50)
    with pytest.raises(ValueError, match="driver-side cap"):
        scan_file(spark, str(z), options={"max_driver_bytes": 64})
    # above the cap: reads fine
    assert scan_file(
        spark, str(z), options={"max_driver_bytes": 1 << 20}
    ).count() == 150 + 49  # 50 blocks, headers of later blocks become rows


def test_scan_xml_distributed(spark, tmp_path):
    """Close-tag-split distributed XML read matches the driver-side
    xmltodict path row-for-row, handles attributes, nested elements
    (JSON-encoded), and missing fields (null)."""
    from metacrafter_spark.io.sources import scan_file, scan_xml_distributed

    recs = []
    for i in range(40):
        extra = f"<addr><city>town{i}</city></addr>" if i % 2 == 0 else ""
        note = f"<note>line{i}</note>" if i % 3 == 0 else ""
        recs.append(
            f'<person id="{i}"><name>user {i}</name>{extra}{note}</person>'
        )
    xml = "<?xml version=\"1.0\"?>\n<people>\n" + "\n".join(recs) + "\n</people>"
    p = tmp_path / "people.xml"
    p.write_text(xml)

    df = scan_xml_distributed(spark, str(p))
    rows = {r["@id"]: r for r in df.collect()}
    assert len(rows) == 40
    assert rows["7"]["name"] == "user 7"
    assert rows["0"]["addr"] == '{"city": "town0"}'   # nested → JSON
    assert rows["1"]["addr"] is None                  # missing → null
    assert rows["3"]["note"] == "line3"
    assert set(df.columns) == {"@id", "name", "addr", "note"}

    # agrees with the driver-side path on the shared scalar column
    drv = scan_file(spark, str(p), fmt="xml")
    drv_names = sorted(r["name"] for r in drv.collect())
    assert drv_names == sorted(r["name"] for r in df.collect())


def test_scan_zip_members_parallel(spark, tmp_path):
    """Multi-member zip archives read executor-parallel: one task per
    member, rows identical to concatenating the members."""
    import zipfile

    from metacrafter_spark.io.sources import scan_zip_members

    z = tmp_path / "parts.csv.zip"
    with zipfile.ZipFile(z, "w") as f:
        for part in range(6):
            rows = "".join(
                f"{part * 10 + i},name{part * 10 + i},\n" for i in range(10)
            )
            f.writestr(f"part{part}.csv", "id,name,gap\n" + rows)
    df = scan_zip_members(spark, str(z))
    assert df.columns == ["id", "name", "gap"]
    rows = df.collect()
    assert len(rows) == 60
    assert {r["id"] for r in rows} == {str(i) for i in range(60)}
    # empty trailing cell → null (same contract as the single-file path)
    assert all(r["gap"] is None for r in rows)
    # partitions actually fan out beyond one
    assert df.rdd.getNumPartitions() > 1


def test_compact_parquet(spark, tmp_path):
    from pyspark.sql import functions as F

    from metacrafter_spark.io.compaction import compact_parquet, plan_compaction

    src = str(tmp_path / "frag")
    # fragment: 40 tiny files
    spark.range(0, 20000).withColumn("k", F.col("id") % 7).repartition(40) \
        .write.parquet(src)
    plan = plan_compaction(src, target_file_mb=256)
    assert plan["n_files"] == 40
    assert plan["target_files"] == 1  # tiny table -> one file

    dst = str(tmp_path / "compact")
    res = compact_parquet(spark, src, dst, target_file_mb=256)
    assert res["output_files"] == 1
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert a.count() == b.count() == 20000
    assert a.exceptAll(b).count() == 0  # content preserved exactly

    # sorted layout: every output file covers a tight range of k
    dst2 = str(tmp_path / "sorted")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
    res2 = compact_parquet(spark, src, dst2, target_file_mb=256,
                           sort_cols=["k", "id"])
    assert res2["output_files"] == 1
    b2 = spark.read.parquet(dst2)
    assert b2.count() == 20000
    # min/max pruning evidence: a k-filter over the sorted copy pushes down
    plan_str = b2.filter(F.col("k") == 3)._jdf.queryExecution().simpleString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan_str
    # refuses to clobber existing output
    import pytest as _pt
    with _pt.raises(Exception):
        compact_parquet(spark, src, dst, target_file_mb=256)


def _hadoop_block_file(chunks) -> bytes:
    """Hadoop's block layout: per block a BE32 raw length, then the
    BE32-length-prefixed compressed chunks."""
    import struct

    return b"".join(
        struct.pack(">I", raw) + b"".join(
            struct.pack(">I", len(c)) + c for c in comp)
        for raw, comp in chunks)


def test_lz4_snappy_head_reads(spark, tmp_path):
    """.lz4/.snappy head reads decode what the JVM's independent
    encoders write (lz4-java fast/HC blocks and frame writer,
    snappy-java), including overlap copies, incompressible data, long
    runs, multi-chunk blocks and the frame head limit."""
    import numpy as np
    import pytest as _pt

    from metacrafter_spark.io.sources import _head_bytes

    jvm = spark._jvm
    rng = np.random.default_rng(1)
    payloads = [
        b"hello world " * 400,
        bytes(rng.integers(0, 256, 5000, dtype=np.uint8)),
        (b"abcabcabc" * 1000) + bytes(rng.integers(0, 256, 100,
                                                   dtype=np.uint8)),
        b"a" * 100000,
    ]

    def head(name, data, n=1 << 20):
        p = tmp_path / name
        p.write_bytes(data)
        return _head_bytes(str(p), n)

    Snappy = jvm.org.xerial.snappy.Snappy
    fac = jvm.net.jpountz.lz4.LZ4Factory.fastestInstance()
    for p in payloads:
        raw_snappy = bytes(Snappy.compress(bytearray(p)))
        assert head("raw.snappy", raw_snappy) == p
        assert head("block.snappy",
                    _hadoop_block_file([(len(p), [raw_snappy])])) == p
        for compressor in (fac.fastCompressor(), fac.highCompressor()):
            block = bytes(compressor.compress(bytearray(p)))
            assert head("block.lz4",
                        _hadoop_block_file([(len(p), [block])])) == p
    # a block split into several chunks (Hadoop does this for one write
    # larger than its buffer), then a second block; heads stop early
    a, b, c = payloads[0], payloads[3], payloads[2]
    comp = fac.fastCompressor()
    lz4 = _hadoop_block_file([
        (len(a) + len(b), [bytes(comp.compress(bytearray(x))) for x in (a, b)]),
        (len(c), [bytes(comp.compress(bytearray(c)))]),
    ])
    assert head("multi.lz4", lz4) == a + b + c
    assert head("multi.lz4", lz4, 100) == a[:100]
    snappy = _hadoop_block_file([
        (len(a) + len(b), [bytes(Snappy.compress(bytearray(x)))
                           for x in (a, b)]),
        (len(c), [bytes(Snappy.compress(bytearray(c)))]),
    ])
    assert head("multi.snappy", snappy) == a + b + c

    baos = jvm.java.io.ByteArrayOutputStream()
    fos = jvm.net.jpountz.lz4.LZ4FrameOutputStream(baos)
    big = (b"the quick brown fox " * 3000
           + bytes(rng.integers(0, 256, 1000, dtype=np.uint8)))
    fos.write(bytearray(big))
    fos.close()
    frame = bytes(baos.toByteArray())
    assert head("rows.jsonl.lz4", frame) == big
    assert head("rows.jsonl.lz4", frame, 100) == big[:100]

    # malformed inputs raise ValueError, never hang
    with _pt.raises(ValueError):
        head("bad.lz4", b"\x00\x01\x02\x03\x04\x05\x06\x07")
    with _pt.raises(ValueError):
        head("bad.snappy", b"\x0a\x01")   # declared 10, delivers junk
    with _pt.raises(ValueError, match="truncated"):
        head("cut.lz4", lz4[:-3])
