"""Seeded benchmark inputs.  The program only ever sees the files.

* Web dumps: pages from ``corpus.webpages.make_doc`` (the row function
  behind ``synth_webpages``), written as gzip WARC + CDXJ shards with
  the same shard assignment, in-shard order and bytes as
  ``io.warc.write_warc_shards`` — in plain Python, so that no Spark job
  runs before the benchmark's own set-up is timed.
* PII table: ``tests/fixtures_gen.pii_profiles`` as one ``.csv.gz``.
"""

from __future__ import annotations

import gzip
import importlib.util
import io
import os
import zlib


def page_ids(n1: int, n2: int,
             revisit_share: float) -> tuple[range, range, int]:
    """Doc ids of dump 1 (``n1`` pages) and dump 2 (``n2`` pages), and
    how many of dump 2's ids revisit dump 1: ``revisit_share`` of dump
    1's ids.  Dump 2's other ids are new."""
    revisits = int(n1 * revisit_share)
    return range(0, n1), range(n1 - revisits, n1 - revisits + n2), revisits


def write_dump(ids: range, seed: int, out_dir: str, shards: int) -> int:
    """Write ``make_doc(i, seed)`` for ``i in ids`` as ``shards`` WARC
    shards; returns the page count."""
    from metacrafter_spark.corpus.webpages import make_doc
    from metacrafter_spark.io.warc import write_warc

    os.makedirs(out_dir, exist_ok=True)
    groups: dict[int, list[dict]] = {}
    for i in ids:
        d = make_doc(i, seed)
        # write_warc_shards: pmod(crc32(url), shards), url order in-shard
        shard = zlib.crc32(d["url"].encode("utf-8")) % shards
        groups.setdefault(shard, []).append(
            {"url": d["url"], "ts": d["warc_ts"], "html": d["html"]})
    for shard, recs in groups.items():
        recs.sort(key=lambda r: r["url"])
        stem = os.path.join(out_dir, f"part-{shard:05d}")
        write_warc(recs, stem + ".warc.gz", stem + ".cdx")
    return len(ids)


def _fixtures_gen(root: str):
    path = os.path.join(root, "tests", "fixtures_gen.py")
    spec = importlib.util.spec_from_file_location("_pb_fixtures_gen", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_pii_csv(root: str, n: int, seed: int, path: str) -> list[str]:
    """Write ``pii_profiles(n, seed)`` as a gzip CSV; returns the header."""
    import pandas as pd

    rows = _fixtures_gen(root).pii_profiles(n, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # mtime=0: the same seed gives the same bytes
    with gzip.GzipFile(path, "wb", mtime=0) as gz, \
            io.TextIOWrapper(gz, encoding="utf-8", newline="") as f:
        pd.DataFrame(rows).to_csv(f, index=False)
    return list(rows[0])
