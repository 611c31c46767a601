"""The benchmark's workloads.  Each one drives ``metacrafter_spark.cli.main``
in-process, the way a user runs the CLI, and checks what it wrote.

A workload provides:

* ``generate()``  seeded input files (not timed, not part of set-up);
* ``setup()``     the untimed warm-up of the same CLI path;
* ``prepare(k)``  a fresh output directory (and fresh state) for call k;
* ``invoke(c)``   the timed CLI call, returning its JSON summary;
* ``check(c, summary)``  (digest, problems) for the call's output;
* ``isolate(reps)``  noop-sink timings of lazy stages, and
  ``layers(tr, execs, stages, summary, call, iso)``  the traced call's
  per-layer metrics.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import inputs
from probes import tree_cpu_s


@dataclass
class Ctx:
    spark: object
    root: str       # checkout root (holds metacrafter_spark/)
    work: str       # scratch directory, deleted after the run
    seed: int
    nproc: int
    scale: str      # "full" for the benchmark, "tiny" for its self-test


@dataclass
class Call:
    dir: str
    argv: list


def run_cli(argv: list) -> dict:
    """``cli.main(argv)``; returns the last JSON object it printed."""
    from metacrafter_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    if rc:
        raise RuntimeError(f"cli exited {rc}: {argv}")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else {}


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


def digest(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True).encode("utf-8")).hexdigest()


def isolate_prefixes(prefixes: list, reps: int) -> dict:
    """Noop-sink each frame of ``prefixes`` [(name, df)] ``reps`` times,
    round-robin; returns name -> (median wall s, median CPU s of the
    process tree, which unlike stage CPU includes the Python workers)."""
    walls: dict = {n: [] for n, _ in prefixes}
    cpus: dict = {n: [] for n, _ in prefixes}
    for _ in range(reps):
        for name, df in prefixes:
            cpu = tree_cpu_s(os.getpid())
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls[name].append(time.perf_counter() - t)
            cpus[name].append(tree_cpu_s(os.getpid()) - cpu)
    return {n: (statistics.median(walls[n]), statistics.median(cpus[n]))
            for n in walls}


class IngestRedump:
    """The next dump of a crawl, ingested against cross-dump state.

    Dump 1 is ingested once with the paragraph-key and URL HyperLogLog
    stores; that call is the warm-up, and the stores it leaves are kept
    pristine.  (The MinHash and Bloom stores would put a run over the
    benchmark's time budget; see README.md.)  Every
    timed call ingests dump 2, which revisits a fixed share of dump 1's
    doc ids, into Iceberg against a fresh copy of those stores.
    """

    name = "ingest_redump"
    DOCS = {"full": 300, "tiny": 24}      # dump 2, the timed one
    DUMP1_DOCS = {"full": 60, "tiny": 12}
    REVISIT_SHARE = 0.3
    OUTPUT_BUCKETS = 4
    SKETCH_SPANS = ("ops.sketches.hll_registers", "ops.sketches.hll_merge",
                    "ops.sketches.hll_estimate")
    TRACE = [
        "io.warc.scan_warc_cdx", "corpus.html.with_extracted_text",
        "corpus.pipeline.classify_corpus", "corpus.pipeline.bucket_metrics",
        "corpus.resume.run_with_resume",
        "io.iceberg.PyIcebergTableIO.overwrite_partitions",
        "io.iceberg.flatten_struct_columns",
        "corpus.resume.read_key_store", "corpus.resume.advance_key_store",
        "ops.dedup.para_keys", "ops.dedup.incremental_para_dedup",
        *SKETCH_SPANS,
    ]

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n = self.DOCS[ctx.scale]
        self.n1 = self.DUMP1_DOCS[ctx.scale]
        self.ids1, self.ids2, self.revisits = inputs.page_ids(
            self.n1, self.n, self.REVISIT_SHARE)
        self.rows = self.n
        self.dump1 = os.path.join(ctx.work, "dump1")
        self.dump2 = os.path.join(ctx.work, "dump2")
        self.pristine = os.path.join(ctx.work, "stores-pristine")

    def generate(self) -> None:
        from metacrafter_spark.corpus.webpages import make_doc

        inputs.write_dump(self.ids1, self.ctx.seed, self.dump1,
                          self.ctx.nproc)
        inputs.write_dump(self.ids2, self.ctx.seed, self.dump2,
                          self.ctx.nproc)
        self.revisit_urls = {make_doc(i, self.ctx.seed)["url"]
                             for i in self.ids2 if i in self.ids1}

    def _argv(self, dump: str, out: str, stores: str) -> list:
        return ["warc-ingest", os.path.join(dump, "*.cdx"), dump,
                os.path.join(out, "output"), os.path.join(out, "metrics"),
                "--buckets", str(self.OUTPUT_BUCKETS),
                "--para-dedup-store", os.path.join(stores, "para"),
                "--url-hll-store", os.path.join(stores, "hll")]

    def setup(self) -> None:
        out = os.path.join(self.ctx.work, "ingest-dump1")
        summary = run_cli(self._argv(self.dump1, out, self.pristine))
        if summary.get("processed") != self.n1:
            raise RuntimeError(f"dump 1 ingest: {summary}")
        shutil.rmtree(out)

    def prepare(self, k: int) -> Call:
        d = os.path.join(self.ctx.work, f"call-{k}")
        shutil.copytree(self.pristine, os.path.join(d, "stores"))
        return Call(d, self._argv(self.dump2, d, os.path.join(d, "stores")))

    def invoke(self, call: Call) -> dict:
        return run_cli(call.argv)

    def check(self, call: Call, summary: dict) -> tuple[str, list]:
        from metacrafter_spark.io.iceberg import PyIcebergTableIO

        df = PyIcebergTableIO(self.ctx.spark).read(
            os.path.join(call.dir, "output"))
        rows = sorted(
            (r["url"], bool(r["keep"]), r["drop_reason"],
             hashlib.sha256((r["text_scrubbed"] or "").encode()).hexdigest())
            for r in df.select("url", "keep", "drop_reason",
                               "text_scrubbed").collect())
        keys = ("processed", "kept_total", "para_removed",
                "url_distinct_est")
        problems = []
        if any(k not in summary for k in keys):
            problems.append(f"summary lacks keys: {summary}")
            return "", problems
        if not (len(rows) == summary["processed"] == self.n):
            problems.append(f"{len(rows)} rows, summary {summary}")
        if summary["kept_total"] != sum(r[1] for r in rows):
            problems.append("kept_total disagrees with the table")
        # a revisit repeats a dump-1 page, so the paragraph store
        # removes all of its text and the page cannot be kept
        kept_revisits = [r[0] for r in rows
                         if r[0] in self.revisit_urls and r[1]]
        if kept_revisits or summary["para_removed"] < self.revisits:
            problems.append(f"revisits kept: {kept_revisits}, "
                            f"para_removed {summary['para_removed']}")
        true_distinct = self.n1 + self.n - self.revisits
        if abs(summary["url_distinct_est"] - true_distinct) > \
                0.05 * true_distinct:
            problems.append(f"HLL estimate {summary['url_distinct_est']} "
                            f"vs {true_distinct} distinct urls")
        return digest([rows, [summary[k] for k in keys]]), problems

    def layers(self, tr, execs, stages, summary, call, iso) -> dict:
        ice = tr.labels("io.iceberg.PyIcebergTableIO.overwrite_partitions")
        files = size = 0
        for t in ("output", "metrics"):
            f, b = dir_bytes(os.path.join(call.dir, t), ".parquet")
            files += f
            size += dir_bytes(os.path.join(call.dir, t))[1]
        write_s = tr.total("io.iceberg.PyIcebergTableIO.overwrite_partitions")
        return {
            **iso,
            "corpus.pipeline.plan_s": tr.total(
                "corpus.pipeline.classify_corpus"),
            "corpus.pipeline.passes": sum(
                "ArrowEvalPython" in e.plan for e in execs),
            "corpus.pipeline.kept_ratio":
                summary["kept_total"] / summary["processed"],
            "corpus.resume.write_s": tr.total("corpus.resume.run_with_resume"),
            "io.iceberg.write_s": write_s,
            "io.iceberg.driver_s": write_s - sum(
                e.duration_s for e in execs if e.description in ice),
            "io.iceberg.files": files,
            "io.iceberg.mb": size / 1e6,
            "ops.dedup.self_s": tr.self_total(
                "ops.dedup.incremental_para_dedup"),
            "ops.dedup.removed_ratio": self._para_removed_ratio(call),
            "ops.sketches.self_s": tr.self_total(*self.SKETCH_SPANS),
            "corpus.resume.keystore_read_s": tr.total(
                "corpus.resume.read_key_store"),
            "corpus.resume.keystore_advance_s": tr.total(
                "corpus.resume.advance_key_store"),
            "corpus.resume.keystore_mb":
                dir_bytes(os.path.join(call.dir, "stores"))[1] / 1e6,
        }

    def _para_removed_ratio(self, call: Call) -> float:
        """Paragraphs the store removed over paragraphs seen."""
        from pyspark.sql import functions as F

        from metacrafter_spark.io.iceberg import PyIcebergTableIO

        r = PyIcebergTableIO(self.ctx.spark).read(
            os.path.join(call.dir, "output")).agg(
                F.sum("para_removed"), F.sum("para_n")).first()
        return r[0] / r[1]

    def isolate(self, reps: int) -> dict:
        """Self time of the lazy per-document stages, from noop-sink
        prefixes of the timed call's own input: scan, +extract,
        +langid, +perplexity, +quality, +scrub."""
        from pyspark.sql import functions as F

        from metacrafter_spark.corpus.html import with_extracted_text
        from metacrafter_spark.corpus.langid import with_langid
        from metacrafter_spark.corpus.perplexity import with_perplexity
        from metacrafter_spark.corpus.pipeline import DEFAULT_POLICY
        from metacrafter_spark.corpus.quality import with_quality
        from metacrafter_spark.corpus.scrub import (
            default_scrub_rules, total_hits, with_scrub,
        )
        from metacrafter_spark.io.warc import scan_warc_cdx

        spark = self.ctx.spark
        rules = default_scrub_rules()
        p = scan_warc_cdx(spark, os.path.join(self.dump2, "*.cdx"),
                          self.dump2)
        chain = [("io.warc", p)]
        p = with_extracted_text(p, "html", "text")
        chain.append(("corpus.html", p))
        p = with_langid(p, "text")
        chain.append(("corpus.langid", p))
        p = with_perplexity(p, "text")
        chain.append(("corpus.perplexity", p))
        p = with_quality(p, "text", DEFAULT_POLICY.quality)
        chain.append(("corpus.quality", p))
        p = with_scrub(p, "text", rules)
        chain.append(("corpus.scrub", p))
        med = isolate_prefixes(chain, reps)
        out, prev_wall, prev_cpu = {}, 0.0, 0.0
        for name, _ in chain:
            wall, cpu = med[name]
            out[f"{name}.self_s"] = wall - prev_wall
            if name == "corpus.scrub":
                out["corpus.scrub.task_cpu_s"] = cpu - prev_cpu
            prev_wall, prev_cpu = wall, cpu
        counts = p.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((total_hits("pii_hits", rules) > 0).cast("long"))
            .alias("hit")).first()
        out["corpus.scrub.hit_rows_ratio"] = counts["hit"] / counts["n"]
        out["io.warc.rows_out"] = counts["n"]
        return out


class ColumnScan:
    """``scan-file`` over a seeded wide PII table written as gzip CSV:
    per-field statistics over every row (analyzer), rule matching over
    a bounded slice (matcher + rules), and the report.  No corpus or
    Iceberg layer runs, so this is the control for those layers."""

    name = "column_scan"
    ROWS = {"full": 4000, "tiny": 300}
    TRACE = [
        "io.sources.scan_file", "scanner.scan_dataframe",
        "scanner.compute_stats", "scanner.match_columns",
        "scanner.assemble_report", "io.sinks.write_report",
    ]
    # labels every seed's table carries, whatever the random values
    KNOWN = {"email": "email", "phone": "phone", "uuid": "uuid",
             "guid": "guid", "md5": "md5hash"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rows = self.ROWS[ctx.scale]
        self.path = os.path.join(ctx.work, "input", "pii_profiles.csv.gz")

    def generate(self) -> None:
        self.header = inputs.write_pii_csv(self.ctx.root, self.rows,
                                           self.ctx.seed, self.path)

    def _argv(self, d: str) -> list:
        return ["scan-file", self.path, "-o", os.path.join(d, "report.json")]

    def setup(self) -> None:
        d = os.path.join(self.ctx.work, "warmup")
        os.makedirs(d)
        run_cli(self._argv(d))
        shutil.rmtree(d)

    def prepare(self, k: int) -> Call:
        d = os.path.join(self.ctx.work, f"call-{k}")
        os.makedirs(d)
        return Call(d, self._argv(d))

    def invoke(self, call: Call) -> dict:
        return run_cli(call.argv)

    def _report(self, call: Call) -> dict:
        with open(os.path.join(call.dir, "report.json"),
                  encoding="utf-8") as f:
            return json.load(f)

    def check(self, call: Call, summary: dict) -> tuple[str, list]:
        rows = [(d["field"], sorted([m["dataclass"], m["confidence"]]
                                    for m in d["matches"]))
                for d in self._report(call)["data"]]
        problems = []
        if [r[0] for r in rows] != self.header:
            problems.append(f"report fields {[r[0] for r in rows]}")
        labels = {f: {m[0] for m in ms} for f, ms in rows}
        for f, cls in self.KNOWN.items():
            if cls not in labels.get(f, ()):
                problems.append(f"{f} not labelled {cls}: {labels.get(f)}")
        return digest(rows), problems

    def layers(self, tr, execs, stages, summary, call, iso) -> dict:
        stats = tr.labels("scanner.compute_stats")
        mine = [s for s in stages if s.description in stats]
        return {
            "analyzer.self_s": tr.self_total("scanner.compute_stats"),
            "analyzer.task_cpu_s": sum(s.cpu_s for s in mine),
            "analyzer.shuffle_mb": sum(s.shuffle_write_b for s in mine) / 1e6,
            "matcher.self_s": tr.self_total("scanner.match_columns"),
            "matcher.fields_labeled": sum(
                1 for d in self._report(call)["data"] if d["matches"]),
            "scanner.report_s": tr.total("scanner.assemble_report"),
            "io.sources.self_s": tr.self_total("io.sources.scan_file")
            + iso["io.sources.noop_s"],
        }

    def isolate(self, reps: int) -> dict:
        """The frame ``scan_file`` returns is lazy: its read runs inside
        the stats job, so noop-sink it on its own."""
        from metacrafter_spark.io.sources import scan_file

        df = scan_file(self.ctx.spark, self.path)
        wall, _ = isolate_prefixes([("io.sources", df)], reps)["io.sources"]
        return {"io.sources.noop_s": wall}


WORKLOADS = {w.name: w for w in (IngestRedump, ColumnScan)}
