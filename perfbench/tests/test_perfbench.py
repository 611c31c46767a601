"""Self-test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Runs every workload through ``perfbench/run.py`` (timed twice, traced
once), so it takes several minutes; it is not part of the repo's
tier-1 suite under ``tests/``.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, seed: int, trace: int, cwd: str = ROOT):
    """(exit code, result object or None, diagnostics dict)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    diag = {}
    for ln in p.stderr.splitlines():
        if ln.startswith("perfbench {"):
            diag.update(json.loads(ln[len("perfbench "):]))
    return p.returncode, result, diag


def assert_metrics(result: dict, section: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_timed_runs_emit_every_metric_and_repeat(workload):
    digests = []
    for _ in range(2):
        rc, result, diag = run_bench(workload, 3, 0)
        assert rc == 0
        assert_metrics(result, "end_to_end")
        assert all(result["metrics"][m["name"]]["value"] > 0
                   for m in SPEC["end_to_end"])
        digests.append(diag["digest"])
    assert digests[0] and digests[0] == digests[1]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_metric(workload):
    rc, result, diag = run_bench(workload, 3, 1)
    assert rc == 0
    assert_metrics(result, "per_layer")
    m = {n: v["value"] for n, v in result["metrics"].items()}
    assert m["spark.executions"] >= 1 and m["spark.jobs"] >= 1
    assert m["trace.overhead_ratio"] > 0
    if workload == "ingest_redump":
        assert m["corpus.pipeline.passes"] >= 1
        assert m["io.iceberg.files"] >= 2
        assert m["io.warc.rows_out"] > 0
    else:
        assert m["analyzer.self_s"] > 0 and m["matcher.fields_labeled"] > 0


def test_dump_writer_matches_write_warc_shards(tmp_path):
    """The benchmark's plain-Python WARC writer gives the bytes of the
    program's own distributed writer, at 1 and at nproc partitions."""
    import pandas as pd

    import inputs
    from metacrafter_spark.corpus.webpages import SCHEMA, make_doc
    from metacrafter_spark.io.warc import write_warc_shards
    from metacrafter_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = ROOT  # the Python workers import make_doc
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    ids = range(5, 45)
    inputs.write_dump(ids, 3, str(tmp_path / "plain"), nproc)
    spark = get_spark(app_name="perfbench-selftest", cores=nproc,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        def gen(batches):
            for b in batches:
                yield pd.DataFrame([make_doc(int(i), 3) for i in b["id"]])

        for parts in (1, nproc):
            out = tmp_path / f"spark-{parts}"
            out.mkdir()
            pages = spark.range(ids.start, ids.stop, 1, parts) \
                .mapInPandas(gen, SCHEMA)
            write_warc_shards(pages, str(out), nproc).collect()
            names = sorted(os.listdir(out))
            assert names == sorted(os.listdir(tmp_path / "plain"))
            _, mismatch, errors = filecmp.cmpfiles(
                out, tmp_path / "plain", names, shallow=False)
            assert not mismatch and not errors
    finally:
        spark.stop()


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, result, _ = run_bench(WORKLOADS[0], 1, 0, cwd=str(tmp_path))
    assert rc != 0 and result is None
