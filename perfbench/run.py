"""Benchmark of the metacrafter_spark CLI, one workload per process.

    python3 perfbench/run.py --workload ingest_redump --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The process starts one
``local[nproc/2]`` Spark session, generates the workload's seeded inputs
under ``.perfbench/`` (deleted on exit), warms the CLI path up once,
then makes timed CLI calls until ``--seconds`` of them have run, and
checks each call's output.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones in
BENCHMARK.json; with ``--trace 1`` one more call runs with spans
around each layer, and the metrics are the per-layer ones.
Diagnostics (per-call times, steal, digests) go to standard error.

See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
# The driver JVM's JIT and heap are fixed so that a timed call measures
# the program, not how far the JVM has got in warming up:
# * C1 only: with C2 on, calls kept falling for many calls after the
#   warm-up (scan-file: 31, 25, 20, 19 CPU-s), by as much as C2's
#   compile threads had been given CPU; with C1 they are flat after it.
#   C1 alone defaults to a 48 MB code cache, which a warc-ingest call
#   (about 140 freshly generated classes) overflows: the sweeper then
#   flushes compiled code, and a later call spent 8 CPU-s more
#   recompiling it.  So the cache keeps the size it has with C2 on.
# * A heap of fixed size, touched at start: the JVM's RSS otherwise
#   followed G1's heap sizing (1.10 and 1.53 GB in two runs of the same
#   input).  Pre-touched, it is a constant, and peak_rss_mb moves with
#   what the program holds beyond it: Python driver and workers, and
#   the JVM's off-heap memory.
JAVA_OPTS = (f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
             f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
ISOLATE_REPS = 2


def spark_cores(nproc: int) -> int:
    """Task slots: half the CPUs.  The JVM's own threads, the Python
    driver and the Python workers need the rest; with local[nproc] they
    queue behind the tasks, and calls measured the scheduler."""
    return max(1, nproc // 2)


def _log(**kv) -> None:
    print("perfbench " + json.dumps(kv, default=str), file=sys.stderr,
          flush=True)


def _environment(work: str, cores: int) -> None:
    """Everything Spark and its Python workers read at start-up."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        # workers import metacrafter_spark from this checkout
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        # the session's default (24g) is more than a small box has
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # read by get_spark on every CLI call, so it stays fixed
        "SPARK_SHUFFLE_PARTITIONS": str(cores),
        # the key stores' own sizing rule (bytes / 128 MB) gives 1 here
        "MC_KEYSTORE_BUCKETS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })


def _session(work: str, cores: int):
    from metacrafter_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(app_name="perfbench", cores=cores,
                      shuffle_partitions=cores, extra_conf={
                          "spark.sql.warehouse.dir":
                              os.path.join(work, "warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} "
                              + JAVA_OPTS,
                          "spark.ui.showConsoleProgress": "false",
                          "spark.ui.retainedJobs": "100000",
                          "spark.ui.retainedStages": "100000",
                          "spark.sql.ui.retainedExecutions": "100000",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed_call(wl, call, root_pid: int) -> dict:
    from probes import PeakRss, cpu_ticks, tree_cpu_s

    steal0, total0 = cpu_ticks()
    cpu0 = tree_cpu_s(root_pid)
    with PeakRss(root_pid) as rss:
        t = time.perf_counter()
        summary = wl.invoke(call)
        wall = time.perf_counter() - t
    cpu = tree_cpu_s(root_pid) - cpu0
    steal1, total1 = cpu_ticks()
    return {"summary": summary, "wall_s": wall, "cpu_s": cpu,
            "peak_rss_mb": rss.peak / 1e6,
            "steal": (steal1 - steal0) / max(total1 - total0, 1)}


def _checked(wl, call, summary: dict, expected: dict | None) -> tuple:
    """(digest, problems), with the pinned digest compared if any."""
    dg, problems = wl.check(call, summary)
    if expected is not None and dg != expected:
        problems.append(f"digest {dg} != pinned {expected}")
    return dg, problems


def bench(args, spec: dict, work: str) -> dict:
    import workloads
    from probes import StatusStores, host_ref_s, process_uptime_s

    nproc = len(os.sched_getaffinity(0))
    cores = spark_cores(nproc)
    _environment(work, cores)
    excluded = 0.0  # input generation and per-call preparation
    spark = _session(work, cores)
    session_s = process_uptime_s()
    ctx = workloads.Ctx(spark, ROOT, work, args.seed, nproc, args.scale)
    wl = workloads.WORKLOADS[args.workload](ctx)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    excluded += gen_s

    from metacrafter_spark.rules.model import load_builtin_pack

    t = time.perf_counter()
    load_builtin_pack()
    rules_load_s = time.perf_counter() - t
    wl.setup()

    with open(os.path.join(HERE, "expected.json")) as f:
        pinned = json.load(f).get(wl.name, {}).get(args.scale, {})
    expected = pinned.get(str(args.seed))

    calls, digests, failed, host_ref = [], [], 0, []
    elapsed = 0.0
    setup_s = None
    root_pid = os.getpid()
    while not digests or elapsed < args.seconds:
        t = time.perf_counter()
        call = wl.prepare(len(digests))
        host_ref.append(host_ref_s())
        excluded += time.perf_counter() - t
        if setup_s is None:
            setup_s = process_uptime_s() - excluded
        try:
            m = _timed_call(wl, call, root_pid)
            dg, problems = _checked(wl, call, m["summary"], expected)
            calls.append(m)
            elapsed += m["wall_s"]
        except Exception as e:  # counts as failed; stop timing
            dg, problems = "", [repr(e)]
            elapsed = args.seconds
        shutil.rmtree(call.dir, ignore_errors=True)
        digests.append(dg)
        if problems:
            failed += 1
            _log(call=len(digests) - 1, problems=problems)
    attempted = len(digests)
    if len(set(digests)) > 1:
        failed = attempted  # the same input gave different outputs
        _log(problems=["digests differ between calls"])
    walls = [c["wall_s"] for c in calls]
    _log(workload=wl.name, seed=args.seed, rows=wl.rows, gen_s=gen_s,
         session_s=session_s, setup_s=setup_s, rules_load_s=rules_load_s,
         walls=walls, drift=walls[-1] / walls[0] if walls else None,
         cpus=[c["cpu_s"] for c in calls],
         rss_mb=[c["peak_rss_mb"] for c in calls],
         steal=[c["steal"] for c in calls], host_ref_s=host_ref,
         digest=digests[0],
         pinned=expected is not None)
    if not calls:
        return {"correct": False, "attempted": attempted, "failed": failed,
                "metrics": {}}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed}
    if not args.trace:
        wall = statistics.median(walls)
        values = {
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "cpu_s": statistics.median(c["cpu_s"] for c in calls),
            "peak_rss_mb": statistics.median(c["peak_rss_mb"] for c in calls),
            "setup_s": setup_s,
        }
        section = "end_to_end"
    else:
        values = traced(wl, spark, StatusStores(spark), args, walls,
                        rules_load_s, expected)
        if values.pop("_failed"):
            result.update(correct=False, failed=result["failed"] + 1)
        result["attempted"] += 1
        section = "per_layer"
    units = {m["name"]: m["unit"] for m in spec[section]}
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {unknown}")
    # a layer this workload does not run did no work: 0
    result["metrics"] = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                         for n, u in units.items()}
    return result


def traced(wl, spark, stores, args, walls, rules_load_s, expected) -> dict:
    """One more CLI call with a span around each layer's public
    functions, then the noop-sink isolation of the lazy stages."""
    from spans import Tracer

    tr = Tracer(spark, f"{wl.name}-{args.seed}-{os.getpid()}")
    call = wl.prepare("traced")
    for target in wl.TRACE:
        tr.wrap("metacrafter_spark." + target, target)
    mark = stores.mark()
    compiles = stores.codegen_compiles()
    try:
        with tr.span("cli.main") as root:
            summary = wl.invoke(call)
    finally:
        tr.unwrap_all()
    compiles = stores.codegen_compiles() - compiles
    execs = stores.executions_after(mark[0])
    stages = stores.stages_after(mark[2])
    jobs = stores.jobs_after(mark[1])
    _, problems = _checked(wl, call, summary, expected)
    if problems:
        _log(call="traced", problems=problems)
    iso = wl.isolate(ISOLATE_REPS)
    values = wl.layers(tr, execs, stages, summary, call, iso)
    shutil.rmtree(call.dir)
    exec_s = sum(e.duration_s for e in execs)
    values.update({
        "rules.load_s": rules_load_s,
        "spark.executions": len(execs),
        "spark.jobs": jobs,
        "spark.codegen_compiles": compiles,
        "spark.exec_s": exec_s,
        "spark.driver_s": root.duration - exec_s,
        "spark.task_s": sum(s.run_s for s in stages),
        "spark.task_cpu_s": sum(s.cpu_s for s in stages),
        "spark.shuffle_write_mb": sum(s.shuffle_write_b for s in stages) / 1e6,
        "spark.spill_mb": sum(s.spill_b for s in stages) / 1e6,
        "trace.unattributed_s": root.self_s,
        "trace.overhead_ratio": root.duration / statistics.median(walls),
    })
    spans = os.path.join(ROOT, ".perfbench",
                         f"spans-{wl.name}-{args.seed}.json")
    tr.dump(spans)
    _log(spans=spans, traced_wall_s=root.duration)
    values["_failed"] = bool(problems)
    return values


def _stop_spark() -> None:
    """Stop the session, then end the JVM and wait for it to exit: it
    exits when its stdin pipe closes, and it stops the Python workers."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    needed = [os.path.join(ROOT, "metacrafter_spark", "__init__.py"),
              os.path.join(ROOT, "tests", "fixtures_gen.py"), spec_path]
    missing = [n for n in needed if not os.path.isfile(n)]
    if missing:
        print(f"perfbench: not a metacrafter_spark checkout, missing "
              f"{missing}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = bench(args, spec, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
