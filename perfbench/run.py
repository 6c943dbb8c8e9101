"""spark-fts benchmark: one workload, one seed, one Spark driver on
local[nproc] with one closed-loop client.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints each metric by name and unit, the
run conditions, and as its last line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  Exits non-zero
without a result when the engine is not beside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build_stemmed", "search")

# name -> unit; BENCHMARK.json declares the same sets
END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
    "index_bytes_per_source_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.corpus_s": "s",
    "analysis.default_tokens_per_s": "1/s",
    "analysis.snowball_tokens_per_s": "1/s",
    "index.invert_s": "s",
    "index.merge_s": "s",
    "index.segment_rows": "count",
    "index.postings_bytes": "bytes",
    "index.cache_mb": "MB",
    "index.build_jobs": "count",
    "index.build_stages": "count",
    "index.build_tasks": "count",
    "index.term_dfs_ms": "ms",
    "index.decode_rare_ms": "ms",
    "index.decode_common_ms": "ms",
    "index.update_ms_p50": "ms",
    "index.update_late_over_early": "ratio",
    "index.expunge_ms_p50": "ms",
    "index.segments_after": "count",
    "index.tombstones_after": "count",
    "index.expunge_rows_rewritten": "count",
    "queryparser.parse_us_p50": "us",
    "plans.lower_ms_p50": "ms",
    "plans.execute_ms_p50": "ms",
    "plans.jobs_per_query": "count",
    "plans.stages_per_query": "count",
    "plans.tasks_per_query": "count",
    "plans.term_rare.jobs_per_query": "count",
    "search.term_rare.ms_p50": "ms",
    "search.term_common.ms_p50": "ms",
    "search.and2.ms_p50": "ms",
    "search.or3.ms_p50": "ms",
    "search.phrase2.ms_p50": "ms",
    "search.prefix.ms_p50": "ms",
    "search.fuzzy.ms_p50": "ms",
    "trace.overhead_ratio": "ratio",
    "host.peak_rss_mb": "MB",
    "host.cotenant_cpu_share": "ratio",
    "host.loadavg_1m": "load",
    "run.failed_frac": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test input sizes")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark and its workers write under `work`, and make
    the engine importable by the Python workers as well as the driver."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override the above
    # every JVM (the launcher's too): temp files under `work`, and no
    # hsperfdata file, which the JVM always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lucenenet_spark")):
        print(f"perfbench: no lucenenet_spark package in {ROOT}; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    import procs
    procs.become_subreaper()
    procs.exit_on_signals()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _environment(work)
    try:
        rc = _run(a)
    finally:
        # every path out: no process of this run outlives it
        left = procs.stop_tree()
        shutil.rmtree(work, ignore_errors=True)
        try:  # the parent too, unless a concurrent run still uses it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if left:
        print(f"perfbench: processes {left} did not stop", file=sys.stderr)
        return 4
    return rc


def _run(a) -> int:
    import gen
    import host
    import procs
    import workloads

    window = host.RunWindow()
    t0 = time.perf_counter()
    from lucenenet_spark.session import get_spark
    nproc = os.cpu_count() or 1
    spark = get_spark("perfbench", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        files = (gen.TINY if a.tiny else gen.FILES)[a.workload]
        run = workloads.Run(spark, a.seed, a.seconds, files, a.trace == 1)
        if a.workload == "build_stemmed":
            e2e = run.run_build_stemmed()
        else:
            e2e = run.run_search()
        # before stop: stopping kills the pyspark daemon, and its workers'
        # CPU would leave this process tree
        cond = window.close()
    finally:
        procs.stop_spark(spark)

    e2e["setup_s"] = start_s + run.setup_s
    run.layer["session.start_s"] = start_s
    run.layer["host.peak_rss_mb"] = cond["peak_rss_mb"]
    run.layer["host.cotenant_cpu_share"] = cond["cotenant_cpu_share"]
    run.layer["host.loadavg_1m"] = cond["loadavg_1m"]
    run.layer["run.failed_frac"] = run.failed / max(run.attempted, 1)

    declared = PER_LAYER if a.trace else END_TO_END
    got = run.layer if a.trace else e2e
    if set(got) != set(declared):
        print(f"perfbench: metric set mismatch: missing "
              f"{sorted(set(declared) - set(got))}, extra "
              f"{sorted(set(got) - set(declared))}", file=sys.stderr)
        return 3
    # a figure with no sample behind it (every operation of its kind
    # raised) prints as 0; on an end-to-end metric it fails the run
    missing = [k for k in declared if not math.isfinite(got[k])]
    metrics = {k: {"value": float(got[k]) if k not in missing else 0.0,
                   "unit": declared[k]} for k in declared}
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} "
          f"trace {a.trace}")
    for k, m in metrics.items():
        print(f"  {k:36s} {m['value']:.6g} {m['unit']}")
    for cls, ts in run.by_class.items():
        print(f"class {cls:12s} n={len(ts)} "
              f"p50={workloads.median(ts) * 1e3:.1f}ms")
    for name, count, total, own in run.tr.summary():
        print(f"span {name:28s} n={count:<4d} total={total:.3f}s "
              f"self={own:.3f}s")
    for err in run.errors:
        print(f"failure: {err}")
    print("run_conditions " + json.dumps(cond))
    correct = (run.wrong == 0 and run.loop_failed == 0
               and (a.trace == 1 or not missing))
    print(json.dumps({"correct": correct,
                      "attempted": run.attempted,
                      "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
