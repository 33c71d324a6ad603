#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive_sf0.1 --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root.  Prints a human-readable summary and, as
the last line of stdout, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` when ``--trace 0``, its per-layer metrics when
``--trace 1``.  Everything the run writes (Spark warehouse, shuffle
files, generated inputs, span files) stays under ``.perfbench_work/``
in the repository root; the per-run part is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import workloads
from tracing import RssSampler, descendants, proc_tree

WORK_DIR = ".perfbench_work"
# The last stdout line is parsed by a reader with a bounded buffer: a
# line that would not fit is an error, never a silently cut line.
MAX_RESULT_LINE = 8000

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
}

# Per-layer metrics and their units.  Set-up layers are per run; every
# other counter is per timed operation (query or dump cycle), so runs
# that complete a different number of operations stay comparable.
SETUP_LAYERS = {
    "session.get_spark_s": "s",
    "queries.registry.load_all_s": "s",
    "functions.register_all_s": "s",
    "functions.registered": "count",
    "catalog.register_tables_s": "s",
    "operators.incremental.persist_prior_index_s": "s",
}
OP_LAYERS = {
    "queries.build_s": "s",
    "dialect.transpile_s": "s",
    "dialect.calls": "count",
    "engine.sql_s": "s",
    "spark.plan_s": "s",
    "spark.execute_fetch_s": "s",
    "spark.catalyst.analysis_s": "s",
    "spark.catalyst.optimization_s": "s",
    "spark.catalyst.planning_s": "s",
    "spark.codegen.compile_s": "s",
    "spark.scan.rows": "count",
    "spark.scan.bytes": "bytes",
    "spark.scan.files": "count",
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.run_s": "s",
    "spark.exec.cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.core_idle_s": "s",
    "spark.shuffle.write_bytes": "bytes",
    "spark.shuffle.read_bytes": "bytes",
    "spark.shuffle.records_written": "count",
    "spark.shuffle.fetch_wait_s": "s",
    "spark.python.rows_sent": "count",
    "spark.python.rows_received": "count",
    "spark.python.bytes_sent": "bytes",
    "spark.python.bytes_received": "bytes",
    "spark.mem.spill_bytes": "bytes",
    "operators.incremental.probe_s": "s",
    "operators.incremental.append_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "trace.op_self_s": "s",
}
RUN_LAYERS = {
    "mem.peak_rss_mb": "MB",
    "spark.scan.rows_per_result_row": "ratio",
    "spark.mem.peak_execution_bytes": "bytes",
    "operators.lsh_probe_yield": "ratio",
    "sources.bytes_written_per_doc": "bytes",
    "catalog.index_files": "count",
    "catalog.index_bytes_per_doc": "bytes",
    "trace.collect_s": "s",
    "trace.top_level_share": "ratio",
}
PER_LAYER = {**SETUP_LAYERS, **OP_LAYERS, **RUN_LAYERS}
# span name -> per-layer metric (the metric is the spans' total time)
SPAN_METRICS = {
    "session.get_spark": "session.get_spark_s",
    "queries.registry.load_all": "queries.registry.load_all_s",
    "functions.register_all": "functions.register_all_s",
    "catalog.register_tables": "catalog.register_tables_s",
    "operators.incremental.persist_prior_index": "operators.incremental.persist_prior_index_s",
    "queries.build": "queries.build_s",
    "dialect.transpile": "dialect.transpile_s",
    "engine.sql": "engine.sql_s",
    "spark.plan": "spark.plan_s",
    "spark.execute_fetch": "spark.execute_fetch_s",
    "operators.incremental.probe": "operators.incremental.probe_s",
    "operators.incremental.append": "operators.incremental.append_s",
}
TOP_OPS = ("query", "dump_cycle")  # spans of one timed operation


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot: the steal share of a run shows
    how much of it the host gave to other tenants."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def isolate_environment(run_dir: str) -> dict:
    """Run the engine on its defaults: no SPARK_GRAFT_* toggle from the
    caller's environment, the core count from the CPUs this process may
    use, and every file Spark or Python writes inside ``run_dir``."""
    dropped = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in dropped:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    for name in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, name))
    # shuffle/spill/block files (this variable takes precedence over
    # spark.local.dir) and Python temp files
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    # the session warehouse defaults to ./spark-warehouse
    os.chdir(run_dir)
    return {"dropped_env": dropped}


def shutdown_spark(timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid(), proc_tree()[0])
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def layer_metrics(run: workloads.Run, wall_s: float) -> dict[str, float]:
    """Per-layer values from the spans and Spark counters of a traced run."""
    # spans of the correctness check are not part of any layer's figure
    total, self_t = run.tracer.totals(skip=("check",))
    ops = max(1, len(run.latencies))
    out = {name: 0.0 for name in PER_LAYER}
    for span_name, metric in SPAN_METRICS.items():
        out[metric] = total[span_name]
    out["trace.op_self_s"] = sum(self_t[name] for name in TOP_OPS)
    c = run.counters.totals
    for k in OP_LAYERS:
        if k in c:
            out[k] = c[k]
    out["dialect.calls"] = run.calls.get("dialect.transpile", 0)
    out.update(run.layer)
    for k in OP_LAYERS:
        out[k] = out[k] / ops
    out["spark.scan.rows_per_result_row"] = c.get("spark.scan.rows", 0) / max(
        1, c.get("spark.result.rows", 0)
    )
    out["spark.mem.peak_execution_bytes"] = c.get("spark.mem.peak_execution_bytes", 0)
    if c.get("operators.lsh_band_rows_probed"):
        out["operators.lsh_probe_yield"] = (
            c["operators.lsh_accepted_pairs"] / c["operators.lsh_band_rows_probed"]
        )
    out["trace.collect_s"] = total["trace.collect"]
    covered = sum(s["end"] - s["start"] for s in run.tracer.spans if s["parent"] is None)
    out["trace.top_level_share"] = covered / wall_s
    return out


def end_to_end_metrics(run: workloads.Run) -> dict[str, float]:
    setup = next(s for s in run.tracer.spans if s["name"] == "setup")
    return {
        "setup_s": setup["end"] - setup["start"],
        "latency_p50_s": statistics.median(run.latencies),
        "ops_per_s": len(run.latencies) / run.timed_s,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "presto_copy_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root (presto_copy_spark/ not found here)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    from presto_copy_spark.catalog import default_sf_dir

    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    sf_dir = default_sf_dir()
    if not os.path.isfile(os.path.join(sf_dir, "documents.parquet")):
        print(f"perfbench: sf0.1 fixtures not found at {sf_dir}", file=sys.stderr)
        return 2

    work = os.path.join(root, WORK_DIR)
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    for name in os.listdir(runs):  # left behind by a killed run
        if not os.path.exists(f"/proc/{name.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    host = {"nproc": nproc(), "load1_start": os.getloadavg()[0]}
    ticks0 = cpu_ticks()
    run = workloads.Run(
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        sf_dir=sf_dir,
        cache_dir=os.path.join(work, "inputs"),
    )
    try:
        host.update(isolate_environment(run_dir))
        host["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_CPUS"]
        t0 = time.perf_counter()
        try:
            rss = RssSampler(os.getpid())
            if run.traced:
                with rss:
                    workloads.WORKLOADS[args.workload](run)
            else:
                workloads.WORKLOADS[args.workload](run)
            wall_s = time.perf_counter() - t0
        finally:
            shutdown_spark()
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    host["load1_end"] = os.getloadavg()[0]
    ticks1 = cpu_ticks()
    host["steal_share"] = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

    if args.trace:
        metrics = layer_metrics(run, wall_s)
        metrics["mem.peak_rss_mb"] = rss.peak_mb
        units = PER_LAYER
    else:
        metrics = end_to_end_metrics(run)
        units = END_TO_END
    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run.tracer.write(os.path.join(work, "traces", f"{tag}.json"))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "samples": len(run.latencies),
        "failures": run.failures,
        "extra": run.extra,
        "end_to_end": end_to_end_metrics(run),
        "metrics": metrics,
    }
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}:"
        f" correct={not failed} attempted={attempted} failed={failed}"
        f" failed_fraction={failed / attempted:.4f}"
    )
    for name, why in sorted(run.failures.items()):
        print(f"  FAILED {name}: {why}")
    print(
        f"  samples={len(run.latencies)} timed_s={run.timed_s:.3f}"
        f" {run.extra['rate_name']}={run.extra['rate']:.4f}"
        + (
            f" index_bytes_per_doc={run.extra['index_bytes_per_doc']:.1f}"
            if "index_bytes_per_doc" in run.extra
            else ""
        )
    )
    print(
        f"  host nproc={host['nproc']} SPARK_GRAFT_CPUS={host['SPARK_GRAFT_CPUS']}"
        f" load1 start={host['load1_start']:.2f} end={host['load1_end']:.2f}"
        f" steal_share={host['steal_share']:.3f}"
        f" dropped_env={host['dropped_env']}"
    )
    for name, value in metrics.items():
        print(f"  {name:<44} {value:>16.6g} {units[name]}")
    line = json.dumps(
        {
            "correct": not failed,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
        separators=(",", ":"),
    )
    if len(line) > MAX_RESULT_LINE:
        print(
            f"perfbench: result line is {len(line)} chars, over {MAX_RESULT_LINE}",
            file=sys.stderr,
        )
        return 3
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
