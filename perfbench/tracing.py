"""Spans, Spark counters and memory sampling for the benchmark.

Every span is recorded by the benchmark's own code around a call into
one of the engine's public functions; nothing inside the engine is
instrumented.  Spans stay in memory and are written out when the run
ends.  Spark counters (status store, executed-plan SQL metrics, codegen
compile time) are read only in a traced run, after each operation's
span has closed, so their cost never lands inside that span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op id)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, span_name: str, calls: dict) -> None:
        """Replace ``module.attr`` with a version that records a span and
        counts its calls (traced runs only)."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            calls[span_name] = calls.get(span_name, 0) + 1
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def totals(self, skip: tuple[str, ...] = ()) -> tuple[dict[str, float], dict[str, float]]:
        """Total and self time per span name, leaving out every span under
        a top-level span named in ``skip``.  Self time is a span's
        duration minus the part of it that its children cover (children
        never overlap: one client thread)."""
        top: list[str] = []
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:  # a parent always precedes its children
            top.append(s["name"] if s["parent"] is None else top[s["parent"]])
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        total: dict[str, float] = defaultdict(float)
        self_t: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if top[i] in skip:
                continue
            d = s["end"] - s["start"]
            total[s["name"]] += d
            self_t[s["name"]] += d - child_time[i]
        return total, self_t

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


# Executed-plan node names whose work runs in Python workers.
_PYTHON_NODES = ("Python", "Pandas", "InArrow")


class SparkCounters:
    """Per-operation Spark counters, read after the operation returned.

    Jobs are attributed through the session tag the benchmark sets
    around each operation (``SparkSession.addTag``); the status store
    then gives stage totals, and the executed plan gives scan, Python
    and row-count metrics."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self._codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.cores = sc.defaultParallelism
        self.totals: dict[str, float] = defaultdict(float)
        self._last_job = -1
        self._compile_ns = self._codegen.compileTime()

    def _stage(self, sid: int):
        store = self._sc.statusStore()
        gw = self._gw
        data = store.stageData(
            sid, False, gw.jvm.java.util.ArrayList(), False, gw.new_array(gw.jvm.double, 0)
        )
        return data.apply(data.size() - 1) if data.size() else None

    def read(self, tag: str, wall_s: float, plans=()) -> None:
        """Add the counters of every job tagged ``tag`` and of the given
        executed plans (py4j ``SparkPlan`` objects) to the totals."""
        self._sc.listenerBus().waitUntilEmpty()
        t = self.totals
        ns = self._codegen.compileTime()
        t["spark.codegen.compile_s"] += (ns - self._compile_ns) / 1e9
        self._compile_ns = ns
        jobs = self._sc.statusStore().jobsList(None)
        suffix = f"-{tag}"
        run_ms = 0
        newest = self._last_job
        for i in range(jobs.size()):  # newest job first
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            if not any(x.endswith(suffix) for x in job.jobTags().mkString("\n").split("\n")):
                continue
            t["spark.exec.jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                st = self._stage(sids.apply(k))
                if st is None or st.numCompleteTasks() == 0:
                    continue  # skipped stage (shuffle output reused)
                t["spark.exec.stages"] += 1
                t["spark.exec.tasks"] += st.numCompleteTasks()
                run_ms += st.executorRunTime()
                t["spark.exec.cpu_s"] += st.executorCpuTime() / 1e9
                t["spark.exec.gc_s"] += st.jvmGcTime() / 1e3
                t["spark.shuffle.write_bytes"] += st.shuffleWriteBytes()
                t["spark.shuffle.read_bytes"] += st.shuffleReadBytes()
                t["spark.shuffle.records_written"] += st.shuffleWriteRecords()
                t["spark.shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                t["spark.mem.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                t["spark.mem.peak_execution_bytes"] = max(
                    t["spark.mem.peak_execution_bytes"], st.peakExecutionMemory()
                )
        self._last_job = newest
        t["spark.exec.run_s"] += run_ms / 1e3
        t["spark.exec.core_idle_s"] += max(0.0, wall_s * self.cores - run_ms / 1e3)
        for plan in plans:
            self._plan_metrics(plan)

    def _plan_metrics(self, plan) -> None:
        t = self.totals
        stack = [plan]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            metrics = node.metrics()

            def m(key: str) -> int:
                return metrics.apply(key).value() if metrics.contains(key) else 0

            if name.startswith(("Scan ", "FileScan", "BatchScan")):
                t["spark.scan.rows"] += m("numOutputRows")
                t["spark.scan.files"] += m("numFiles")
                t["spark.scan.bytes"] += m("filesSize")
            if any(p in name for p in _PYTHON_NODES):
                t["spark.python.rows_received"] += m("pythonNumRowsReceived")
                t["spark.python.bytes_sent"] += m("pythonDataSent")
                t["spark.python.bytes_received"] += m("pythonDataReceived")
                kids = node.children()
                for i in range(kids.size()):
                    km = kids.apply(i).metrics()
                    if km.contains("numOutputRows"):
                        t["spark.python.rows_sent"] += km.apply("numOutputRows").value()
            if name.startswith("Reused"):
                continue  # its subtree's metrics belong to the original
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
            subs = node.subqueries()
            stack.extend(subs.apply(i) for i in range(subs.size()))


def plan_metric(plan, predicate, metric: str) -> int:
    """Sum of SQL metric ``metric`` over the executed-plan nodes whose
    one-line description satisfies ``predicate``."""
    total = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        if metrics.contains(metric) and predicate(node.simpleString(100)):
            total += metrics.apply(metric).value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


def proc_tree() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> resident pages) from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        pid = int(entry)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21])
    return children, rss


def descendants(pid: int, children: dict[int, list[int]]) -> set[int]:
    out, todo = set(), [pid]
    while todo:
        for kid in children.get(todo.pop(), ()):
            out.add(kid)
            todo.append(kid)
    return out


def descendant_rss_mb(pid: int) -> float:
    """Resident memory of every descendant of ``pid`` (the JVM and its
    Python workers, for the benchmark process), in MB."""
    children, rss = proc_tree()
    pages = sum(rss.get(p, 0) for p in descendants(pid, children))
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak resident memory of the processes ``pid`` started (the JVM
    and its Python workers), sampled on a background thread."""

    PERIOD_S = 0.2

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendant_rss_mb(self.pid))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, descendant_rss_mb(self.pid))
