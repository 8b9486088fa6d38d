"""Spans around the benchmark's calls into the engine, with Spark's job,
stage and SQL metrics attributed to them.

A span records name, start, end, parent and op id. While a span is open
its id is the SparkContext job group, so every Spark job the engine
starts inside it can be found again through the status store. Spans are
kept in memory; the run writes them out once at the end.

With tracing off, :meth:`Tracer.span` only yields: no job group, no
clock reads, no status-store queries.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = {
    "spark.tasks": lambda d: d.numCompleteTasks(),
    "spark.run_s": lambda d: d.executorRunTime() / 1e3,
    "spark.cpu_s": lambda d: d.executorCpuTime() / 1e9,
    "spark.gc_s": lambda d: d.jvmGcTime() / 1e3,
    "spark.input_bytes": lambda d: d.inputBytes(),
    "spark.shuffle_read_bytes": lambda d: d.shuffleReadBytes(),
    "spark.shuffle_write_bytes": lambda d: d.shuffleWriteBytes(),
    "spark.spill_bytes": lambda d: d.memoryBytesSpilled() + d.diskBytesSpilled(),
}

# (per-layer metric, SQL metric name, plan-node name filter or None)
SQL_FIELDS = [
    ("operators.python_bytes_sent", "data sent to Python workers", None),
    ("operators.python_rows_returned", "number of output rows", re.compile(r"Python|InPandas|InArrow")),
    ("operators.broadcast_build_ms", "time to build", None),
    ("operators.agg_time_ms", "time in aggregation build", None),
    ("operators.sort_time_ms", "sort time", None),
    ("operators.peak_memory_bytes", "peak memory", None),
]

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_sql_metric(text: str) -> float:
    """The total of a formatted SQL metric: ``'1,234'``, ``'8.0 MiB'``
    or ``'total (min, med, max ...)\\n2.6 s (...)'``. Sizes come back in
    bytes and timings in milliseconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    parts = line.split()
    value = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    return value * _UNITS.get(unit, 1)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._next = 0
        self._seen_stages: set[int] = set()
        self._seen_exec = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        parent = self._stack[-1] if self._stack else None
        sp = {"id": self._next, "name": name, "op": self.op,
              "parent": parent["id"] if parent else None,
              "group": f"perfbench-{self._next}"}
        self._next += 1
        if sc is not None:
            sc.setJobGroup(sp["group"], name, False)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent:
                    sc.setJobGroup(parent["group"], parent["name"], False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    @contextmanager
    def paused(self):
        """No spans inside: for untimed warm-up and checks."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def collect(self, spans: list[dict]) -> None:
        """Attach Spark job, stage and SQL metrics to ``spans`` (each
        span's own job group only). Call after the op, outside any
        timing: it waits for the listener bus to drain."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), sc.statusTracker()
        empty_list = sc._jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(sc._jvm.double, 0)
        job_to_span: dict[int, dict] = {}
        for sp in spans:
            m = sp["metrics"] = defaultdict(float)
            sp["jobs"] = []
            for j in sorted(tracker.getJobIdsForGroup(sp["group"])):
                jd = store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp["jobs"].append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                job_to_span[j] = sp
                m["spark.jobs"] += 1
                for s in tracker.getJobInfo(j).stageIds:
                    if s in self._seen_stages:
                        continue
                    self._seen_stages.add(s)
                    seq = store.stageData(s, False, empty_list, False, no_q)
                    for i in range(seq.size()):
                        d = seq.apply(i)
                        if d.status().toString() != "COMPLETE":
                            continue
                        m["spark.stages"] += 1
                        for key, get in STAGE_FIELDS.items():
                            m[key] += get(d)
        self._collect_sql(job_to_span)
        for sp in spans:
            sp["metrics"] = dict(sp["metrics"])

    def _collect_sql(self, job_to_span: dict[int, dict]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            self._seen_exec = eid
            owner = next((sp for j, sp in job_to_span.items() if e.jobs().contains(j)), None)
            if owner is None:
                continue
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    for key, metric, node_re in SQL_FIELDS:
                        if pm.name() != metric or (node_re and not node_re.search(node.name())):
                            continue
                        v = values.get(pm.accumulatorId())
                        if v.isDefined():
                            owner["metrics"][key] += parse_sql_metric(v.get())


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part its direct children cover."""
    out = {sp["id"]: sp["end"] - sp["start"] for sp in spans}
    for sp in spans:
        if sp["parent"] is not None and sp["parent"] in out:
            out[sp["parent"]] -= sp["end"] - sp["start"]
    return out


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
