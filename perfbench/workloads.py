"""The workloads: what each request or cycle does, and how it is timed
and checked.

A request is timed the way a user pays for it: build the DataFrame from
the catalog, then materialize every column into a ``noop`` sink. A
lakehouse cycle appends a Bronze batch, merges a changeset into Silver
and materializes a Gold aggregate of the new Silver snapshot. One client
runs a closed loop: the next request starts when the previous one ends.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import gen
from check import Oracle, replay_silver, same_rows
from tracing import Tracer

# Read-only catalog requests: KQL translation, Catalyst planning, scans,
# joins and shuffles (q5, kql_*), Python/Arrow workers (kql_scan_funnel)
# and a driver-side loop of eager Spark jobs (sim_semantic_dedup).
QUERY_MIX = [
    "q5_revenue_by_nation", "kql_ipv6_ops", "kql_scan_funnel", "sim_semantic_dedup",
]

# Input sizes. Star schema at this scale factor (60k lineitem rows,
# 10k events); corpus of 500 documents and 300 embeddings; lakehouse
# Silver dimension, per-cycle changeset and Bronze batch rows.
STAR_SF = 0.01
N_DOCS, N_VECS = 500, 300
DIM_ROWS, CHANGE_ROWS, BRONZE_ROWS = 50_000, 1_000, 10_000
# A lakehouse pass is MAINT_EVERY cycles, the last of which also runs
# maintenance. The untimed warm-up runs WARM_CYCLES cycles, and the
# write/space amplification is counted over exactly those cycles.
MAINT_EVERY, WARM_CYCLES = 3, 6


@dataclass
class Result:
    """One run's outcome. ``ops`` and ``passes`` record whether each was
    traced; end-to-end figures use the untraced ones only."""

    ops: list[tuple[bool, float]] = field(default_factory=list)
    passes: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    per_request: dict = field(default_factory=dict)

    def fail(self, what: str, err) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {str(err)[:300]}")

    def op_times(self) -> list[float]:
        return [t for traced, t in self.ops if not traced]

    def pass_values(self, key: str, traced: bool = False) -> list[float]:
        return [p[key] for p in self.passes if p["traced"] == traced]


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and every live process
    below it (the Spark JVM and its Python workers); the time of
    exited children is included through their parents' counters."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid in cpu:
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += cpu[pid]
    return total / tick


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pass_order(names: list[str], seed: int, n: int) -> list[str]:
    order = list(names)
    random.Random(seed * 7919 + n).shuffle(order)
    return order


def _passes(seconds: float, tracer: Tracer):
    """Yield pass indices (from 1) until ``seconds`` have elapsed. The
    pass running at the deadline completes. A traced run alternates
    untraced and traced passes, starting and ending untraced, so that
    state that grows from pass to pass (lakehouse tables) does not bias
    the tracing overhead."""
    deadline = time.perf_counter() + seconds
    n = 0
    traced = tracer.enabled
    while True:
        n += 1
        if traced:
            tracer.enabled = n % 2 == 0
        yield n
        if time.perf_counter() >= deadline and (not traced or (n >= 3 and n % 2)):
            break
    tracer.enabled = traced


def run_requests(spark, catalog, data_dir: str, names: list[str], seed: int,
                 seconds: float, tracer: Tracer) -> Result:
    res = Result()
    t_warm = time.perf_counter()
    oracle = Oracle(data_dir, names, catalog.ORACLES)
    # untimed warm-up pass: also the output check
    try:
        with tracer.paused():
            for name in _pass_order(names, seed, 0):
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    why = oracle.check(name, catalog.QUERIES[name](spark, data_dir))
                except Exception as e:  # noqa: BLE001 — any engine or oracle error fails the op
                    why = f"error {e}"
                res.extra.setdefault("warmup_per_request_s", {})[name] = time.perf_counter() - t0
                if why:
                    res.fail(name, why)
    finally:
        oracle.close()
    res.extra["warmup_s"] = time.perf_counter() - t_warm

    for n in _passes(seconds, tracer):
        cpu0 = tree_cpu_seconds()
        t_pass = time.perf_counter()
        for name in _pass_order(names, seed, n):
            res.attempted += 1
            tracer.op = res.attempted
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    with tracer.span("catalog.build"):
                        df = catalog.QUERIES[name](spark, data_dir)
                    if tracer.enabled:
                        with tracer.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("spark.exec"):
                        _noop(df)
            except Exception as e:  # noqa: BLE001
                res.fail(name, e)
                continue
            dt = time.perf_counter() - t0
            res.ops.append((tracer.enabled, dt))
            res.per_request.setdefault(name, []).append(dt)
            if tracer.enabled:
                _after_traced_op(spark, tracer, name, df)
        res.passes.append({"traced": tracer.enabled, "wall_s": time.perf_counter() - t_pass,
                           "cpu_s": tree_cpu_seconds() - cpu0})
    return res


def _after_traced_op(spark, tracer: Tracer, name: str, df) -> None:
    """Per-op bookkeeping of a traced op, outside its timing: Spark
    metrics, cache state, and the count() time bench.py would report."""
    from azuredataengineering_deeplearning_spark.operators import dedup

    spans = [sp for sp in tracer.spans if sp["op"] == tracer.op]
    tracer.collect(spans)
    root = next(sp for sp in spans if sp["parent"] is None)
    root["request"] = name
    root["storage_bytes"] = sum(
        i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    root["tracked_caches"] = dedup.tracked_cache_count()
    t0 = time.perf_counter()
    df.count()
    root["count_s"] = time.perf_counter() - t0


# ------------------------------------------------------------- lakehouse


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Lakehouse:
    """Silver dimension + Bronze events under ``work/tables``, driven
    through ``sources.txlog``. Counts parquet bytes written under the
    table directories and the user bytes committed."""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        from azuredataengineering_deeplearning_spark.sources import txlog

        self.spark, self.seed, self.tracer, self.txlog = spark, seed, tracer, txlog
        self.inputs = os.path.join(work, "inputs")
        self.silver = os.path.join(work, "tables", "silver")
        self.bronze = os.path.join(work, "tables", "bronze")
        self.n_keys = DIM_ROWS
        self.next_event = 0
        self.initial = gen.dimension(seed, DIM_ROWS)
        self.changesets: list = []
        self.user_bytes = 0
        self.bytes_written = 0
        self.times: dict[str, list[float]] = {}
        dim = gen.write(self.initial, os.path.join(self.inputs, "dim.parquet"))
        self._commit(dim, lambda df: txlog.overwrite(df, self.silver))

    def _commit(self, src: str, fn) -> None:
        before = _parquet_files(os.path.dirname(self.silver))
        fn(self.spark.read.parquet(src))
        after = _parquet_files(os.path.dirname(self.silver))
        self.bytes_written += sum(s for p, s in after.items() if p not in before)
        self.user_bytes += os.path.getsize(src)

    def _timed(self, name: str, span: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(span):
            out = fn()
        self.times.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def prepare(self, cycle: int) -> tuple[str, str]:
        """Generate (untimed) cycle ``cycle``'s Bronze batch and changeset."""
        br = gen.bronze_batch(self.seed, cycle, self.next_event, BRONZE_ROWS, self.n_keys)
        cs = gen.changeset(self.seed, cycle, self.n_keys, CHANGE_ROWS)
        self.next_event += BRONZE_ROWS
        self.n_keys += CHANGE_ROWS - CHANGE_ROWS * 4 // 5
        self.changesets.append(cs)
        return (gen.write(br, os.path.join(self.inputs, f"bronze_{cycle}.parquet")),
                gen.write(cs, os.path.join(self.inputs, f"changes_{cycle}.parquet")))

    def cycle(self, cycle: int, br: str, cs: str) -> None:
        from pyspark.sql import functions as F

        tx = self.txlog
        self._commit(br, lambda df: self._timed(
            "append", "sources.txlog.append", lambda: tx.append(df, self.bronze)))
        self._commit(cs, lambda df: self._timed(
            "merge", "sources.txlog.merge",
            lambda: tx.merge(self.spark, self.silver, df, ["cust_id"])))

        def gold():
            silver = self._timed(
                "read", "sources.txlog.read", lambda: tx.read(self.spark, self.silver))
            with self.tracer.span("spark.exec"):
                _noop(silver.groupBy("segment").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("balance").alias("balance"),
                    F.max("version").alias("version")))

        self._timed("gold_read", "lakehouse.gold_read", gold)
        if (cycle + 1) % MAINT_EVERY == 0:
            self._timed("maint", "lakehouse.maint", self._maintain)

    def _maintain(self) -> None:
        tx = self.txlog
        for table in (self.silver, self.bronze):
            before = _parquet_files(table)
            self._timed("compact", "sources.txlog.compact", lambda: tx.compact(self.spark, table))
            self.bytes_written += sum(
                s for p, s in _parquet_files(table).items() if p not in before)
            self._timed("checkpoint", "sources.txlog.checkpoint",
                        lambda: tx.checkpoint_log(table))
            self._timed("vacuum", "sources.txlog.vacuum",
                        lambda: tx.vacuum(table, dry_run=False))

    def live_bytes(self) -> tuple[int, int]:
        """(bytes of live snapshot files, live file count) of both tables."""
        total = count = 0
        for table in (self.silver, self.bronze):
            files, _ = self.txlog.snapshot_files(table)
            count += len(files)
            total += sum(os.path.getsize(os.path.join(table, f)) for f in files)
        return total, count

    def check(self) -> str | None:
        """Silver must equal the pandas replay of every changeset so far;
        Bronze must hold every appended event exactly once."""
        got = self.txlog.read(self.spark, self.silver).toPandas()
        why = same_rows(got, replay_silver(self.initial, self.changesets))
        if why:
            return f"silver: {why}"
        n, lo, hi, distinct = self.txlog.read(self.spark, self.bronze).selectExpr(
            "count(*)", "min(event_id)", "max(event_id)", "count(distinct event_id)"
        ).first()
        if (n, lo, hi, distinct) != (self.next_event, 0, self.next_event - 1, self.next_event):
            return f"bronze: {n} rows, ids {lo}..{hi}, {distinct} distinct; want {self.next_event}"
        return None


def run_lakehouse(spark, work: str, seed: int, seconds: float, tracer: Tracer) -> Result:
    res = Result()
    t_warm = time.perf_counter()
    with tracer.paused():
        lh = Lakehouse(spark, work, seed, tracer)
        # untimed warm-up: a fixed number of cycles, so the amplification
        # counts below repeat exactly for one seed
        for c in range(WARM_CYCLES):
            res.attempted += 1
            try:
                lh.cycle(c, *lh.prepare(c))
            except Exception as e:  # noqa: BLE001
                res.fail(f"cycle {c}", e)
        live, _ = lh.live_bytes()
        on_disk = sum(_parquet_files(os.path.dirname(lh.silver)).values())
        res.extra["write_amp"] = lh.bytes_written / lh.user_bytes
        res.extra["space_amp"] = on_disk / live
        res.attempted += 1
        why = lh.check()
    if why:
        res.fail("warm-up check", why)
    lh.times.clear()
    res.extra["warmup_s"] = time.perf_counter() - t_warm
    lh.bytes_written = lh.user_bytes = 0

    cycle = WARM_CYCLES
    rows = 0
    for _ in _passes(seconds, tracer):
        inputs = [lh.prepare(c) for c in range(cycle, cycle + MAINT_EVERY)]
        cpu0 = tree_cpu_seconds()
        t_pass = time.perf_counter()
        for paths in inputs:
            res.attempted += 1
            tracer.op = res.attempted
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    lh.cycle(cycle, *paths)
            except Exception as e:  # noqa: BLE001
                res.fail(f"cycle {cycle}", e)
                cycle += 1
                continue
            res.ops.append((tracer.enabled, time.perf_counter() - t0))
            rows += BRONZE_ROWS + CHANGE_ROWS
            cycle += 1
            if tracer.enabled:
                spans = [sp for sp in tracer.spans if sp["op"] == tracer.op]
                tracer.collect(spans)
                root = next(sp for sp in spans if sp["parent"] is None)
                root["request"] = "cycle"
        res.passes.append({"traced": tracer.enabled, "wall_s": time.perf_counter() - t_pass,
                           "cpu_s": tree_cpu_seconds() - cpu0})
    res.attempted += 1
    with tracer.paused():
        why = lh.check()
        _, n_live = lh.live_bytes()
        versions = sum(lh.txlog.snapshot_files(t)[1] + 1 for t in (lh.silver, lh.bronze))
    if why:
        res.fail("final check", why)
    res.extra.update(
        rows_per_s=rows / sum(t for _, t in res.ops) if res.ops else 0.0,
        txlog_times=lh.times,
        versions=versions,
        live_files=n_live,
        bytes_written_per_cycle=lh.bytes_written / max(len(res.ops), 1),
    )
    return res
