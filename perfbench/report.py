"""Per-layer metrics, self-time and per-request tables from a traced run."""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import STAGE_FIELDS, SQL_FIELDS, busy_seconds, self_times

SPARK_COUNTS = ["spark.jobs", "spark.stages", *STAGE_FIELDS]
SQL_KEYS = [k for k, _, _ in SQL_FIELDS]
TXLOG_CALLS = ["append", "merge", "read", "snapshot", "compact", "checkpoint", "vacuum"]

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.load_all_s": "s",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "driver.self_s": "s",
    "sources.kql.translate_s": "s",
    "sources.kql.calls": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "operators.python_bytes_sent": "bytes",
    "operators.python_rows_returned": "count",
    "operators.broadcast_build_ms": "ms",
    "operators.agg_time_ms": "ms",
    "operators.sort_time_ms": "ms",
    "operators.peak_memory_bytes": "bytes",
    "spark.storage_bytes": "bytes",
    "operators.dedup.tracked_caches": "count",
    **{f"sources.txlog.{c}_s": "s" for c in TXLOG_CALLS},
    "sources.txlog.versions": "count",
    "sources.txlog.live_files": "count",
    "sources.txlog.bytes_written": "bytes",
    "sources.txlog.jobs_per_merge": "count",
    "lakehouse.gold_read_p50_s": "s",
    "lakehouse.maint_s": "s",
    "lakehouse.rows_per_s": "1/s",
    "lakehouse.write_amp": "ratio",
    "lakehouse.space_amp": "ratio",
    "trace.overhead_s": "s",
}


def _by_op(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = defaultdict(list)
    for sp in spans:
        if sp["op"] is not None:
            out[sp["op"]].append(sp)
    return out


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it (spans of one op)."""
    ids, out = {root["id"]}, [root]
    for sp in sorted(spans, key=lambda s: s["id"]):
        if sp["parent"] in ids and sp["id"] not in ids:
            ids.add(sp["id"])
            out.append(sp)
    return out


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(spans: list[dict], setup_spans: list[dict], res) -> dict[str, float]:
    """Every per-layer metric. Time and count metrics are means per op
    over the traced ops; txlog call times are medians per call; layers a
    workload does not reach read 0."""
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    for sp in setup_spans:
        out[f"{sp['name']}_s"] = _dur(sp)
    ops = _by_op(spans)
    n = max(len(ops), 1)
    for op_spans in ops.values():
        root = next(sp for sp in op_spans if sp["parent"] is None)
        jobs = [iv for sp in op_spans for iv in sp.get("jobs", [])]
        out["driver.self_s"] += (_dur(root) - busy_seconds(jobs)) / n
        for sp in op_spans:
            m = sp.get("metrics", {})
            for k in SPARK_COUNTS + SQL_KEYS:
                out[k] += m.get(k, 0.0) / n
            if sp["name"] == "catalog.build":
                out["catalog.build_s"] += _dur(sp) / n
                out["catalog.build_jobs"] += sum(
                    s.get("metrics", {}).get("spark.jobs", 0) for s in _subtree(op_spans, sp)) / n
            elif sp["name"] == "sources.kql.translate":
                out["sources.kql.translate_s"] += _dur(sp) / n
                out["sources.kql.calls"] += 1 / n
            elif sp["name"] in ("spark.plan", "spark.exec"):
                out[f"{sp['name']}_s"] += _dur(sp) / n
        out["spark.storage_bytes"] = max(out["spark.storage_bytes"], root.get("storage_bytes", 0))
        out["operators.dedup.tracked_caches"] = max(
            out["operators.dedup.tracked_caches"], root.get("tracked_caches", 0))

    calls = defaultdict(list)
    merge_jobs = []
    for sp in spans:
        name = sp["name"]
        if name.startswith("sources.txlog.") or name.startswith("lakehouse."):
            calls[name].append(_dur(sp))
        if name == "sources.txlog.merge":
            merge_jobs.append(sum(s.get("metrics", {}).get("spark.jobs", 0)
                                  for s in _subtree(ops[sp["op"]], sp)))
    for c in TXLOG_CALLS:
        out[f"sources.txlog.{c}_s"] = _med(calls[f"sources.txlog.{c}"])
    out["sources.txlog.jobs_per_merge"] = _med(merge_jobs)
    out["lakehouse.gold_read_p50_s"] = _med(calls["lakehouse.gold_read"])
    out["lakehouse.maint_s"] = _med(calls["lakehouse.maint"])
    extra = res.extra
    for k in ("versions", "live_files"):
        out[f"sources.txlog.{k}"] = float(extra.get(k, 0))
    out["sources.txlog.bytes_written"] = float(extra.get("bytes_written_per_cycle", 0))
    for k in ("rows_per_s", "write_amp", "space_amp"):
        out[f"lakehouse.{k}"] = float(extra.get(k, 0))
    traced, untraced = res.pass_values("wall_s", True), res.pass_values("wall_s")
    if traced and untraced:
        out["trace.overhead_s"] = _med(traced) - _med(untraced)
    return out


def self_time_table(spans: list[dict]) -> dict:
    """Per span name: self time per op (mean over traced ops) and its
    share of op wall time. ``residual_s`` is the largest gap, over ops,
    between the op's wall time and the sum of its spans' self times."""
    ops = _by_op(spans)
    n = max(len(ops), 1)
    selfs = self_times(spans)
    per_name: dict[str, float] = defaultdict(float)
    wall, residual = 0.0, 0.0
    for op_spans in ops.values():
        root = next(sp for sp in op_spans if sp["parent"] is None)
        wall += _dur(root)
        total = 0.0
        for sp in op_spans:
            per_name[sp["name"]] += selfs[sp["id"]]
            total += selfs[sp["id"]]
        residual = max(residual, abs(total - _dur(root)))
    return {
        "ops": len(ops),
        "op_wall_s": wall / n,
        "residual_s": residual,
        "self_s": {k: v / n for k, v in sorted(per_name.items(), key=lambda kv: -kv[1])},
        "share": {k: v / wall for k, v in per_name.items()} if wall else {},
    }


def request_table(spans: list[dict]) -> dict:
    """Per request: median build, plan and materialize (exec) times of
    the traced ops, op wall, and the count() time bench.py would have
    reported for the same DataFrame."""
    rows: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for op_spans in _by_op(spans).values():
        root = next(sp for sp in op_spans if sp["parent"] is None)
        r = rows[root.get("request", "?")]
        r["op_s"].append(_dur(root))
        if "count_s" in root:
            r["count_s"].append(root["count_s"])
        for sp in op_spans:
            if sp["name"] in ("catalog.build", "spark.plan", "spark.exec"):
                r[sp["name"].split(".")[1] + "_s"].append(_dur(sp))
    return {name: {k: _med(v) for k, v in r.items()} for name, r in sorted(rows.items())}


def summary(out: dict, path: str) -> str:
    """Human-readable lines printed before the result line."""
    lines = [f"perfbench: {out['box']['workload']} seed={out['box']['seed']} "
             f"attempted={out['attempted']} failed={out['failed']} -> {path}"]
    lines += [f"  {k} = {v:.4f}" for k, v in out["end_to_end"].items()]
    lines += [f"  {k} = {out[k]:.4f}" for k in ("pass_s", "op_p50_s", "op_p90_s", "peak_rss_mb")]
    lines += [f"  error: {e}" for e in out["errors"][:10]]
    if "self_time_table" in out:
        t = out["self_time_table"]
        lines.append(f"  self time per op (wall {t['op_wall_s']:.3f} s, "
                     f"residual {t['residual_s']:.2e} s):")
        lines += [f"    {k:28s} {v:8.4f} s  {t['share'][k]:6.1%}" for k, v in t["self_s"].items()]
    return "\n".join(lines)
