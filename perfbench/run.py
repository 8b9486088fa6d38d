"""End-to-end benchmark of the engine: one seeded workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. Every input is generated from ``--seed``
under ``.perfbench_work/``; the full result (box state, every metric,
per-request times, spans of a traced run) lands in ``.perfbench_out/``.
The last line of standard output is the summary JSON: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. See
``perfbench/README.md`` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "azuredataengineering_deeplearning_spark"
WORKLOADS = ("query_mix", "lakehouse_etl")
DRIVER_MEM = "2g"
PLAN_CONFS = (
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.shuffle.partitions",
)


def process_age() -> float:
    """Seconds since this process started (kernel start time, 10 ms grain)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> dict[str, str]:
    """Keep every file Spark, Python workers and the engine write under
    ``work``, and size ``local[N]`` to the cores this process may use."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed driver heap: peak RSS then measures what the run keeps
    # live, not how far the collector let an 8 GB heap grow
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [ROOT, HERE]
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def setup(extra_conf: dict, tracer):
    """Session up and catalog loaded: the work ``setup_s`` measures."""
    from azuredataengineering_deeplearning_spark import catalog
    from azuredataengineering_deeplearning_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    tracer.spark = spark
    with tracer.span("catalog.load_all"):
        catalog.load_all()
    return spark, catalog, process_age()


def stop(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def source_digest() -> str:
    """sha256 of the engine's sources: identifies the code under test
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def box_state(spark, args) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "confs": {k: spark.conf.get(k) for k in PLAN_CONFS},
    }


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``xs`` (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 of ``n`` samples beyond it."""
    return max(0, min(99, int(100 * (n - 10) / n))) if n > 10 else 0


def run_workload(args, spark, catalog, work: str, tracer):
    import gen
    import workloads as W

    if args.workload == "lakehouse_etl":
        return W.run_lakehouse(spark, work, args.seed, args.seconds, tracer)
    data = os.path.join(work, "data")
    gen.star_schema(data, args.seed, W.STAR_SF)
    gen.corpus(data, args.seed, W.N_DOCS, W.N_VECS)
    return W.run_requests(spark, catalog, data, W.QUERY_MIX, args.seed, args.seconds, tracer)


def instrument(tracer) -> None:
    """Spans around the engine entry points the catalog and the txlog
    call by module attribute: KQL translation and snapshot replay."""
    from azuredataengineering_deeplearning_spark.catalog import kql as catalog_kql
    from azuredataengineering_deeplearning_spark.sources import kql, txlog

    def wrap(mod, attr, span):
        fn = getattr(mod, attr)

        def traced(*a, **kw):
            with tracer.span(span):
                return fn(*a, **kw)

        setattr(mod, attr, traced)

    wrap(kql, "kql_to_df", "sources.kql.translate")
    catalog_kql.kql_to_df = kql.kql_to_df
    wrap(txlog, "snapshot_files", "sources.txlog.snapshot")


def end_to_end(res, setup_s: float) -> dict:
    """The gated end-to-end metrics, from untraced passes only. Wall-time
    latencies and peak memory go to the result file: on a shared 4-core
    box other tenants' load moves them by more than any useful bound."""
    return {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(res.pass_values("cpu_s")), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra = prepare_env(work)
    tracer = Tracer(None, bool(args.trace))
    spark = None
    try:
        spark, catalog, setup_s = setup(extra, tracer)
        setup_spans = list(tracer.spans)
        if args.trace:
            instrument(tracer)
        box = box_state(spark, args)
        box["load1_before"] = os.getloadavg()[0]
        res = run_workload(args, spark, catalog, work, tracer)
        box["load1_after"] = os.getloadavg()[0]
        rss_mb = {
            "jvm": vm_hwm_kb(spark._jvm.ProcessHandle.current().pid()) / 1024,
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    import report

    e2e = end_to_end(res, setup_s)
    ops = res.op_times()
    out = {
        "box": box,
        "attempted": res.attempted,
        "failed": res.failed,
        "fail_ratio": res.failed / res.attempted,
        "errors": res.errors,
        "pass_s": statistics.median(res.pass_values("wall_s")),
        "peak_rss_mb": rss_mb["jvm"] + rss_mb["python"],
        "peak_rss_by_process_mb": rss_mb,
        "ops": len(ops),
        "op_p50_s": quantile(ops, 0.5),
        "op_p90_s": quantile(ops, 0.9),
        "op_tail_percentile": tail_percentile(len(ops)),
        "op_tail_s": quantile(ops, tail_percentile(len(ops)) / 100),
        "passes": res.passes,
        "wall_s": process_age(),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_request_s": res.per_request,
        "workload_extra": res.extra,
    }
    if args.trace:
        layers = report.per_layer(tracer.spans, setup_spans, res)
        out["per_layer"] = layers
        out["self_time_table"] = report.self_time_table(tracer.spans)
        out["requests"] = report.request_table(tracer.spans)
        out["spans"] = [{k: sp[k] for k in ("id", "name", "start", "end", "parent", "op")}
                        for sp in tracer.spans]
        metrics = {k: {"value": v, "unit": report.PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_out",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=float)
    print(report.summary(out, path))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
