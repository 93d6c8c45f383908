"""Layered benchmark for hadrodb_spark: the collection store, the native log
and the query surface.

Run from the repository root:

    python3 perfbench/run.py --workload kv_point --seed 1 --seconds 15 --trace 0

Workloads: ``kv_point``, ``query_mix``, ``bulk_log`` (see README.md here).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics from a traced run, and
the spans are written as JSON lines under ``.bench_traces/``. The line
before it records host steal during the run. Everything the run writes
stays under the repository root and is removed at the end, traces aside.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer metrics. Timings are medians over the timed phase's calls;
# counts are medians of per-call Spark job/task counts. A layer the
# workload does not call reports 0.
SPAN_TIMES = (
    ("collection.get_ms", "collection.get", "ms"),
    ("collection.contains_ms", "collection.contains", "ms"),
    ("collection.flush_ms", "collection.flush", "ms"),
    ("collection.compact_range_s", "collection.compact_range", "s"),
    ("collection.append_df_s", "collection.append_df", "s"),
    ("collection.upsert_df_s", "collection.upsert_df", "s"),
    ("collection.scan_lww_s", "collection.scan_lww", "s"),
    ("collection.compact_s", "collection.compact", "s"),
    ("collection.scan_clean_s", "collection.scan_clean", "s"),
    ("hadrolog.append_s", "hadrolog.append", "s"),
    ("hadrolog.scan_s", "hadrolog.scan", "s"),
)
SPAN_COUNTS = (
    ("collection.get.jobs", "collection.get", "jobs"),
    ("collection.get.tasks", "collection.get", "tasks"),
    ("collection.flush.jobs", "collection.flush", "jobs"),
    ("collection.append_df.tasks", "collection.append_df", "tasks"),
    ("collection.scan_lww.tasks", "collection.scan_lww", "tasks"),
    ("collection.compact.tasks", "collection.compact", "tasks"),
    ("collection.scan_clean.tasks", "collection.scan_clean", "tasks"),
    ("hadrolog.append.tasks", "hadrolog.append", "tasks"),
    ("hadrolog.scan.tasks", "hadrolog.scan", "tasks"),
)
GAUGES = (
    ("collection.commits_max", "count"),
    ("collection.bytes_written_per_user_byte", "B/B"),
    ("collection.bytes_on_disk_per_user_byte", "B/B"),
    ("hadrolog.segments", "count"),
    ("hadrolog.bytes_per_row", "B/row"),
)
SELF_LAYERS = ("bench", "session", "collection", "hadrolog", "operators", "catalyst", "execution")


def _proc_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]  # total, steal


def _isolate(work_dir: str) -> None:
    """Keep every file Spark, the JVM and the program write inside the run's
    directory under the repository root."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_SCRATCH_DIR=os.path.join(work_dir, "scratch"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work_dir, "spark_local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work_dir, "warehouse"),
        # A fixed 2 GiB driver heap: under the factory's 8 GiB default, G1
        # grows the heap by GC timing and peak RSS spread ~30% between runs.
        SPARK_DRIVER_MEMORY="2g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                # the status tracker must still hold every job of the run
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                "--conf spark.driver.extraJavaOptions=-Xms2g",
                "pyspark-shell",
            ]
        ),
        # every JVM, the spark-submit launcher included
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData",
    )


def end_to_end(ctx) -> dict:
    import numpy as np

    lat = [dt for _, dt, _ in ctx.ops]
    busy = sum(lat)
    return {
        "setup_s": (ctx.setup_s, "s"),
        "peak_rss_mb": (ctx.gauges["peak_rss_kb"] / 1024, "MB"),
        "ok_op_share": (1 - ctx.failed / max(ctx.attempted, 1), "share"),
        # geometric mean, as in TPC-H's power metric: the ops of a workload
        # differ in size, and a median of a few unlike ops jumps between them
        "op_gmean_ms": (float(np.exp(np.mean(np.log(lat)))) * 1000, "ms"),
        # nearest rank, not interpolation: with a few unlike ops per pass or
        # cycle, interpolating mixes two different ops' latencies
        "op_p90_ms": (float(np.percentile(lat, 90, method="inverted_cdf")) * 1000, "ms"),
        "ops_per_s": (len(lat) / busy, "1/s"),
        "rows_per_s": (sum(r for _, _, r in ctx.ops) / busy, "rows/s"),
    }


def per_layer(ctx, query_names) -> dict:
    tr = ctx.tracer
    run = [s for s in tr.spans if s.get("phase") == "run"]

    def named(name: str, **attrs) -> list[dict]:
        return [s for s in run if s["name"] == name and all(s.get(k) == v for k, v in attrs.items())]

    def med(xs) -> float:
        return float(statistics.median(xs)) if xs else 0.0

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    out = {
        "session.get_spark_s": (sum(dur(s) for s in tr.spans if s["name"] == "session.get_spark"), "s")
    }
    for metric, name, unit in SPAN_TIMES:
        out[metric] = (med([dur(s) for s in named(name)]) * (1000 if unit == "ms" else 1), unit)
    for metric, name, field in SPAN_COUNTS:
        out[metric] = (med([s[field] for s in named(name)]), "count")
    for metric, unit in GAUGES:
        out[metric] = (float(ctx.gauges.get(metric, 0)), unit)
    for q in query_names:
        calls = named("query", query=q)
        parts = {p: named(f"query.{p}", query=q) for p in ("build", "plan", "execute")}
        out[f"query.{q}.build_s"] = (med([dur(s) for s in parts["build"]]), "s")
        out[f"query.{q}.build_jobs"] = (med([s["jobs"] for s in parts["build"]]), "count")
        out[f"query.{q}.plan_s"] = (med([dur(s) for s in parts["plan"]]), "s")
        out[f"query.{q}.execute_s"] = (med([dur(s) for s in parts["execute"]]), "s")
        tasks = [sum(s["tasks"] for s in ps) for ps in zip(*parts.values())]
        out[f"query.{q}.tasks"] = (med(tasks) if calls else 0.0, "count")
    out["spark.failed_tasks"] = (float(sum(s["failed_tasks"] for s in tr.spans)), "count")
    traced = sum(dur(s) for s in tr.spans if s["parent"] is None)
    out["trace.overhead_share"] = (tr.overhead_s / traced, "share")
    self_s = tr.self_time_by_layer(run)
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = (self_s.get(layer, 0.0), "s")
    return out


def _stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python worker it
    started) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("kv_point", "query_mix", "bulk_log"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "hadrodb_spark", "__init__.py")):
        print(f"perfbench: no hadrodb_spark package under {ROOT}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    _isolate(work_dir)
    sys.path[:0] = [HERE, ROOT]

    import workloads
    from spans import Tracer

    ctx = workloads.Context(
        spark=None,
        tracer=Tracer(bool(args.trace)),
        seed=args.seed,
        seconds=args.seconds,
        work_dir=work_dir,
    )
    jiffies0 = _cpu_jiffies()
    try:
        workloads.WORKLOADS[args.workload](ctx)
        ctx.tracer.resolve_counts()
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        ctx.gauges["peak_rss_kb"] = _proc_hwm_kb("self") + (_proc_hwm_kb(jvm.pid) if jvm else 0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    jiffies1 = _cpu_jiffies()

    if args.trace:
        trace_dir = os.path.join(ROOT, ".bench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = per_layer(ctx, workloads.QUERY_NAMES)
    else:
        metrics = end_to_end(ctx)
    for failure in ctx.failures:
        print(failure, file=sys.stderr)
    total, steal = (b - a for a, b in zip(jiffies0, jiffies1))
    print(json.dumps({"host": {"steal_share": steal / max(total, 1), "cpus": len(os.sched_getaffinity(0))}}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
