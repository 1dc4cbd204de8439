"""Benchmark of the weather pipeline, end to end and layer by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 15 --trace 0

One process, one client, a closed loop on ``local[nproc - 1]`` with the
engine's session defaults. ``--trace 0`` times ops with tracing off and
reports the end-to-end metrics; ``--trace 1`` alternates traced and
untraced ops and reports the per-layer metrics. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
The line before it carries the environment, input sizes and the
secondary figures (p90 when the run holds enough ops, error rate). A
detail file with every op latency (and the spans, when traced) is written
under ``.perfbench_results/``. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "skylogix_real_time_weather_data_pipeline_spark"

#: (name, unit) reported with --trace 0
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("rows_per_s", "1/s")]

#: span name → per-layer metric of its mean self time per op
SPAN_METRICS = {
    "op": "bench.glue_s",
    "sources.read_raw_json": "sources.read_raw_json_s",
    "sources.read_parquet": "sources.read_parquet_s",
    "sources.land": "sources.land_s",
    "sources.read_silver_batch": "sources.read_silver_batch_s",
    "silver.pipeline": "silver.pipeline_s",
    "silver.count": "silver.count_s",
    "sinks.write_parquet": "sinks.write_parquet_s",
    "sinks.write_analysis_json": "sinks.write_analysis_json_s",
    "sinks.write_csv_report": "sinks.write_csv_report_s",
    "sinks.write_json_records": "sinks.write_json_records_s",
    "sinks.write_sqlite": "sinks.write_sqlite_s",
    "gold.build": "gold.build_s",
    "gold.plan": "gold.plan_s",
    "gold.exec": "gold.exec_s",
    "stream.query": "stream.query_s",
    "matview.apply": "matview.apply_s",
    "matview.read": "matview.read_s",
}

#: lastProgress.durationMs key → per-layer metric (mean per op)
STREAM_MS = {
    "triggerExecution": "stream.trigger_ms",
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "latestOffset": "stream.latest_offset_ms",
}

#: spans besides sources.* whose jobs read the raw input: the silver
#: cleaning's eager stat passes and the streaming micro-batch
SOURCE_READS = ("silver.pipeline", "stream.query")

#: (name, unit) reported with --trace 1; a layer a workload does not
#: exercise reports 0
PER_LAYER = (
    [("session.start_s", "s"), ("setup.generate_s", "s"), ("setup.oracle_s", "s"),
     ("setup.warmup_s", "s")]
    + [(m, "s") for m in SPAN_METRICS.values()]
    + [("sources.input_rows", "count"), ("sources.input_bytes", "B"),
       ("silver.jobs", "count"), ("gold.jobs", "count"),
       ("sinks.output_bytes", "B"), ("sinks.files", "count")]
    + [(m, "ms") for m in STREAM_MS.values()]
    + [("stream.lifecycle_s", "s"),
       ("matview.segments", "count"), ("matview.compactions", "count"),
       ("matview.state_bytes", "B"), ("cache.owned_entries", "count"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "B"),
       ("spark.spill_bytes", "B"), ("spark.empty_task_ratio", "ratio"),
       ("trace.op_mean_s", "s"), ("trace.overhead_s", "s"), ("trace.ops", "count")]
)

#: the measure loop ends by this many seconds after start, whatever --seconds says
WALL_LIMIT_S = 150

#: a percentile is reported only with at least this many samples above it
MIN_BEYOND = 10


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(name: str, work: str, k: int, trace: bool):
    """The engine's session on local[k], with its defaults; the extra
    settings only keep files inside the work dir, silence the progress
    bar and, when tracing, write the event log."""
    from skylogix_real_time_weather_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{name}", master=f"local[{k}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def run_op(w, i: int, traced: bool) -> tuple[float, bool, int]:
    """One op: untimed staging, the timed call, then the untimed answer
    check, output deletion and cache drain. Returns (latency, ok, owned
    cache entries left after the drain)."""
    w.prepare(i)
    w.tracer.enabled = traced
    t0 = time.perf_counter()
    try:
        answer = w.op(i)
        ok = True
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc()
        ok = False
    latency = time.perf_counter() - t0
    w.tracer.enabled = False
    if ok:
        try:
            ok = bool(w.check(i, answer))
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"{w.name} op {i}: answer check failed", file=sys.stderr)
    w.cleanup(i)
    return latency, ok, w.drain()


def measure(w, seconds: float, trace: bool, wall_end: float) -> list[dict]:
    """Closed loop until the timed ops add up to ``seconds`` (at least one
    op). With tracing, even ops are traced and odd ops are not."""
    ops, timed, i = [], 0.0, 0
    while not ops or (timed < seconds and time.monotonic() < wall_end):
        traced = trace and i % 2 == 0
        latency, ok, owned = run_op(w, i, traced)
        ops.append({"i": i, "latency": latency, "ok": ok, "traced": traced, "owned": owned})
        timed += latency
        i += 1
    return ops


def p90(samples: list[float]) -> float | None:
    """The 90th percentile, or None when fewer than ``MIN_BEYOND``
    samples lie above it (a run needs about 100 ops to report one)."""
    if len(samples) < 2:
        return None
    value = statistics.quantiles(samples, n=10, method="inclusive")[-1]
    beyond = sum(1 for s in samples if s > value)
    return value if beyond >= MIN_BEYOND else None


def end_to_end(w, setup_s: float, ops: list[dict]) -> tuple[dict, dict]:
    timed = sum(o["latency"] for o in ops)
    good = [o["latency"] for o in ops if o["ok"]] or [o["latency"] for o in ops]
    done = sum(1 for o in ops if o["ok"])
    metrics = {"setup_s": setup_s, "op_p50_s": statistics.median(good),
               "rows_per_s": w.rows_per_op * done / timed}
    extra = {"op_p90_s": p90(good), "ops": len(ops), "ops_per_s": done / timed,
             "error_rate": sum(1 for o in ops if not o["ok"]) / len(ops),
             "timed_s": timed}
    return metrics, extra


def per_layer(w, tracer, groups: dict, ops: list[dict], setup: dict, health: dict) -> dict:
    """Mean per traced op of each layer's self time and counts, plus the
    end-of-run state of the maintained view and the tracing overhead."""
    from .trace import self_times

    traced = [o for o in ops if o["traced"] and o["ok"]]
    untraced = [o["latency"] for o in ops if not o["traced"] and o["ok"]]
    ids = {o["i"] for o in traced}
    n = max(1, len(traced))
    st = self_times(tracer.spans)
    span_of = {s.id: s for s in tracer.spans}
    out = defaultdict(float)
    out.update(setup)
    spark = defaultdict(float)
    for s in tracer.spans:
        if s.op in ids:
            out[SPAN_METRICS[s.name]] += st[s.id] / n
    for group, rec in groups.items():
        s = span_of.get(tracer.aliases.get(group, group))
        if s is None or s.op not in ids:
            continue
        for key, v in rec.items():
            spark[key] += v
        if s.name in SOURCE_READS or s.name.startswith("sources."):
            out["sources.input_rows"] += rec["input_rows"] / n
            out["sources.input_bytes"] += rec["input_bytes"] / n
        if s.name == "silver.pipeline":
            out["silver.jobs"] += rec["jobs"] / n
        elif s.name.startswith("gold."):
            out["gold.jobs"] += rec["jobs"] / n
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = spark[key] / n
    out["spark.task_s"] = spark["task_ms"] / 1000 / n
    out["spark.gc_s"] = spark["gc_ms"] / 1000 / n
    out["spark.empty_task_ratio"] = spark["empty_tasks"] / spark["tasks"] if spark["tasks"] else 0.0
    names = {name for name, _ in PER_LAYER}
    for o in traced:
        for key, v in w.op_layer.get(o["i"], {}).items():
            if STREAM_MS.get(key, key) in names:
                out[STREAM_MS.get(key, key)] += v / n
    if out["stream.trigger_ms"]:
        out["stream.lifecycle_s"] = out["stream.query_s"] - out["stream.trigger_ms"] / 1000
    out.update(health)
    out["cache.owned_entries"] = max(o["owned"] for o in ops)
    traced_lat = [o["latency"] for o in traced]
    out["trace.ops"] = len(traced)
    out["trace.op_mean_s"] = statistics.fmean(traced_lat) if traced_lat else 0.0
    if traced_lat and untraced:
        out["trace.overhead_s"] = statistics.median(traced_lat) - statistics.median(untraced)
    return out


def run(args) -> int:
    from .trace import Tracer, spark_metrics_by_group
    from .workloads import WORKLOADS

    started = time.monotonic()
    cls = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    k = max(1, nproc - 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine too; they start from the JVM's env
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    tracer = Tracer(enabled=False)
    setup, checks = {}, {}
    try:
        t0 = time.perf_counter()
        spark = start_session(args.workload, work, k, bool(args.trace))
        try:
            import pyspark

            env = {"nproc": nproc, "k": k, "pyspark": pyspark.__version__,
                   "java": spark._jvm.java.lang.System.getProperty("java.version"),
                   "python": sys.version.split()[0], "seed": args.seed}
            tracer.sc = spark.sparkContext
            setup["session.start_s"] = time.perf_counter() - t0
            w = cls(spark, tracer, work, args.seed)
            t = time.perf_counter()
            w.generate()
            setup["setup.generate_s"] = time.perf_counter() - t
            t = time.perf_counter()
            checks["oracle"] = bool(w.oracle())
            setup["setup.oracle_s"] = time.perf_counter() - t
            t = time.perf_counter()
            warm = [run_op(w, i, False) for i in range(-w.warmup_ops, 0)]
            checks["warmup"] = all(ok for _, ok, _ in warm)
            setup["setup.warmup_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - t0
            ops = measure(w, args.seconds, bool(args.trace), started + WALL_LIMIT_S)
            checks["final"] = bool(w.final_check())
            health = w.state_health()
            checks["cache_drained"] = all(o["owned"] == 0 for o in ops)
        finally:
            stop_session(spark)
        groups = spark_metrics_by_group(f"{work}/eventlog") if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, extra = end_to_end(w, setup_s, ops)
    if args.trace:
        layer = per_layer(w, tracer, groups, ops, setup, health)
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in END_TO_END}
    failed = sum(1 for o in ops if not o["ok"])
    detail = {"workload": args.workload, "trace": args.trace, "env": env,
              "inputs": w.inputs, "setup": setup, "checks": checks, "health": health,
              **extra}
    os.makedirs(os.path.join(ROOT, ".perfbench_results"), exist_ok=True)
    stem = os.path.join(ROOT, ".perfbench_results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({**detail, "e2e": e2e, "metrics": metrics, "ops": ops}, f, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.json")
    print("perfbench-detail " + json.dumps(detail))
    print(json.dumps({"correct": all(checks.values()) and failed == 0,
                      "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # import this file again as part of the perfbench package
    from perfbench.run import run
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
