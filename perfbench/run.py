"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a checkout: generates its inputs from
the seed, starts one Spark driver pinned to ``local[nproc]``, sets up
(session start, warm-up, a checked cold run of every op), then drives a
closed loop of ops for ``--seconds`` (whole passes over the workload's ops,
in a seed-shuffled order each pass), checks every output, and prints one
JSON line last. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans around every call into the program and reports the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
sys.path.insert(0, ROOT)

from perfbench import probes, stats, tracing, workloads  # noqa: E402

# JVM heap of the driver, fixed from start (-Xms = -Xmx) so that resident
# memory does not depend on when the collector decides to grow the heap
DRIVER_MEMORY = "2g"
# the timed region runs whole passes over the ops until --seconds have
# passed and at least this many ops, so no run's median rests on one op.
# With a --seconds shorter than two ops, every run times the same ops.
MIN_TIMED_OPS = 2

# name -> unit of every end-to-end metric a run measures
UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "cpu_s_per_op": "s", "peak_rss_mb": "MB"}
# the ones the final JSON line reports (BENCHMARK.json lists the same):
# setup_s, and the metrics whose ten-run IQR/median stayed within half the
# bound on both workloads. op_p50_s and rows_per_s are printed only: on
# llm_curation, a median over three ops of different cost spread by 0.31.
END_TO_END = ("setup_s", "cpu_s_per_op", "peak_rss_mb")


def warm_up(spark) -> None:
    """One small job of each basic shape (scan, shuffle aggregation, join)
    on synthetic input, so the first cold op does not also pay for
    starting the task pool. Op-specific warming happens in the cold run
    of every op that follows."""
    from pyspark.sql import functions as F

    base = spark.range(0, 10_000).select((F.col("id") % 7).alias("k"), F.col("id").cast("decimal(18,2)").alias("d"))
    agg = base.groupBy("k").agg(F.sum("d").alias("s"))
    base.join(agg, "k").write.mode("overwrite").format("noop").save()


def instrument(tracer: tracing.Tracer) -> None:
    """Spans around the loaders every op reaches through the program's
    own modules (traced runs only)."""
    from lakehouse_spark_spark.plans import pipeline, queries, sql_metrics
    from lakehouse_spark_spark.sources import loaders

    tracer.wrap(loaders, "load_table", "loaders")
    tracer.wrap(queries, "load_table", "loaders")
    tracer.wrap(pipeline, "read_csv_allstring", "loaders")
    tracer.wrap(sql_metrics, "run_sql_metric", "sql_metrics")


def stop_spark(spark, tree: probes.ProcessTree) -> list[int]:
    """Stop Spark and the JVM and wait until every child process has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    return tree.wait_exit(timeout=60)


def run(workload_name: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    from lakehouse_spark_spark.session import get_session

    wl = workloads.WORKLOADS[workload_name]()
    wl.generate(seed, os.path.join(run_dir, "data"))
    tracer = tracing.Tracer(trace)
    instrument(tracer)
    tree = probes.ProcessTree()
    cores = len(os.sched_getaffinity(0))
    detail: dict = {"workload": workload_name, "seed": seed, "cores": cores, "trace": trace}
    setup_errors: dict[str, str] = {}

    spark = None
    try:
        with probes.PeakRss(tree) as peak:
            t_setup = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_session("perfbench", cpus=cores)
            with tracer.span("session.warm"):
                warm_up(spark)
            check_s = 0.0
            for i, op in enumerate(wl.ops):
                tracer.op = -1 - i  # negative ids: set-up
                try:
                    with tracer.span("op"):
                        err, spent = wl.cold_op(spark, op, tracer)
                except Exception:  # noqa: BLE001 - a failing op is a result, not a crash
                    err, spent = traceback.format_exc(limit=3), 0.0
                check_s += spent
                if err:
                    setup_errors[op.name] = err
            setup_s = time.perf_counter() - t_setup - check_s

            cpu0 = tree.cpu()
            per_op, wall = timed_loop(wl, spark, tracer, tree, seed, seconds)
            cpu1 = tree.cpu()

        # ---- checks, outside the timed region ------------------------------
        ops_by_name = {op.name: op for op in wl.ops}
        for rec in per_op:
            if rec["error"] is None:
                rec["error"] = setup_errors.get(rec["op"]) or wl.check(ops_by_name[rec["op"]], rec["out"])
            rec.pop("out")
        final_error = wl.final_check()
        failed = sum(1 for r in per_op if r["error"] is not None) if final_error is None else len(per_op)
        detail["host"] = probes.host_probes(spark)
    finally:
        leftover = stop_spark(spark, tree) if spark is not None else []

    latencies = [r["latency_s"] for r in per_op]
    rows_done = sum(r["rows"] for r in per_op if r["error"] is None)
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(latencies),
        "rows_per_s": rows_done / wall,
        "cpu_s_per_op": sum(cpu.values()) / len(per_op),
        "peak_rss_mb": peak.peak / 1e6,
    }
    end_to_end = {k: (values[k], UNITS[k]) for k in END_TO_END}
    detail.update(
        attempted=len(per_op),
        failed=failed,
        error_rate=failed / len(per_op),
        op_tail=stats.tail(latencies),
        timed_wall_s=wall,
        check_s=check_s,
        setup_errors=setup_errors,
        final_check=final_error,
        op_errors=sorted({r["error"].splitlines()[-1] for r in per_op if r["error"]}),
        leftover_processes=leftover,
        cpu_s={k: v / len(per_op) for k, v in cpu.items()},
        per_op_median_s={n: statistics.median([r["latency_s"] for r in per_op if r["op"] == n]) for n in ops_by_name},
        latencies_s=[(r["op"], r["latency_s"]) for r in per_op],
        op_cpu_s=[(r["op"], r.get("cpu")) for r in per_op],
    )
    if isinstance(wl, workloads.MedallionWorkload) and wl.output_bytes:
        detail["sinks_bytes_per_input_byte"] = statistics.median(wl.output_bytes) / wl.expected["input_bytes"]

    metrics = end_to_end
    if trace:
        metrics = layer_metrics(wl, tracer, per_op, cores, cpu)
        metrics["session.start_s"] = (span_total(tracer, "session.start"), "s")
        metrics["session.warm_s"] = (span_total(tracer, "session.warm"), "s")
        detail["self_s_per_op"] = {k: v / len(per_op) for k, v in tracer.self_times(set(range(len(per_op)))).items()}
    detail["end_to_end"] = values
    report(detail, metrics, tracer)
    return {
        "correct": failed == 0,
        "attempted": len(per_op),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def timed_loop(wl, spark, tracer: tracing.Tracer, tree: probes.ProcessTree, seed: int, seconds: float):
    """The closed loop: whole passes over the ops in a seed-shuffled order
    until ``seconds`` have passed and at least MIN_TIMED_OPS ops have run.
    Returns one record per op and the wall time of the loop."""
    rng = random.Random(seed)
    per_op: list[dict] = []
    last_stage = probes.executor_counters(spark, -1)[1] if tracer.enabled else -1
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(per_op) < MIN_TIMED_OPS:
        order = list(wl.ops)
        rng.shuffle(order)
        for op in order:
            rec = {"op": op.name, "rows": op.rows}
            tracer.op = len(per_op)
            if tracer.enabled:
                (ex0, _), c0 = probes.executor_counters(spark, last_stage), tree.cpu()
            a = time.perf_counter()
            try:
                with tracer.span("op"):
                    rec["out"] = wl.run_op(spark, op, tracer)
                rec["error"] = None
            except Exception:  # noqa: BLE001 - a failing op is a result, not a crash
                rec["out"], rec["error"] = None, traceback.format_exc(limit=3)
            rec["latency_s"] = time.perf_counter() - a
            if tracer.enabled:
                (ex1, last_stage), c1 = probes.executor_counters(spark, last_stage), tree.cpu()
                rec["exec"] = {k: ex1[k] - ex0[k] for k in probes.EXEC_FIELDS}
                rec["exec"].update(task_ms=ex1["task_ms"], task_cpu_ns=ex1["task_cpu_ns"])
                rec["cpu"] = {k: c1[k] - c0[k] for k in c1}
            per_op.append(rec)
    return per_op, time.perf_counter() - t0


def span_total(tracer: tracing.Tracer, name: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)


def layer_metrics(wl, tracer: tracing.Tracer, per_op: list[dict], cores: int, cpu: dict) -> dict:
    """Per-op means of each layer's self time and of Spark's executor
    counters over the timed ops."""
    n = len(per_op)
    selfs = tracer.self_times(set(range(n)))
    ex = {k: sum(r["exec"][k] for r in per_op) for k in per_op[0]["exec"]}
    busy = ex["task_ms"] / 1000 / (sum(r["latency_s"] for r in per_op) * cores)
    return {
        "op.call_s": (selfs.get(wl.call_span, 0.0) / n, "s"),
        "op.write_s": (selfs.get(wl.write_span, 0.0) / n, "s"),
        "loaders.s": (selfs.get("loaders", 0.0) / n, "s"),
        "exec.tasks": (ex["tasks"] / n, "count"),
        "exec.task_s": (ex["task_ms"] / 1000 / n, "s"),
        "exec.task_cpu_s": (ex["task_cpu_ns"] / 1e9 / n, "s"),
        "exec.busy_ratio": (busy, "ratio"),
        "exec.gc_s": (ex["gc_ms"] / 1000 / n, "s"),
        "exec.input_bytes": (ex["input_bytes"] / n, "B"),
        "exec.shuffle_read_bytes": (ex["shuffle_read_bytes"] / n, "B"),
        "exec.shuffle_write_bytes": (ex["shuffle_write_bytes"] / n, "B"),
        "exec.failed_tasks": (ex["failed_tasks"] / n, "count"),
        "proc.jvm_cpu_s": (cpu["jvm"] / n, "s"),
        "proc.pyworker_cpu_s": (cpu["pyworker"] / n, "s"),
        "proc.driver_cpu_s": (cpu["driver"] / n, "s"),
    }


def report(detail: dict, metrics: dict, tracer: tracing.Tracer) -> None:
    """Human-readable lines, a results record, and (traced runs) the spans."""
    for k, v in detail["end_to_end"].items():
        print(f"# {detail['workload']} {k} = {v:.6g} {UNITS[k]}")
    if detail["op_tail"]:
        t = detail["op_tail"]
        print(f"# {detail['workload']} op_tail_s = {t['value']:.6g} s (p{t['percentile']}, {t['samples']} samples)")
    print(f"# {detail['workload']} error_rate = {detail['error_rate']:.6g} ({detail['failed']}/{detail['attempted']})")
    for k, (v, u) in metrics.items():
        if k not in detail["end_to_end"]:
            print(f"# {detail['workload']} {k} = {v:.6g} {u}")
    print(f"# host {detail['host']}")
    for name, err in detail["setup_errors"].items():
        print(f"# set-up check failed: {name}: {err.splitlines()[-1]}")
    for err in detail["op_errors"]:
        print(f"# op failed: {err}")
    record = dict(detail)
    previous = _last_untraced(detail["workload"], detail["seed"]) if detail["trace"] else None
    if previous:
        record["tracing_overhead"] = {k: v - previous[k] for k, v in detail["end_to_end"].items()}
        print(f"# tracing overhead (traced - untraced): {record['tracing_overhead']}")
    os.makedirs(RUNS_DIR, exist_ok=True)
    with open(os.path.join(RUNS_DIR, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record, default=str) + "\n")
    if detail["trace"]:
        path = os.path.join(RUNS_DIR, f"trace-{detail['workload']}-seed{detail['seed']}.json")
        tracer.write(path, {"detail": record, "metrics": metrics})
        print(f"# spans: {path}")


def _last_untraced(workload: str, seed: int) -> dict | None:
    path = os.path.join(RUNS_DIR, "results.jsonl")
    if not os.path.exists(path):
        return None
    found = None
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec["workload"] == workload and rec["seed"] == seed and not rec["trace"]:
                found = rec["end_to_end"]
    return found


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # every temporary file of the run (Spark local dirs, checkpoints,
    # persisted-index fixtures) lands in a directory deleted at exit;
    # Python workers import the program from the checkout
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_WAREHOUSE_DIR=os.path.join(tmp, "warehouse"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
