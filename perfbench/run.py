"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the
seed, starts the session through the program's ``get_spark()``, warms
up, measures for ``--seconds``, checks the outputs, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the operations run inside spans and the metrics are the
per-layer ones. The line before it is a JSON object with the details:
workload-specific metrics, run conditions, sample counts and sizes.
Every file the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "op_s_p50": "s", "op_s_p80": "s", "ops_per_s": "1/s",
}


def _isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` so the run writes nothing outside its checkout."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        f"-Dderby.system.home={os.path.join(work, 'tmp')}"
    )
    # tier-1 runs the program with one Spark core per CPU
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None


def _shutdown(stop_spark) -> None:
    """Stop the session, then end the JVM and wait for it: closing its
    stdin is the gateway's signal to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    stop_spark()
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    import common
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        from data_engineering_project_spark.session import get_spark, stop_spark
    except ImportError as exc:
        print(f"program not found next to the benchmark: {exc}", file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    conditions = common.run_conditions()
    # Spark and library chatter goes to stderr; stdout carries the result.
    out = sys.stdout
    sys.stdout = sys.stderr
    tracer = common.Tracer(bool(args.trace))
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_start = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, bool(args.trace))
        # generate + prepare run setup_repeats times; the median one counts
        reps = []
        for _ in range(wl.setup_repeats):
            t1 = time.perf_counter()
            wl.generate()
            t2 = time.perf_counter()
            wl.prepare()
            reps.append((t2 - t1, time.perf_counter() - t2))
        generate_s, prepare_s = sorted(reps, key=sum)[len(reps) // 2]
        t3 = time.perf_counter()
        wl.warm_up()
        t4 = time.perf_counter()
        tracer.spans.clear()
        setup = {"session_start_s": session_start, "generate_s": generate_s,
                 "prepare_s": prepare_s, "warm_up_s": t4 - t3}
        wl.measure(args.seconds)
        wl.op_spans = list(tracer.spans)
        try:
            wl.check()
        except Exception as exc:  # noqa: BLE001 - a check that cannot run has failed
            wl.failures.append(f"check: {type(exc).__name__}: {exc}")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = common.vm_hwm_mb(jvm_pid) + common.vm_hwm_mb()
    finally:
        _shutdown(stop_spark)
        sys.stdout = out
        shutil.rmtree(work, ignore_errors=True)

    lat = wl.latencies
    ok = bool(lat)
    e2e = {
        "setup_s": sum(setup.values()),
        "op_s_p50": common.percentile(lat, 50) if ok else 0.0,
        "op_s_p80": common.percentile(lat, 80) if ok else 0.0,
        "ops_per_s": wl.ops_per_s() if ok else 0.0,
    }
    if args.trace:
        metrics, units = layer_metrics(wl, session_start), PER_LAYER
        tracer.dump(os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics, units = e2e, END_TO_END
    conditions["load_avg_end"] = common.load_avg()
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sizes": wl.sizes, "ops": len(lat), "setup": setup,
        "setup_repeats_s": [sum(r) for r in reps], "conditions": conditions,
        "peak_rss_mb": peak_mb,
        "end_to_end": e2e, "failures": wl.failures[:20], **wl.detail,
        **(wl.workload_metrics() if ok else {}),
    }
    if args.trace:
        detail["self_times_s"] = wl.self_times()
    attempted = wl.attempted + wl.checks
    failed = len(wl.failures)
    detail["failed_ratio"] = failed / max(attempted, 1)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0 and ok,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


# Per-layer metric name -> unit. Values are per timed operation (a pass,
# or a serving request on dashboard_serving), 0 where the workload does
# not call the layer.
PER_LAYER = {
    "session.start_s": "s", "session.jobs": "count", "session.stages": "count",
    "session.tasks": "count",
    "olist.silver_clean_s": "s", "olist.gold_build_s": "s",
    "flows.overhead_s": "s", "dashboard.render_s": "s",
    "sources.read_parquet_s": "s", "sources.files_written": "count",
    "sources.bytes_written": "bytes", "sources.ledger_files": "count",
    "incremental.land_monthly_s": "s", "incremental.run_incremental_s": "s",
    "incremental.replace_dimension_s": "s", "incremental.months_examined": "count",
    "incremental.months_skipped": "count", "incremental.orders_inserted": "count",
    "incremental.items_inserted": "count", "incremental.skip_s_per_month": "s",
    "incremental.useful_ratio": "ratio",
    "analytics.kpis_s": "s", "analytics.top_categories_s": "s",
    "analytics.orders_by_state_s": "s", "analytics.delivery_days_by_state_s": "s",
    "analytics.freight_by_state_s": "s", "analytics.monthly_trend_s": "s",
    "analytics.weekday_seasonality_s": "s",
    "text2sql.translate_s": "s", "text2sql.hostile_s": "s",
    "sql.plan_s": "s", "sql.collect_s": "s", "sql.rejected": "count",
    "corpus_prep.prepare_s": "s", "corpus_prep.pack_s": "s", "corpus_prep.val_s": "s",
    "corpus_prep.after_exact_dedup": "count", "corpus_prep.after_near_dedup": "count",
    "corpus_prep.after_quality": "count", "corpus_prep.train_packs": "count",
    "dedup.exact_removed": "count", "dedup.planted_recall": "ratio",
    "similarity.near_dups_ann_s": "s", "similarity.pairs_out": "count",
    "similarity.planted_recall": "ratio",
    "bench.self_s": "s", "trace.op_s_p50": "s", "trace.overhead_s": "s",
    "trace.spans_per_op": "count",
}

# span name -> per-layer self-time metric
SPAN_METRIC = {
    "olist.silver_clean": "olist.silver_clean_s",
    "olist.gold_build": "olist.gold_build_s",
    "flows.Flow.run": "flows.overhead_s",
    "sources.read_parquet": "sources.read_parquet_s",
    "incremental.land_monthly": "incremental.land_monthly_s",
    "incremental.run_incremental": "incremental.run_incremental_s",
    "incremental.replace_dimension": "incremental.replace_dimension_s",
    **{f"analytics.{q}": f"analytics.{q}_s" for q in (
        "kpis", "top_categories", "orders_by_state", "delivery_days_by_state",
        "freight_by_state", "monthly_trend", "weekday_seasonality")},
    "text2sql.translate": "text2sql.translate_s",
    "text2sql.answer_hostile": "text2sql.hostile_s",
    "sql.run_readonly_sql": "sql.plan_s",
    "sql.collect": "sql.collect_s",
    "corpus_prep.prepare_corpus": "corpus_prep.prepare_s",
    "corpus_prep.pack": "corpus_prep.pack_s",
    "corpus_prep.val": "corpus_prep.val_s",
    "similarity.embedding_near_dups_ann": "similarity.near_dups_ann_s",
    "bench.pass": "bench.self_s",
    "bench.refresh": "bench.self_s",
}


def layer_metrics(wl, session_start: float) -> dict[str, float]:
    import common

    out = {k: 0.0 for k in PER_LAYER}
    for span, secs in wl.self_times().items():
        if span in SPAN_METRIC:
            out[SPAN_METRIC[span]] += secs
    out.update(wl.layer_metrics())
    out["session.start_s"] = session_start
    out["trace.spans_per_op"] = len(wl.op_spans) / max(len(wl.latencies), 1)
    out["trace.overhead_s"] = out["trace.spans_per_op"] * common.span_cost_s()
    out["trace.op_s_p50"] = common.percentile(wl.latencies, 50) if wl.latencies else 0.0
    return {k: float(out[k]) for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
