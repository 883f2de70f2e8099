"""One benchmark run, in a process of its own (started by ``run.py``).

Generates the inputs, starts the Spark session, does the workload's
fixed warm-up, runs the timed closed loop, checks the results and
writes the run record and the result to the run's work directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

import stats
from spans import NullTracer, Tracer, patched, summarize_op
from workloads import WORKLOADS

CORES = 2
MASTER = f"local[{CORES}]"
DRIVER_MEMORY = "3g"
MIN_OPS = 2

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "input_rows_per_s": "rows/s",
    "jvm_live_heap_mb": "MB",
}

# per-layer metric -> unit; every traced run reports all of them, with 0
# for a layer the workload does not reach
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.write_s": "s",
    "sources.write_jobs": "count",
    "sources.bytes_written": "bytes",
    "operators.stage_boundary_s": "s",
    "operators.stage_boundary_jobs": "count",
    "operators.split_s": "s",
    "operators.lineage_cut_calls": "count",
    "operators.lineage_cut_s": "s",
    "ml.train_s": "s",
    "ml.train_jobs": "count",
    "ml.score_s": "s",
    "ml.pr_auc_s": "s",
    "ml.threshold_s": "s",
    "ml.save_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.eager_job_s": "s",
    "plans.catalyst_s": "s",
    "plans.exec_s": "s",
    **{
        f"plans.{q}.{phase}_s": "s"
        for q in (
            "tpch_q21_waiting_suppliers",
            "tpch_q02_min_cost_supplier",
            "tpch_q16_supplier_variety",
            "datapipe_pmi_cooccurrence",
            "datapipe_lsh_buckets",
        )
        for phase in ("build", "exec")
    },
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.detect_wait_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.empty_batch_ratio": "ratio",
    "streaming.python_worker_s": "s",
    "streaming.python_bytes_in": "bytes",
    "streaming.python_bytes_out": "bytes",
    "streaming.python_rows_out": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_task_ratio": "ratio",
    "pipeline.unattributed_s": "s",
    "trace.overhead_s": "s",
}


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


# ---------------------------------------------------------------- the loop
def one_op(wl, tracer: Tracer | None) -> dict:
    rec: dict = {"traced": tracer is not None, "error": None, "result": None}
    ctx = contextlib.nullcontext()
    if tracer is not None:
        before = tracer.snapshot()
        tracer.spans, tracer.overhead_s = [], 0.0
        wl.tracer, ctx = tracer, patched(tracer)
    t0 = time.perf_counter()
    try:
        with ctx:
            rec["latency"], rec["result"] = wl.op()
    except Exception as exc:  # a failed operation is counted, not fatal
        rec["latency"] = time.perf_counter() - t0
        rec["error"] = repr(exc)
        traceback.print_exc()
    finally:
        wl.tracer = NullTracer()
    if tracer is not None and rec["error"] is None:
        rec["layers"] = {
            **summarize_op(tracer, before),
            **wl.op_metrics(rec["latency"], tracer.spans),
            "trace.overhead_s": tracer.overhead_s,
        }
    return rec


def timed_ops(wl, seconds: float, tracer: Tracer | None = None) -> list[dict]:
    """Closed loop until ``seconds`` have passed and at least ``MIN_OPS``
    operations ran, so that no median comes from a single pass. With a
    tracer, traced and untraced operations alternate in ABBA order
    (untraced, traced, traced, untraced, ...) so that a slope in the
    warm-up affects both kinds alike, and the loop stops on equal
    counts."""
    ops: list[dict] = []
    start = time.perf_counter()
    while True:
        traced = tracer is not None and len(ops) % 4 in (1, 2)
        ops.append(one_op(wl, tracer if traced else None))
        n_traced = sum(o["traced"] for o in ops)
        if (
            time.perf_counter() - start >= seconds
            and len(ops) >= MIN_OPS
            and (tracer is None or 2 * n_traced == len(ops))
        ):
            return ops


def judge(wl, ops: list[dict]) -> int:
    """Run the workload's correctness gate over the timed operations;
    mark each ``ok`` and return how many failed. An operation fails if
    it raised or its result is wrong; a gate that cannot run fails all."""
    try:
        verdicts = wl.check([o["result"] for o in ops])
    except Exception:
        traceback.print_exc()
        verdicts = [False] * len(ops)
    for o, good in zip(ops, verdicts, strict=True):
        o["ok"] = o["error"] is None and bool(good)
    return sum(not o["ok"] for o in ops)


# ---------------------------------------------------------------- summaries
def end_to_end(ops: list[dict], setup_s: float, heap_mb: float, input_rows: int) -> dict:
    """End-to-end metrics from the untraced operations."""
    plain = [o for o in ops if not o["traced"]]
    ok = [o["latency"] for o in plain if o["ok"]] or [o["latency"] for o in plain]
    tail, pct = stats.tail(ok)
    n_ok = sum(o["ok"] for o in plain)
    wall = sum(o["latency"] for o in plain)
    values = {
        "setup_s": (setup_s, {"n": 1}),
        "latency_p50_s": (stats.median(ok), {"n": len(ok)}),
        "latency_tail_s": (tail, {"n": len(ok), "percentile": pct}),
        "input_rows_per_s": (
            input_rows * n_ok / wall,
            {"n": len(plain), "input_rows": input_rows},
        ),
        "jvm_live_heap_mb": (heap_mb, {"n": 1}),
    }
    return {
        k: {"value": v, "unit": END_TO_END[k], **extra}
        for k, (v, extra) in values.items()
    }


def per_layer(ops: list[dict], session_s: float) -> dict:
    """Per-layer metrics: the mean over the traced operations."""
    traced = [o for o in ops if o["traced"] and "layers" in o]
    out = {}
    for name, unit in PER_LAYER.items():
        vals = [o["layers"].get(name, 0.0) for o in traced]
        out[name] = {
            "value": statistics.fmean(vals) if vals else 0.0,
            "unit": unit,
            "n": len(vals),
        }
    batches = sum(o["layers"].get("streaming.batches", 0) for o in traced)
    empty = sum(o["layers"].get("streaming.empty_batches", 0) for o in traced)
    out["streaming.empty_batch_ratio"]["value"] = empty / batches if batches else 0.0
    out["session.start_s"].update(value=session_s, n=1)
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores
    (Linux ``/proc/stat``); a slow run with high steal was crowded out."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def live_heap_mb(spark) -> float:
    """Driver heap in use after a full collection."""
    jvm = spark._jvm
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return usage.getHeapMemoryUsage().getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


# ---------------------------------------------------------------- main
def run(args) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]()
    data = os.path.join(args.work, "data")
    os.makedirs(data)
    clock = [("begin", time.perf_counter())]

    def mark(phase: str) -> None:
        clock.append((phase, time.perf_counter()))

    wl.inputs(data, args.seed)
    mark("inputs")
    from big_data_backblaze_hard_drive_failure_spark.session import get_spark

    spark = get_spark(app_name="graftbench", master=MASTER, extra_conf=spark_conf(args.work))
    mark("session")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl.start(spark, data, args.work)
        spark._jvm.System.gc()  # the timed region starts from a collected heap
        mark("warm_up")
        steal = host_steal_s()
        ops = timed_ops(wl, args.seconds, Tracer(spark) if args.trace else None)
        mark("timed")
        steal = host_steal_s() - steal
        heap_mb = live_heap_mb(spark)
        failed = judge(wl, ops)
        mark("check")
        phase = {b: tb - ta for (_, ta), (b, tb) in zip(clock, clock[1:])}
        setup_s = phase["session"] + phase["warm_up"]
        record = run_record(args, wl, spark, ops, phase)
        record["host_steal_s"] = steal
        record["end_to_end"] = end_to_end(ops, setup_s, heap_mb, wl.input_rows)
        if args.trace:
            record["per_layer"] = per_layer(ops, phase["session"])
            # the traced minus the untraced mean latency; with a few
            # operations on the warm-up slope this is mostly the slope
            record["trace_wall_delta_s"] = statistics.fmean(
                o["latency"] for o in ops if o["traced"]
            ) - statistics.fmean(o["latency"] for o in ops if not o["traced"])
    finally:
        wl.close()
        stop_spark(spark)
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }
    return record, result


def run_record(args, wl, spark, ops: list[dict], phase: dict[str, float]) -> dict:
    """What was run, on what, and every operation's latency."""
    conf = spark.conf
    return {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "aqe": {
            k: conf.get(f"spark.sql.adaptive.{k}")
            for k in ("enabled", "coalescePartitions.enabled", "skewJoin.enabled")
        },
        "spark_version": spark.version,
        "driver_memory": DRIVER_MEMORY,
        "input_rows_per_op": wl.input_rows,
        "warm_up": wl.warm_up,
        "phase_s": phase,
        "ops": {
            "timed": len(ops),
            "untraced": sum(not o["traced"] for o in ops),
            "traced": sum(o["traced"] for o in ops),
            "failed": sum(not o["ok"] for o in ops),
        },
        "latencies_s": [
            {"s": o["latency"], "traced": o["traced"], "ok": o["ok"]} for o in ops
        ],
        "errors": [o["error"] for o in ops if o["error"]],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    args = p.parse_args(argv)
    record, result = run(args)
    with open(os.path.join(args.work, "record.json"), "w") as f:
        json.dump(record, f)
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
