"""Per-layer tracing from outside the package.

Spans are recorded around calls into the package's public functions:
while a ``patched`` block is active, each listed function is replaced,
in every loaded module of the package that refers to it, by a wrapper
that opens a span. The package itself is not edited. Each span runs
its Spark jobs under a job group of its own, so the jobs a layer
issues are counted from ``statusTracker``; job durations and stage
metrics come from the application status store (the UI's REST API on
localhost). Spans are kept in memory and summarised after each traced
operation.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import importlib
import json
import os
import re
import sys
import time
import urllib.request
from collections import defaultdict

PKG = "big_data_backblaze_hard_drive_failure_spark"

# span name -> the package functions whose calls it covers
LAYER_FUNCTIONS: dict[str, tuple[tuple[str, str], ...]] = {
    "sources.load": (("sources.catalog", "load"),),
    "sources.write": (("sources.sinks", "write_parquet"),),
    "operators.stage_boundary": (("operators.staging", "stage_boundary"),),
    "operators.split": (
        ("operators.splits", "chronological_split"),
        ("operators.splits", "downsample_negatives"),
    ),
    "operators.lineage_cut": (("operators.staging", "lineage_cut"),),
    "ml.train": (("ml.training", "train_logistic"),),
    "ml.score": (("ml.training", "score_with_model"),),
    "ml.pr_auc": (("ml.training", "pr_auc"),),
    "ml.threshold": (("ml.threshold", "threshold_at_recall"),),
    "ml.save": (("ml.artifacts", "save_threshold_artifact"),),
}

_GMT = "%Y-%m-%dT%H:%M:%S.%f%Z"
_SQL_LIST = "sql?details=false&offset=0&length=100000"


class NullTracer:
    """Stands in for ``Tracer`` on untraced operations."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    active = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        # seconds spent in the tracer's own bookkeeping inside operations
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._groups = 0
        opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        self._open = opener.open
        self._api = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        self._groups += 1
        group = f"graftbench-span-{self._groups}"
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": group,
            **attrs,
        }
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.overhead_s += time.perf_counter() - rec["end"]

    # ---- status store -------------------------------------------------
    def rest(self, path: str):
        with self._open(f"{self._api}/{path}", timeout=30) as resp:
            return json.load(resp)

    def flush_listeners(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict[str, set]:
        """Ids already in the status store, taken before an operation
        so that its summary counts only what the operation added."""
        self.flush_listeners()
        return {
            "stages": {(s["stageId"], s["attemptId"]) for s in self.rest("stages")},
            "jobs": {j["jobId"] for j in self.rest("jobs")},
            "sql": {e["id"] for e in self.rest(_SQL_LIST)},
        }


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Route calls to every ``LAYER_FUNCTIONS`` entry through spans."""
    undo: list[tuple[object, str, object]] = []
    modules = [m for n, m in list(sys.modules.items()) if n.startswith(PKG)]
    for name, targets in LAYER_FUNCTIONS.items():
        for mod_name, attr in targets:
            orig = getattr(importlib.import_module(f"{PKG}.{mod_name}"), attr)
            wrapper = _wrap(orig, name, tracer)
            for mod in modules:
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)
                        undo.append((mod, key, orig))
    try:
        yield
    finally:
        for mod, key, orig in undo:
            setattr(mod, key, orig)


def _wrap(fn, name: str, tracer: Tracer):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
        if name == "sources.write":
            t0 = time.perf_counter()
            path = args[1] if len(args) > 1 else kwargs["path"]
            rec["bytes"] = _dir_bytes(path)
            tracer.overhead_s += time.perf_counter() - t0
        return out

    return wrapper


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _job_seconds(job: dict) -> float:
    if "completionTime" not in job:
        return 0.0
    start = dt.datetime.strptime(job["submissionTime"], _GMT)
    end = dt.datetime.strptime(job["completionTime"], _GMT)
    return (end - start).total_seconds()


def planning_phases(df) -> dict[str, float]:
    """Seconds of ``df``'s analysis, optimization and planning, from its
    ``QueryPlanningTracker`` (read after the query has run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        p: phases.apply(p).durationMs() / 1000.0
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)
    }


# ---- per-operation summary ----------------------------------------------
def summarize_op(tracer: Tracer, before: dict) -> dict[str, float]:
    """Layer metrics of one traced operation whose spans are
    ``tracer.spans``; ``before`` is the ``snapshot`` taken just before
    it. The caller resets ``tracer.spans`` between operations."""
    tracer.flush_listeners()
    spans = tracer.spans
    jobs_of: dict[str, list[int]] = {
        s["group"]: list(tracer.sc.statusTracker().getJobIdsForGroup(s["group"]))
        for s in spans
    }
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)

    def all_jobs(i: int) -> list[int]:
        out = list(jobs_of[spans[i]["group"]])
        for c in children[i]:
            out.extend(all_jobs(c))
        return out

    job_rows = {j["jobId"]: j for j in tracer.rest("jobs")}
    m: dict[str, float] = defaultdict(float)
    m["spark.jobs"] = float(len(job_rows.keys() - before["jobs"]))
    for i, s in enumerate(spans):
        secs = s["end"] - s["start"]
        name = s["name"]
        if name.startswith("plans."):
            phase = name.split(".", 1)[1]  # build | exec
            m[f"plans.{s['query']}.{phase}_s"] += secs
            if phase == "exec":
                ph = s["phases"]
                m["plans.catalyst_s"] += sum(ph.values())
                # optimization and planning run inside the action (analysis
                # ran in the build); the rest of its wall time is execution
                m["plans.exec_s"] += secs - sum(
                    v for k, v in ph.items() if k != "analysis"
                )
            else:
                m["plans.build_s"] += secs
                jobs = all_jobs(i)
                m["plans.eager_jobs"] += len(jobs)
                m["plans.eager_job_s"] += sum(
                    _job_seconds(job_rows[j]) for j in jobs if j in job_rows
                )
            continue
        m[f"{name}_s"] += secs
        if name == "operators.lineage_cut":
            m["operators.lineage_cut_calls"] += 1
        elif name == "sources.write":
            m["sources.write_jobs"] += len(all_jobs(i))
            m["sources.bytes_written"] += s.get("bytes", 0)
        elif name in ("operators.stage_boundary", "ml.train"):
            m[f"{name}_jobs"] += len(all_jobs(i))
    m.update(_spark_metrics(tracer, before["stages"]))
    m.update(_python_metrics(tracer, before["sql"]))
    return dict(m)


def module_span_seconds(spans: list[dict]) -> float:
    """Wall time covered by the outermost module spans."""
    return sum(
        s["end"] - s["start"]
        for s in spans
        if s["parent"] is None and s["name"] in LAYER_FUNCTIONS
    )


def _spark_metrics(tracer: Tracer, before: set) -> dict[str, float]:
    stages = [
        s
        for s in tracer.rest("stages")
        if (s["stageId"], s["attemptId"]) not in before
    ]
    run_ms = sum(s.get("executorRunTime", 0) for s in stages)
    cpu_ns = sum(s.get("executorCpuTime", 0) for s in stages)
    done = sum(s.get("numCompleteTasks", 0) for s in stages)
    failed = sum(s.get("numFailedTasks", 0) for s in stages)
    return {
        "spark.stages": float(len(stages)),
        "spark.tasks": float(done + failed),
        "spark.task_s": run_ms / 1000.0,
        "spark.cpu_busy_ratio": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0,
        "spark.shuffle_read_bytes": float(
            sum(s.get("shuffleReadBytes", 0) for s in stages)
        ),
        "spark.shuffle_write_bytes": float(
            sum(s.get("shuffleWriteBytes", 0) for s in stages)
        ),
        "spark.spill_bytes": float(
            sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in stages
            )
        ),
        "spark.failed_task_ratio": failed / (done + failed) if done + failed else 0.0,
    }


# SQL metrics of the Python-worker node (applyInPandasWithState), as
# the status store names them
_PY_METRICS = {
    "time to run Python workers": "streaming.python_worker_s",
    "data sent to Python workers": "streaming.python_bytes_in",
    "data returned from Python workers": "streaming.python_bytes_out",
    "number of output rows": "streaming.python_rows_out",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store renders it, e.g.
    ``"12.5 KiB"``, ``"1,234"`` or ``"total (min, med, max ...)\\n3 ms
    (1 ms, 1 ms, 1 ms ...)"``; sizes in bytes, times in seconds."""
    line = text.strip().splitlines()[-1]
    num, unit = _TOTAL.match(line.strip()).groups()
    return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)


def _python_metrics(tracer: Tracer, before: set) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for ex in tracer.rest(_SQL_LIST.replace("details=false", "details=true")):
        if ex["id"] in before:
            continue
        for node in ex.get("nodes", []):
            if "InPandas" not in node.get("nodeName", ""):
                continue
            seen = set()  # the node lists "number of output rows" twice
            for metric in node.get("metrics", []):
                key = _PY_METRICS.get(metric["name"])
                if key and key not in seen:
                    seen.add(key)
                    out[key] += parse_metric(metric["value"])
    return dict(out)
