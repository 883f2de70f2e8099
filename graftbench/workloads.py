"""The benchmark's workloads.

Each workload is a closed loop with one client: ``op`` runs one
operation and returns its latency in seconds with its result, and the
next operation starts when it returns. ``start`` does the fixed
warm-up work that ``setup_s`` counts; ``check`` is the correctness
gate, run once after the timed region, and returns one verdict per
timed operation.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import datagen
from spans import NullTracer, module_span_seconds, planning_phases


class Workload:
    name = ""
    warm_up = ""
    input_rows = 0  # rows of input one operation reads
    tracer = NullTracer()

    def inputs(self, data_dir: str, seed: int) -> None:
        raise NotImplementedError

    def start(self, spark, data_dir: str, work_dir: str) -> None:
        raise NotImplementedError

    def op(self) -> tuple[float, object]:
        raise NotImplementedError

    def check(self, results: list) -> list[bool]:
        raise NotImplementedError

    def op_metrics(self, latency: float, spans: list[dict]) -> dict[str, float]:
        """Layer metrics of the last (traced) operation that only the
        workload can derive."""
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- pipeline
TEST_SLICE_POSITIVES = """
WITH labelled AS (
    SELECT event_type, ts,
           CASE WHEN lead(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN 1 ELSE 0 END AS y
    FROM read_parquet(?)
)
SELECT count(*) FROM labelled
WHERE event_type <> 'error' AND y = 1 AND CAST(ts AS DATE) >= DATE '2024-01-25'
"""


class Pipeline(Workload):
    """One operation is one ``run_reference_pipeline`` pass: ingest,
    label, features, split, train, score and alert."""

    name = "pipeline"
    warm_up = "1 pass"

    def inputs(self, data_dir, seed):
        self.input_rows = datagen.write_events(data_dir, seed).num_rows
        self.events = os.path.join(data_dir, "events.parquet")

    def start(self, spark, data_dir, work_dir):
        from big_data_backblaze_hard_drive_failure_spark.pipeline import (
            run_reference_pipeline,
        )

        self._run = lambda: run_reference_pipeline(
            spark, data_dir, os.path.join(work_dir, "pipeline")
        )
        self.first = self.op()[1]

    def op(self):
        t0 = time.perf_counter()
        s = self._run()
        return time.perf_counter() - t0, (s["tp"], s["fp"], s["fn"], s["threshold"])

    def op_metrics(self, latency, spans):
        """The pass's time outside every module span: the ``.first()``,
        ``.collect()`` and model-save calls that no stage owns."""
        return {"pipeline.unattributed_s": latency - module_span_seconds(spans)}

    def check(self, results):
        """tp, fp, fn and threshold repeat the warm-up pass exactly, and
        tp + fn is the number of positives in the test slice."""
        with duckdb.connect() as con:
            positives = con.execute(TEST_SLICE_POSITIVES, [self.events]).fetchone()[0]
        return [
            r is not None and r == self.first and r[0] + r[2] == positives
            for r in results
        ]


# ---------------------------------------------------------------- analytic
ANALYTIC_QUERIES = (
    "tpch_q21_waiting_suppliers",
    "tpch_q02_min_cost_supplier",
    "tpch_q16_supplier_variety",
    "datapipe_pmi_cooccurrence",
    "datapipe_lsh_buckets",
)
ANALYTIC_TABLES = (
    "lineitem", "orders", "supplier", "nation", "part", "region", "documents",
)
# a fifth of sf0.1: at sf0.1 one pass takes about 10 s, and the cold
# pass plus two timed passes would not fit one run's time budget
SHARE = 0.2
DOCUMENTS = 1_000


class Analytic(Workload):
    """One operation is one pass over the execution-bound queries.
    Every query releases the staged frames, the SQL cache and the
    prefix-sum bounds memo before its timer starts."""

    name = "analytic"
    warm_up = "1 pass"

    def inputs(self, data_dir, seed):
        datagen.write_star(data_dir, seed, SHARE)
        datagen.write_documents(data_dir, seed, DOCUMENTS)
        self.input_rows = sum(
            pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
            for t in ANALYTIC_TABLES
        )

    def start(self, spark, data_dir, work_dir):
        from big_data_backblaze_hard_drive_failure_spark.operators import prefix
        from big_data_backblaze_hard_drive_failure_spark.operators.staging import (
            release_stage_boundaries,
        )
        from big_data_backblaze_hard_drive_failure_spark.plans import QUERIES, _load_all

        _load_all()
        self.spark, self.data_dir = spark, data_dir
        self.queries = {q: QUERIES[q] for q in ANALYTIC_QUERIES}

        def release():
            release_stage_boundaries()
            spark.catalog.clearCache()
            prefix._BOUNDS_MEMO.clear()

        self._release = release
        self.op()

    def op(self):
        total, out = 0.0, {}
        for name, build in self.queries.items():
            self._release()
            t0 = time.perf_counter()
            with self.tracer.span("plans.build", query=name):
                df = build(self.spark, self.data_dir)
            with self.tracer.span("plans.exec", query=name) as rec:
                rows = [tuple(r) for r in df.collect()]
            total += time.perf_counter() - t0
            if self.tracer.active:
                rec["phases"] = planning_phases(df)
            out[name] = (df.columns, rows)
        return total, out

    def check(self, results):
        """Each query's rows equal its DuckDB oracle's, compared the way
        ``tests/oracle.py`` compares them."""
        from big_data_backblaze_hard_drive_failure_spark.plans import ORACLE
        from tests.oracle import run_oracle

        want = {q: run_oracle(self.data_dir, ORACLE[q]) for q in ANALYTIC_QUERIES}
        return [
            r is not None
            and all(same_rows(*r[q], *want[q]) for q in ANALYTIC_QUERIES)
            for r in results
        ]


def same_rows(s_cols, s_rows, d_cols, d_rows) -> bool:
    """Column names, row count and the order-insensitive canonical
    value multiset agree (``tests/oracle.py``'s ``compare``)."""
    from tests.oracle import _multiset

    if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
        return False
    cols = sorted(s_cols)
    return _multiset(s_rows, cols, {c: i for i, c in enumerate(s_cols)}) == (
        _multiset(d_rows, cols, {c: i for i, c in enumerate(d_cols)})
    )


# ------------------------------------------------------------------ stream
DROP_ROWS = 1_250
WARM_DROPS = 1
THRESHOLD = 0.5
STALL_S = 60.0


class Stream(Workload):
    """One operation is one parquet file drop of ``DROP_ROWS`` events,
    in event-time order. It ends when both ``daily_alert_stream`` and
    ``running_alert_counts`` have committed a batch holding the drop."""

    name = "stream"
    warm_up = f"query start on 1 drop, then {WARM_DROPS} more"
    input_rows = DROP_ROWS

    def inputs(self, data_dir, seed):
        events = datagen.seeded_events(seed)
        self.staged = []
        staging = os.path.join(data_dir, "drops")
        os.makedirs(staging)
        for i in range(0, events.num_rows, DROP_ROWS):
            path = os.path.join(staging, f"events-{i // DROP_ROWS:04d}.parquet")
            pq.write_table(events.slice(i, DROP_ROWS), path)
            self.staged.append(path)
        self.watch = os.path.join(data_dir, "stream")
        os.makedirs(self.watch)

    def start(self, spark, data_dir, work_dir):
        from pyspark.sql import functions as F

        from big_data_backblaze_hard_drive_failure_spark.plans.mlops import MODEL
        from big_data_backblaze_hard_drive_failure_spark.streaming import (
            daily_alert_stream,
            read_events_stream,
            score_stream,
        )
        from big_data_backblaze_hard_drive_failure_spark.streaming.stateful import (
            running_alert_counts,
        )

        self.spark, self.F, self.model = spark, F, MODEL
        self.progress = _Progress()
        spark.streams.addListener(self.progress)
        self._drop()
        scored = score_stream(
            read_events_stream(spark, self.watch, glob="events-*.parquet"), MODEL
        )
        ckpt = os.path.join(work_dir, "checkpoints")
        daily = (
            daily_alert_stream(scored, THRESHOLD)
            .writeStream.format("memory")
            .queryName("graftbench_daily")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(ckpt, "daily"))
            .start()
        )
        users = (
            running_alert_counts(
                scored.select("user_id", "ts", "failure_probability"), THRESHOLD
            )
            .writeStream.format("memory")
            .queryName("graftbench_users")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(ckpt, "users"))
            .start()
        )
        self.queries = [daily, users]
        self.ids = [str(q.id) for q in self.queries]
        if not self.progress.wait(self.ids, self.dropped_rows, STALL_S):
            raise RuntimeError("streaming queries did not take the first drop")
        for _ in range(WARM_DROPS):
            self.op()

    def _drop(self) -> None:
        path = self.staged[len(os.listdir(self.watch))]
        os.rename(path, os.path.join(self.watch, os.path.basename(path)))
        self.dropped_rows = DROP_ROWS * len(os.listdir(self.watch))

    def op(self):
        self._mark = len(self.progress.events)
        t0 = time.perf_counter()
        self._drop()
        done = self.progress.wait(self.ids, self.dropped_rows, STALL_S)
        latency = time.perf_counter() - t0
        if not done:
            raise RuntimeError(f"drop not committed within {STALL_S:.0f}s")
        return latency, None

    def op_metrics(self, latency, spans):
        """Progress of the batches both queries ran for the last drop."""
        with self.progress.cond:
            batches = self.progress.events[self._mark :]
        m: dict[str, float] = defaultdict(float)
        trigger: dict[str, float] = defaultdict(float)
        last: dict[str, object] = {}
        for qid, p in batches:
            d = p.durationMs
            trigger[qid] += d.get("triggerExecution", 0) / 1000.0
            m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            m["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
            m["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1000.0
            m["streaming.wal_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1000.0
            m["streaming.state_commit_s"] += (
                sum(s.commitTimeMs for s in p.stateOperators) / 1000.0
            )
            m["streaming.batches"] += 1
            m["streaming.empty_batches"] += p.numInputRows == 0
            last[qid] = p
        # the drop is done when the slower query commits: its trigger
        # time is on the critical path
        m["streaming.trigger_s"] = max(trigger.values(), default=0.0)
        m["streaming.detect_wait_s"] = latency - m["streaming.trigger_s"]
        m["streaming.state_rows"] = float(
            sum(s.numRowsTotal for p in last.values() for s in p.stateOperators)
        )
        m["streaming.state_memory_bytes"] = float(
            sum(s.memoryUsedBytes for p in last.values() for s in p.stateOperators)
        )
        return dict(m)

    def check(self, results):
        """The streamed daily alerts equal batch ``alerts_per_day`` over
        the dropped files, and the per-user running counts equal a batch
        count of alerting events per user."""
        from big_data_backblaze_hard_drive_failure_spark.operators import (
            alerts_per_day,
        )
        from big_data_backblaze_hard_drive_failure_spark.streaming import score_stream

        F, spark = self.F, self.spark
        batch = spark.read.parquet(self.watch).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        scored = score_stream(batch, self.model).withColumn(
            "alert",
            F.when(F.col("failure_probability") >= THRESHOLD, 1).otherwise(0),
        )
        want_daily = {tuple(r) for r in alerts_per_day(scored, "ts", "alert").collect()}
        got_daily = {
            tuple(r) for r in spark.sql("SELECT day, alerts FROM graftbench_daily").collect()
        }
        want_users = {
            tuple(r)
            for r in scored.filter("alert = 1").groupBy("user_id").count().collect()
        }
        got_users = {
            tuple(r)
            for r in spark.sql(
                "SELECT user_id, MAX(n_alerts) FROM graftbench_users GROUP BY user_id"
            ).collect()
        }
        ok = want_daily == got_daily and want_users == got_users and bool(want_users)
        return [ok] * len(results)

    def close(self):
        for q in getattr(self, "queries", []):
            q.stop()
        if hasattr(self, "progress"):
            self.spark.streams.removeListener(self.progress)


class _Progress(StreamingQueryListener):
    """Counts the input rows each streaming query has committed."""

    def __init__(self):
        self.cond = threading.Condition()
        self.rows: dict[str, int] = defaultdict(int)
        self.events: list[tuple[str, object]] = []
        self.terminated = False

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self.cond:
            self.rows[str(p.id)] += p.numInputRows
            self.events.append((str(p.id), p))
            self.cond.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.cond:
            self.terminated = True
            self.cond.notify_all()

    def wait(self, ids: list[str], rows: int, timeout: float) -> bool:
        with self.cond:
            return self.cond.wait_for(
                lambda: self.terminated or all(self.rows[q] >= rows for q in ids),
                timeout,
            ) and not self.terminated


WORKLOADS = {w.name: w for w in (Pipeline, Analytic, Stream)}
