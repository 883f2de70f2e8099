"""Tests of the benchmark's own logic; none of them starts Spark."""

import os

import duckdb
import pyarrow.parquet as pq
import pytest

import datagen
import worker
from workloads import TEST_SLICE_POSITIVES, Pipeline, Workload


class Fake(Workload):
    """Operations return their index; the gate plants one wrong result."""

    name = "fake"
    input_rows = 10

    def __init__(self, wrong: int | None = None, raises: int | None = None):
        self.n, self.wrong, self.raises = 0, wrong, raises

    def op(self):
        self.n += 1
        if self.n == self.raises:
            raise RuntimeError("planted failure")
        return 0.01 * self.n, self.n

    def check(self, results):
        return [r is not None and r != self.wrong for r in results]


def test_datagen_is_seeded(tmp_path):
    a, b, c = (tmp_path / d for d in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        datagen.write_events(str(d), seed)
        datagen.write_star(str(d), seed, 0.01)
    for table in ("events", "lineitem", "orders", "part"):
        ta = pq.read_table(a / f"{table}.parquet")
        assert ta.equals(pq.read_table(b / f"{table}.parquet"))
        assert not ta.equals(pq.read_table(c / f"{table}.parquet"))
    assert pq.read_metadata(a / "events.parquet").num_rows == datagen.EVENTS_ROWS
    assert datagen.seeded_events(-1).num_rows == datagen.EVENTS_ROWS
    assert pq.read_metadata(a / "lineitem.parquet").num_rows == 6_000


def test_planted_wrong_result_counts_as_failed():
    wl = Fake(wrong=2)
    ops = worker.timed_ops(wl, seconds=0.0)
    assert len(ops) == worker.MIN_OPS
    assert worker.judge(wl, ops) == 1
    assert [o["ok"] for o in ops] == [True, False]


def test_raised_operation_counts_as_failed():
    wl = Fake(raises=1)
    ops = worker.timed_ops(wl, seconds=0.0)
    assert ops[0]["error"] and ops[0]["result"] is None
    assert worker.judge(wl, ops) == 1


def test_gate_that_cannot_run_fails_every_operation():
    class Broken(Fake):
        def check(self, results):
            raise RuntimeError("oracle unavailable")

    wl = Broken()
    assert worker.judge(wl, worker.timed_ops(wl, seconds=0.0)) == worker.MIN_OPS


def test_pipeline_gate_flags_a_planted_wrong_pass(tmp_path):
    datagen.write_events(str(tmp_path), 3)
    wl = Pipeline()
    wl.events = os.path.join(tmp_path, "events.parquet")
    with duckdb.connect() as con:
        positives = con.execute(TEST_SLICE_POSITIVES, [wl.events]).fetchone()[0]
    assert positives > 0
    wl.first = (positives - 5, 40, 5, 0.25)
    planted = [
        wl.first,
        (positives - 5, 40, 5, 0.26),  # threshold moved
        (positives - 4, 40, 5, 0.25),  # tp + fn no longer the positives
        None,  # the pass raised
    ]
    assert wl.check(planted) == [True, False, False, False]


class _NoTracer:
    """Stands in for ``spans.Tracer`` without a Spark session."""

    active = True
    spans: list = []
    overhead_s = 0.0

    def snapshot(self):
        return {}

    def span(self, name, **attrs):
        return worker.contextlib.nullcontext({})


def test_traced_and_untraced_runs_emit_the_same_end_to_end_names(monkeypatch):
    monkeypatch.setattr(worker, "patched", lambda tracer: worker.contextlib.nullcontext())
    monkeypatch.setattr(worker, "summarize_op", lambda tracer, before: {"spark.jobs": 1.0})
    names = {}
    for trace in (False, True):
        wl = Fake()
        ops = worker.timed_ops(wl, 0.0, _NoTracer() if trace else None)
        worker.judge(wl, ops)
        names[trace] = sorted(worker.end_to_end(ops, 1.0, 50.0, wl.input_rows))
        if trace:
            assert [o["traced"] for o in ops] == [False, True]
            layers = worker.per_layer(ops, 1.0)
            assert sorted(layers) == sorted(worker.PER_LAYER)
            assert layers["spark.jobs"]["value"] == 1.0
    assert names[False] == names[True] == sorted(worker.END_TO_END)


def test_trace_mode_alternates_abba_and_balances(monkeypatch):
    monkeypatch.setattr(worker, "patched", lambda tracer: worker.contextlib.nullcontext())
    monkeypatch.setattr(worker, "summarize_op", lambda tracer, before: {})
    clock = iter(range(100))
    monkeypatch.setattr(worker.time, "perf_counter", lambda: float(next(clock)))
    ops = worker.timed_ops(Fake(), 6.0, _NoTracer())
    assert [o["traced"] for o in ops] == [False, True, True, False]


@pytest.mark.parametrize(
    "text, value",
    [
        ("15", 15.0),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n3.6 s (1.7 s, 1.8 s, 1.8 s (stage 6.0: task 5))", 3.6),
        ("total (min, med, max (stageId: taskId))\n6.6 KiB (2.8 KiB, 3.8 KiB, 3.8 KiB (stage 6.0: task 6))", 6.6 * 1024),
        ("total (min, med, max (stageId: taskId))\n1552.0 B (1552.0 B, 1552.0 B, 1552.0 B (stage 1.0: task 2))", 1552.0),
        ("total (min, med, max (stageId: taskId))\n159 ms (78 ms, 81 ms, 81 ms (stage 6.0: task 5))", 0.159),
    ],
)
def test_parse_metric_reads_the_status_store_total(text, value):
    from spans import parse_metric

    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize(
    "env, refused",
    [
        ({}, False),
        ({"SPARK_GRAFT_CPUS": "2"}, False),
        ({"SPARK_GRAFT_CPUS": "4"}, True),
        ({"SPARK_GRAFT_AB_OFF": "cc_fused"}, True),
        ({"SPARK_GRAFT_NO_FANOUT": "1"}, True),
    ],
)
def test_refuses_settings_that_change_the_measured_configuration(env, refused):
    import run

    assert (run.refusal(env) is not None) == refused


def test_benchmark_json_lists_every_metric_the_runs_print():
    import json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == worker.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == worker.PER_LAYER
