"""Metric extraction from a small checked-in Spark event log, and the
span recorder."""

import os
import types

import pytest

from perfbench import trace

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


@pytest.fixture(scope="module")
def log():
    return trace.EventLog.from_dir(FIXTURE)


def test_event_log_reads_cores(log):
    assert log.cores == 4


def test_window_sums_the_job_inside_it(log):
    # the fixture's first job: stages 0 (3 map tasks) and 1 (2 result
    # tasks), submitted at 10.1 s; the second job starts at 20 s
    w = log.window(10.0, 11.5)
    assert w["jobs"] == 1
    assert w["stages"] == 2
    assert w["tasks"] == 5
    assert w["task_run_s"] == pytest.approx(1.0)
    assert w["task_cpu_s"] == pytest.approx(0.8)
    assert w["gc_s"] == pytest.approx(0.03)
    assert w["spill_bytes"] == 64
    assert w["scan_bytes"] == 3000
    assert w["shuffle_write_bytes"] == 600
    assert w["shuffle_records"] == 60
    assert w["fetch_wait_s"] == pytest.approx(0.05)
    # 1.0 s of task time over 1.5 s of wall on 4 cores
    assert w["core_util"] == pytest.approx(1.0 / 6.0)
    # widest stage is stage 0: max 500 ms over median 100 ms
    assert w["stage_skew"] == pytest.approx(5.0)


def test_window_reads_the_executed_plan(log):
    w = log.window(10.0, 11.5)
    # the AQE-final plan has one shuffle Exchange and one BroadcastExchange
    assert w["exchanges"] == 2
    # collect + build + broadcast driver timings: 120 + 30 + 50 ms
    assert w["broadcast_s"] == pytest.approx(0.2)
    # Filter over HashAggregate: 100 rows in, 10 out (task updates summed)
    assert w["filter_in_rows"] == 100
    assert w["filter_out_rows"] == 10


def test_window_excludes_jobs_outside_it(log):
    w = log.window(19.0, 21.0)
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 1, 1)
    assert w["task_run_s"] == pytest.approx(0.8)
    assert w["exchanges"] == 0
    empty = log.window(30.0, 31.0)
    assert (empty["jobs"], empty["tasks"], empty["task_run_s"]) == (0, 0, 0)


def test_tracer_nests_spans_and_restores_wrapped_calls(tmp_path):
    mod = types.SimpleNamespace(work=lambda x: x * 2)
    orig = mod.work
    tr = trace.Tracer()
    tr.wrap(mod, "work", "layer.work")
    tr.op_id = "0:op"
    with tr.span("op"):
        assert mod.work(3) == 6
    tr.restore()
    assert mod.work is orig
    op, inner = tr.spans
    assert (op["parent"], inner["parent"]) == (None, op["id"])
    assert inner["op_id"] == op["op_id"] == "0:op"
    assert op["start"] <= inner["start"] <= inner["end"] <= op["end"]
    assert tr.op_windows() == [op]
    assert tr.total({"layer.work"}) == pytest.approx(
        inner["end"] - inner["start"]
    )
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    assert len(out.read_text().splitlines()) == 2


def test_written_since_counts_new_and_changed_files(tmp_path):
    (tmp_path / "a").write_bytes(b"xx")
    before = trace.file_state([str(tmp_path)])
    (tmp_path / "b").write_bytes(b"yyy")
    assert trace.written_since(before, [str(tmp_path)]) == (1, 3)
