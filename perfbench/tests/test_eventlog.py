"""The event-log reduction and the self-time arithmetic, on a hand-built
event log (``fixtures/eventlog.jsonl``) in Spark 4.1's JSON format.

Fixture timeline (epoch seconds): a build span [1000, 1004] that ran job 0;
an execute span [1004, 1006] that ran job 1 (one failed task, one retry);
a streaming build span [1006, 1010] whose micro-batches ran job 2 under the
stream's own job group; and a warm-up job at t=900 outside every measured
span, whose huge figures must not leak into any metric.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.eventlog import EventLog, per_span_jobs, reduce_layers  # noqa: E402
from perfbench.spans import Span, Spans, self_time, union_length  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def _leaves():
    return [
        Span(1, "build", None, 1000.0, 1004.0, {"kind": "build", "query": "q"}),
        Span(2, "execute", None, 1004.0, 1006.0, {"kind": "execute", "query": "q"}),
        Span(3, "build", None, 1006.0, 1010.0, {"kind": "build", "query": "stream_q"}),
    ]


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([(3, 1)]) == 0
    # children overlap each other and spill past the parent's end
    assert self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)
    assert self_time(0, 10, []) == 10


def test_spans_nest_and_time():
    spans = Spans()
    with spans.span("run"):
        with spans.span("build", kind="build") as child:
            pass
    run, build = spans.spans
    assert build.parent == run.id and child is build
    assert run.start <= build.start <= build.end <= run.end


def test_reduce_layers_on_fixture():
    m = reduce_layers(EventLog.read(FIXTURE), _leaves(), cores=4)
    expected = {
        # build spans: 4 s + (4 s - 2.5 s of micro-batches)
        "queries.build_s": 5.5,
        "queries.build_jobs": 1,
        "queries.build_job_s": 1.0,
        "queries.build_self_s": 3.0 + 1.5,
        "exec.jobs": 3,
        "exec.stages": 4,
        "exec.tasks": 6,
        "exec.task_retries": 1,
        "exec.task_success_frac": 5 / 6,
        "exec.run_s": 0.8 + 1.2 + 0.1 + 0.3,
        "exec.cpu_s": 0.5 + 0.9,
        "exec.gc_s": 0.01,
        "exec.slot_idle_frac": 1 - 2.4 / (10 * 4),
        "exec.peak_execution_mb": 1.0,
        "sources.bytes_read": 1000,
        "sources.rows_read": 100,
        "sources.scan_s": 0.05,
        "sources.files_read": 3,
        "shuffle.write_bytes": 4000,
        "shuffle.write_s": 0.002,
        "shuffle.read_bytes": 2000,
        "shuffle.fetch_wait_s": 0.02,
        "spill.disk_bytes": 4096,
        "spill.memory_bytes": 8192,
        "python.run_s": 0.3,
        "python.boot_s": 0.1,  # start only; "initialize" is not summed
        "python.bytes_sent": 111,
        "python.bytes_received": 222,
        "python.rows_received": 7,
        "streaming.batches": 2,
        "streaming.input_rows": 30,
        "streaming.add_batch_s": 1.5,
        "streaming.commit_s": 0.33,
        "streaming.state_rows": 6,
        "streaming.state_mb": 2.0,
    }
    for name, value in expected.items():
        assert m.get(name, 0.0) == pytest.approx(value), name


def test_per_span_jobs_on_fixture():
    assert per_span_jobs(EventLog.read(FIXTURE), _leaves()) == {1: (1, 1), 2: (1, 2), 3: (1, 1)}
