import json
from pathlib import Path

import pytest

from tracing import (
    PER_LAYER,
    EventLog,
    Span,
    event_files,
    layer_metrics,
    read_events,
    skew,
    union_ms,
)

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_v2_local-test"


@pytest.fixture(scope="module")
def log():
    return EventLog(read_events(FIXTURE))


def test_event_files_in_roll_order_without_status_files():
    assert [p.name for p in event_files(FIXTURE)] == [
        "events_1_local-test", "events_2_local-test"
    ]


def test_write_executions_and_accumulator_names(log):
    assert log.write_execs == {2}
    # a name from the AQE plan update is known too
    assert log.acc_names[13] == ("ArrowEvalPython", "number of output rows")
    assert log.layer_of(0) == "scoring"
    assert log.layer_of(1) == "checkpoint"  # no job group: a background write
    assert log.layer_of(2) == "blocking"


def test_window_attributes_tasks_to_layers(log):
    w = log.window(1.0, 2.0)
    scoring = w["layers"]["scoring"]
    assert scoring["task_ms"] == 400
    assert scoring["arrow_rows"] == 507
    assert scoring["arrow_sent"] == 4_000_000
    assert scoring["python_run_ms"] == 80
    assert w["layers"]["checkpoint"]["task_ms"] == 50
    blocking = w["layers"]["blocking"]
    assert blocking["task_ms"] == 60  # the task at t=5 s is outside
    assert blocking["shuffle_write"] == 3_000_000
    assert blocking["task_skew"] == pytest.approx(4.0)
    assert w["spill"] == 5_000_000
    assert w["jobs"] == 3
    assert w["jobs_by_layer"] == {"scoring": 1, "other": 1, "blocking": 1}
    # busy 1100-1400, 1500-1550, 1600-1640 of a 1000 ms window
    assert w["idle_s"] == pytest.approx(0.61)


def test_union_and_skew():
    assert union_ms([(0, 10), (5, 20), (30, 40), (35, 36), (50, 50)]) == 30
    assert union_ms([]) == 0
    assert skew([10, 10, 40]) == 4.0
    assert skew([0, 0]) == 1.0


def test_layer_metrics_split(log, tmp_path):
    for name, files in {"pairs": [["a", 5, 1_000_000]],
                        "links": [["b", 2, 500_000], ["c", 1, 500_000]]}.items():
        (tmp_path / f"{name}._manifest.json").write_text(json.dumps({"files": files}))
    spans = [
        Span("run_dedup", 1.0, 1.95),
        Span("source:transcripts", 1.0, 1.02),
        Span("stage:records", 1.02, 1.05, resumed=True, rows=10),
        Span("stage:pairs", 1.05, 1.45, rows=8),
        Span("stage:links", 1.45, 1.8, rows=2),
        Span("flush", 1.8, 1.85),
        Span("count", 1.85, 1.9),
    ]
    m = layer_metrics(log, spans, 1.0, 2.0, {
        "session_start_s": 5.0, "cpu": {"jvm": 3.0, "python": 1.0},
        "ckpt": str(tmp_path),
    })
    assert list(m) == list(PER_LAYER)
    assert m["checkpoint.resume_s"] == pytest.approx(0.03)
    assert m["checkpoint.bytes_written_mb"] == pytest.approx(2.0)
    assert m["blocking.candidate_pairs"] == 8
    assert m["scoring.link_yield"] == pytest.approx(0.25)
    assert m["scoring.task_s"] == pytest.approx(0.4)
    assert m["scoring.python_run_s"] == pytest.approx(0.08)
    # serial split: records + pairs + links + flush = 0.83 of a 1.0 s wall
    assert m["trace.residual_s"] == pytest.approx(1.0 - 0.83)
    # run_dedup minus every child span
    assert m["dedup.self_s"] == pytest.approx(0.95 - 0.90)
    assert m["clustering.round_s"] == 0.0
