"""The event-log reducer, run on a small recorded log, and the attribution
of streaming progress to operations.

``data/eventlog_small.jsonl`` is a trimmed Spark 4.1 event log of a local[2]
session that ran one untagged job, then two tagged operations:
``op0`` (an eager ``count()`` in its build phase, then a two-stage
shuffle aggregation) and ``op1`` (a ``mapInPandas``).
``data/eventlog_small_spans.json`` holds their phase edges.
"""

import datetime
import json
import os

import pytest

from perfbench import layers

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "eventlog_small_spans.json")) as f:
        spans = [layers.Span(**s) for s in json.load(f)]
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        lines = f.readlines()
    return spans, lines, layers.reduce_event_log(lines, spans)


def _events(lines, kind):
    return [json.loads(x) for x in lines if x.startswith('{"Event":"%s"' % kind)]


def test_jobs_are_attributed_by_the_op_property(recorded):
    spans, lines, out = recorded
    starts = _events(lines, "SparkListenerJobStart")
    tagged = [e for e in starts if (e.get("Properties") or {}).get(layers.OP_PROPERTY)]
    assert len(tagged) < len(starts)  # the untagged job exists and is skipped
    for s in spans:
        want = sum(1 for e in tagged if e["Properties"][layers.OP_PROPERTY] == s.op_id)
        assert out[s.op_id]["operators.jobs"] == want > 0


def test_task_totals_cover_only_tagged_stages(recorded):
    spans, lines, out = recorded
    tasks = _events(lines, "SparkListenerTaskEnd")
    total = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1000.0
    counted = sum(out[s.op_id]["executor.run_s"] for s in spans)
    assert 0 < counted < total
    assert out["op0"]["operators.stages"] >= 2
    assert out["op0"]["executor.cpu_s"] > 0


def test_shuffle_and_python_bytes_land_on_the_right_op(recorded):
    _, _, out = recorded
    assert out["op0"]["executor.shuffle_bytes"] > 0
    assert out["op1"]["executor.shuffle_bytes"] == 0
    assert out["op0"]["functions.python_bytes_sent"] == 0
    assert out["op1"]["functions.python_bytes_sent"] > 0
    assert out["op1"]["functions.python_bytes_returned"] > 0
    assert 0 < out["op1"]["functions.python_stage_run_s"] <= out["op1"]["executor.run_s"]


def test_build_phase_jobs_are_not_exec_phase_work(recorded):
    spans, _, out = recorded
    # op0's eager count() ran while the builder was still building
    assert out["op0"]["exec_phase_run_s"] < out["op0"]["executor.run_s"]
    rows = layers.per_op_layers(spans, out, {}, cpus=2)
    for s in spans:
        r = rows[s.op_id]
        phases = r["operators.build_s"] + r["operators.plan_s"] + r["operators.exec_s"]
        assert phases == pytest.approx(r["wall_s"])
        assert 0 < r["executor.busy_share"] <= 1.0


def test_sink_write_gives_plan_and_exec_and_the_rest_is_dispatch():
    spans = [layers.Span("op0", "a", 100.0, 100.4, 100.4, 101.0),
             layers.Span("op1", "b", 101.0, 101.2, 101.2, 101.5)]
    records = [
        {"func": "count", "start": 100.1, "plan_s": 0.05, "duration_s": 0.2},  # eager, in build
        {"func": "overwrite", "start": 100.42, "plan_s": 0.1, "duration_s": 0.55},
        {"func": "overwrite", "start": 101.21, "plan_s": 0.02, "duration_s": 0.27},
        {"func": "overwrite", "start": 105.0, "plan_s": 1.0, "duration_s": 2.0},  # no span
    ]
    writes = layers.writes_by_op(records, spans)
    assert writes["op0"] == {"executions": 1, "plan_s": 0.1, "duration_s": 0.55}
    assert writes["op1"]["executions"] == 1
    rows = layers.per_op_layers(spans, {}, {}, cpus=2, writes=writes)
    r0, r1 = rows["op0"], rows["op1"]
    assert r0["operators.build_s"] == pytest.approx(0.4)
    assert r0["operators.plan_s"] == pytest.approx(0.1)
    assert r0["operators.exec_s"] == pytest.approx(0.45)
    assert r0["dispatch_s"] == pytest.approx(0.05)
    assert r1["operators.exec_s"] == pytest.approx(0.25)
    assert r1["dispatch_s"] == pytest.approx(0.03)


def _progress(ts, **dur):
    stamp = datetime.datetime.fromtimestamp(ts, datetime.timezone.utc)
    return {
        "timestamp": stamp.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        "numInputRows": 10,
        "durationMs": dur,
        "stateOperators": [{"numRowsTotal": 5, "allUpdatesTimeMs": 40,
                            "commitTimeMs": 7, "numRowsDroppedByWatermark": 1}],
    }


def test_streaming_progress_goes_to_the_op_whose_span_holds_the_trigger():
    spans = [layers.Span("op0", "a", 100.0, 101.0, 101.0, 102.0),
             layers.Span("op1", "b", 102.5, 104.0, 104.0, 105.0)]
    progress = [_progress(100.5, addBatch=300, walCommit=20),
                _progress(101.5, addBatch=100, latestOffset=5),
                _progress(103.0, commitOffsets=9),
                _progress(110.0, addBatch=999)]  # outside every span
    out = layers.streaming_by_op(progress, spans)
    assert out["op0"]["streaming.batches"] == 2
    assert out["op0"]["streaming.add_batch_s"] == pytest.approx(0.4)
    assert out["op0"]["streaming.state_update_s"] == pytest.approx(0.08)
    assert out["op0"]["streaming.state_rows_total"] == 5
    assert out["op0"]["streaming.rows_dropped_by_watermark"] == 2
    assert out["op1"]["streaming.batches"] == 1
    assert out["op1"]["streaming.commit_offsets_s"] == pytest.approx(0.009)
