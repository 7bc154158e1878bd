"""Traced runs: operation spans, a streaming-progress listener, and the
reducer that turns Spark's event log into per-operation layer metrics.

Attribution is by an operation tag: every Spark job a traced operation
submits carries the local property ``perfbench.op`` (streaming queries
inherit it from the thread that started them, so their micro-batch jobs
are tagged too). Streaming progress events and SQL executions are
attributed by time: one client runs operations back to back, so an event
that started inside an operation's span belongs to it.

A query operation's plan and exec split comes from the write's own
``QueryExecution`` (:class:`QueryListener`): plan is its planning
tracker's analysis, optimization and planning phases, exec the rest of its
SQL execution. Only build is timed on the Python side, so build + plan +
exec against the operation's wall is a real check; the residual is Python
and py4j dispatch (``dispatch_s`` in the per-operation rows).
"""

from __future__ import annotations

import datetime
import json
import os
import threading
import time
from dataclasses import dataclass, field

OP_PROPERTY = "perfbench.op"

# Per-layer metric names and units, in report order.
LAYER_UNITS: dict[str, str] = {
    "operators.build_s": "s",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "executor.busy_share": "ratio",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_returned": "bytes",
    "functions.python_stage_run_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_update_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows_total": "rows",
    "streaming.rows_dropped_by_watermark": "rows",
    "ingest.drain_s": "s",
    "ingest.files_per_drain": "files",
    "ingest.queue_wait_s": "s",
    "ingest.backlog_files": "files",
    "ingest.generator_late_max_s": "s",
    "ingest.rows_landed.trades": "rows",
    "ingest.rows_landed.candles": "rows",
    "ingest.rows_landed.order_book": "rows",
    "ingest.rows_landed.companies": "rows",
    "fixtures.materialize_s": "s",
    "session.start_s": "s",
}

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    """One operation: its name and the wall-clock (epoch seconds) edges of
    its phases. Python sees only where the build ends, so a query
    operation has ``plan_end == build_end``; its plan and exec split comes
    from :class:`QueryListener`."""

    op_id: str
    name: str
    start: float
    build_end: float
    plan_end: float
    end: float
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class ProgressListener:
    """Collects every StreamingQueryProgress as a plain dict.

    Built lazily as a ``StreamingQueryListener`` subclass so importing this
    module needs no Spark.
    """

    def __init__(self):
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def as_spark_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.started += 1

            def onQueryProgress(self, event):
                entry = json.loads(event.progress.json)
                with outer._lock:
                    outer.progress.append(entry)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated += 1

        return _Listener()

    def wait_idle(self, timeout: float = 10.0) -> bool:
        """Wait until every started query's termination was delivered
        (events arrive asynchronously on the listener bus)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return True
            time.sleep(0.05)
        return False


class QueryListener:
    """Records every successful SQL execution of the session through a
    py4j-implemented ``QueryExecutionListener``: when its planning began
    (epoch seconds), how long the planning tracker's phases took, and the
    execution's whole duration, which includes that planning."""

    def __init__(self):
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def register(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        outer = self

        class _Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = {}
                it = qe.tracker().phases().iterator()
                while it.hasNext():
                    kv = it.next()
                    phases[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
                if not phases:
                    return
                record = {
                    "func": func_name,
                    "start": min(a for a, _ in phases.values()) / 1000.0,
                    "plan_s": sum(b - a for a, b in phases.values()) / 1000.0,
                    "duration_s": duration_ns / 1e9,
                }
                with outer._lock:
                    outer.records.append(record)

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        spark._jsparkSession.listenerManager().register(_Listener())

    @staticmethod
    def drain(spark) -> None:
        """Wait until the listener bus has delivered every posted event
        (the callbacks above run on it)."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def writes_by_op(records: list[dict], spans: list[Span]) -> dict[str, dict]:
    """Sum the SQL executions whose planning began after an operation's
    build ended and before the operation ended (for a query operation:
    its sink write). Executions during the build (eager actions) stay in
    ``build_s``."""
    out: dict[str, dict] = {}
    ordered = sorted(spans, key=lambda s: s.start)
    for r in records:
        span = next((s for s in ordered if s.build_end <= r["start"] <= s.end), None)
        if span is None:
            continue
        acc = out.setdefault(span.op_id, {"executions": 0, "plan_s": 0.0, "duration_s": 0.0})
        acc["executions"] += 1
        acc["plan_s"] += r["plan_s"]
        acc["duration_s"] += r["duration_s"]
    return out


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def streaming_by_op(progress: list[dict], spans: list[Span]) -> dict[str, dict]:
    """Sum streaming progress into the span whose interval holds each
    trigger's start time."""
    out: dict[str, dict] = {s.op_id: _empty_streaming() for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    for p in progress:
        t = _epoch(p["timestamp"])
        span = next((s for s in ordered if s.start <= t <= s.end), None)
        if span is None:
            continue
        acc = out[span.op_id]
        dur = p.get("durationMs", {})
        acc["streaming.batches"] += 1
        acc["streaming.input_rows"] += int(p.get("numInputRows", 0))
        acc["streaming.add_batch_s"] += dur.get("addBatch", 0) / 1000.0
        acc["streaming.latest_offset_s"] += dur.get("latestOffset", 0) / 1000.0
        acc["streaming.wal_commit_s"] += dur.get("walCommit", 0) / 1000.0
        acc["streaming.commit_offsets_s"] += dur.get("commitOffsets", 0) / 1000.0
        rows_total = 0
        for st in p.get("stateOperators", []):
            acc["streaming.state_update_s"] += st.get("allUpdatesTimeMs", 0) / 1000.0
            acc["streaming.state_commit_s"] += st.get("commitTimeMs", 0) / 1000.0
            acc["streaming.rows_dropped_by_watermark"] += int(
                st.get("numRowsDroppedByWatermark", 0)
            )
            rows_total += int(st.get("numRowsTotal", 0))
        # state size is a level, not a flow: keep the largest seen
        acc["streaming.state_rows_total"] = max(acc["streaming.state_rows_total"], rows_total)
    return out


def _empty_streaming() -> dict:
    return {k: 0 for k in LAYER_UNITS if k.startswith("streaming.")}


def _empty_executor() -> dict:
    keys = [k for k in LAYER_UNITS if k.split(".")[0] in ("executor", "functions")
            and k != "executor.busy_share"]  # derived in per_op_layers
    out = {k: 0 for k in keys}
    out.update({"operators.jobs": 0, "operators.stages": 0, "exec_phase_run_s": 0.0})
    return out


def reduce_event_log(lines, spans: list[Span]) -> dict[str, dict]:
    """Per-operation job, stage, task and Python-boundary totals from an
    event log (an iterable of JSON lines). Jobs belong to the operation
    named by their ``perfbench.op`` property; a job submitted during the
    operation's exec phase also counts toward ``exec_phase_run_s``, the
    numerator of ``executor.busy_share``."""
    by_id = {s.op_id: s for s in spans}
    out = {s.op_id: _empty_executor() for s in spans}
    stage_op: dict[int, str] = {}
    stage_exec: dict[int, bool] = {}
    stage_py: dict[int, float] = {}
    stage_run: dict[int, float] = {}
    ran_stages: dict[str, set] = {s.op_id: set() for s in spans}
    for line in lines:
        if line.startswith('{"Event":"SparkListenerJobStart"'):
            ev = json.loads(line)
            op = (ev.get("Properties") or {}).get(OP_PROPERTY)
            if op not in out:
                continue
            out[op]["operators.jobs"] += 1
            span = by_id[op]
            submitted = ev.get("Submission Time", 0) / 1000.0
            in_exec = span.plan_end <= submitted <= span.end
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
                stage_exec[sid] = in_exec
        elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
            ev = json.loads(line)
            sid = ev.get("Stage ID")
            op = stage_op.get(sid)
            if op is None:
                continue
            acc = out[op]
            ran_stages[op].add(sid)
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            acc["executor.run_s"] += run_s
            acc["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["executor.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            acc["executor.shuffle_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            acc["executor.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            if stage_exec.get(sid):
                acc["exec_phase_run_s"] += run_s
            stage_run[sid] = stage_run.get(sid, 0.0) + run_s
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = a.get("Name")
                if name == _PY_SENT:
                    acc["functions.python_bytes_sent"] += int(a.get("Update", 0))
                    stage_py[sid] = 1.0
                elif name == _PY_RETURNED:
                    acc["functions.python_bytes_returned"] += int(a.get("Update", 0))
                    stage_py[sid] = 1.0
    for sid in stage_py:
        out[stage_op[sid]]["functions.python_stage_run_s"] += stage_run.get(sid, 0.0)
    for op, sids in ran_stages.items():
        out[op]["operators.stages"] = len(sids)
    return out


def read_event_logs(log_dir: str):
    """Yield every line of every event log under ``log_dir``: plain files,
    and the ``events_*`` parts of rolling (``eventlog_v2_*``) directories."""
    for root, dirs, files in os.walk(log_dir):
        dirs.sort()
        for name in sorted(files):
            if os.path.basename(root).startswith("eventlog_v2_") and not name.startswith("events_"):
                continue
            with open(os.path.join(root, name)) as f:
                yield from f


def per_op_layers(spans: list[Span], executor: dict[str, dict],
                  streaming: dict[str, dict], cpus: int,
                  writes: dict[str, dict] | None = None) -> dict[str, dict]:
    """One flat layer-metric dict per operation. With a record in
    ``writes`` (from :func:`writes_by_op`) plan and exec are the JVM's own
    figures and ``dispatch_s`` is what the wall holds beyond build + plan
    + exec; without one they are the span's edges."""
    out = {}
    for s in spans:
        ex = dict(executor.get(s.op_id) or _empty_executor())
        build_s = s.build_end - s.start
        w = (writes or {}).get(s.op_id)
        if w is not None:
            plan_s, exec_s = w["plan_s"], w["duration_s"] - w["plan_s"]
        else:
            plan_s, exec_s = s.plan_end - s.build_end, s.end - s.plan_end
        phase_run = ex.pop("exec_phase_run_s")
        row = {
            "name": s.name,
            "wall_s": s.wall,
            "operators.build_s": build_s,
            "operators.plan_s": plan_s,
            "operators.exec_s": exec_s,
            **ex,
            "executor.busy_share": phase_run / (exec_s * cpus) if exec_s > 0 else 0.0,
        }
        if w is not None:
            row["dispatch_s"] = s.wall - build_s - plan_s - exec_s
        row.update(streaming.get(s.op_id) or _empty_streaming())
        row.update(s.extra)
        out[s.op_id] = row
    return out


def run_means(per_op: dict[str, dict]) -> dict[str, float]:
    """Mean over operations of every numeric per-op layer metric."""
    if not per_op:
        return {}
    keys = {k for row in per_op.values() for k, v in row.items()
            if isinstance(v, (int, float)) and k in LAYER_UNITS}
    n = len(per_op)
    return {k: sum(row.get(k, 0) for row in per_op.values()) / n for k in sorted(keys)}
