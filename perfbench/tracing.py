"""Traced-run instrumentation, all of it in the benchmark's own code
around calls into the package's public entry points.

- ``Tracer`` keeps spans in memory (workload → operation → build/exec,
  or micro-batch → trigger phases and the sink call; spans of one
  operation share its ``op`` ID), counts py4j commands around builder
  calls and tags each phase's Spark jobs with a job group.
- ``job_layers`` turns the UI REST API's job and stage tables into
  per-phase job, stage and task counts and executor totals, once the
  traced region is over.
- ``stream_layers`` reads ``StreamingQuery.recentProgress``: trigger
  phases, state-operator metrics and the decode counters.

Nothing here runs in an untraced run except ``stream_layers``, which
reads progress after the query has terminated.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench"
MB = 2**20


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._client = self.sc._gateway._gateway_client
        send = self._client.send_command

        def counting(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        """Stop counting py4j commands."""
        del self._client.send_command

    def span(self, name: str, op: str | None, start: float, end: float,
             parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "op": op, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def phase(self, name: str, op: str, parent: int):
        """Time one phase of an operation and tag the Spark jobs it
        launches with the job group ``perfbench:<op>:<name>``. The
        job-group calls sit outside the py4j count."""
        self.sc.setJobGroup(f"{GROUP_PREFIX}:{op}:{name}", name)
        calls0, t0 = self.py4j_calls, time.time()
        try:
            yield
        finally:
            t1, calls = time.time(), self.py4j_calls - calls0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.span(name, op, t0, t1, parent, py4j_calls=calls)


class TimedSink:
    """Wraps the stream's sink to record one span per ``foreachBatch``
    call; the batch ID is the span's operation ID."""

    def __init__(self, inner, tracer: Tracer, parent: int) -> None:
        self.inner, self.tracer, self.parent = inner, tracer, parent

    def __call__(self, batch_df, epoch_id: int) -> None:
        t0 = time.time()
        try:
            self.inner(batch_df, epoch_id)
        finally:
            self.tracer.span("sink.write", f"batch:{epoch_id}", t0, time.time(), self.parent)


def _wait_listener_bus(sc) -> None:
    """The status store fills from the async listener bus: wait for it to
    drain so the REST tables hold every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _rest(sc, path: str):
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with opener.open(url, timeout=30) as resp:
        return json.load(resp)


EXEC_ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "executor_cpu_s": 0.0,
    "input_rows": 0, "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
    "spill_mb": 0.0, "failed_tasks": 0,
}


def job_layers(sc, label_of) -> dict[str, dict]:
    """``aggregate_jobs`` over the application's REST job and stage tables."""
    _wait_listener_bus(sc)
    return aggregate_jobs(_rest(sc, "jobs"), _rest(sc, "stages"), label_of)


def aggregate_jobs(jobs: list[dict], stages: list[dict], label_of) -> dict[str, dict]:
    """Per-label totals over REST job and stage records.
    ``label_of(job_group)`` names the layer a job belongs to, or None to
    skip it. A stage that several jobs list (a reused shuffle) counts
    once, for the first job that ran it; skipped stages ran no tasks and
    are not counted."""
    out: dict[str, dict] = defaultdict(lambda: dict(EXEC_ZERO))
    owner: dict[int, str] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        label = label_of(j.get("jobGroup"))
        if label is None:
            continue
        out[label]["jobs"] += 1
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, label)
    for st in stages:
        label = owner.get(st["stageId"])
        ran = st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        if label is None or not ran:
            continue
        d = out[label]
        d["stages"] += 1
        d["tasks"] += ran
        d["failed_tasks"] += st.get("numFailedTasks", 0)
        d["task_run_s"] += st.get("executorRunTime", 0) / 1e3
        d["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        d["input_rows"] += st.get("inputRecords", 0)
        d["input_mb"] += st.get("inputBytes", 0) / MB
        d["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / MB
        d["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / MB
        d["spill_mb"] += st.get("diskBytesSpilled", 0) / MB
    return dict(out)


def batch_label(job_group: str | None) -> str | None:
    """``perfbench:<op>:<phase>`` → phase (build or exec)."""
    if not job_group or not job_group.startswith(GROUP_PREFIX + ":"):
        return None
    return job_group.rsplit(":", 1)[1]


def stream_layers(progress: list[dict]) -> dict:
    """Totals over a replay's micro-batches from their progress reports."""
    def ms(key: str) -> int:
        return sum(p["durationMs"].get(key, 0) for p in progress)

    ops = [op for p in progress for op in p.get("stateOperators", [])]
    decode = [p.get("observedMetrics", {}).get("decode_metrics") or {} for p in progress]
    return {
        "stream.batches": len(progress),
        "stream.latest_offset_ms": ms("latestOffset"),
        "stream.get_batch_ms": ms("getBatch"),
        "stream.query_planning_ms": ms("queryPlanning"),
        "stream.add_batch_ms": ms("addBatch"),
        "stream.wal_commit_ms": ms("walCommit"),
        "stream.commit_offsets_ms": ms("commitOffsets"),
        "state.rows": max((o["numRowsTotal"] for o in ops), default=0),
        "state.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state.memory_mb": max((o.get("memoryUsedBytes", 0) for o in ops), default=0) / MB,
        "state.partitions": max((o.get("numShufflePartitions", 0) for o in ops), default=0),
        "state.dropped_late": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "decode.rows_total": sum(d.get("rows_total") or 0 for d in decode),
        "decode.rows_corrupt": sum(d.get("rows_corrupt") or 0 for d in decode),
    }


def progress_spans(tracer: Tracer, progress: list[dict], parent: int) -> None:
    """One span per micro-batch, with its trigger phases as children.
    Spark reports phase durations, not offsets, so each phase span
    starts at the trigger's start."""
    from datetime import datetime

    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        d = p["durationMs"]
        op = f"batch:{p['batchId']}"
        sid = tracer.span("trigger", op, start, start + d.get("triggerExecution", 0) / 1e3,
                          parent, rows=p.get("numInputRows", 0))
        for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                      "walCommit", "commitOffsets"):
            if phase in d:
                tracer.span(phase, op, start, start + d[phase] / 1e3, sid)
