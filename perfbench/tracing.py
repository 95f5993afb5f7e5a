"""Tracing from outside the program: spans recorded by the benchmark's
own code, Spark's public ``StreamingQueryListener`` progress events and
the Spark event log.

Spans live in memory and are written once at the end.  Each span is
``{id, parent, name, start, end, attrs}`` with wall-clock seconds.
Micro-batch spans come from progress events (their ``durationMs``
phases become child spans); Spark job spans come from the event log and
hang under their micro-batch (``sql.streaming.queryId`` and
``streaming.sql.batchId`` job properties) or under the benchmark span
named in the job description set before the call.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: order in which a micro-batch runs its timed phases
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(dict(id=sid, parent=parent, name=name,
                               start=start, end=end, attrs=attrs))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()


class NullTracer(Tracer):
    """Untraced runs: the same call sites, nothing recorded."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class ProgressListener(StreamingQueryListener):
    """Keeps every query's progress events (as dicts) and names."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.names: dict[str, str] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self.lock:
            self.names[str(event.id)] = event.name or str(event.id)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def batches(self) -> list[dict]:
        """Progress of micro-batches that ran (idle reports excluded)."""
        with self.lock:
            return [p for p in self.progress
                    if "addBatch" in p.get("durationMs", {})]


def epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(
        iso.replace("Z", "+00:00")).timestamp()


def add_batch_spans(tracer: Tracer, batches: list[dict],
                    sink_of: dict[str, str], parent: int | None) -> dict:
    """One span per micro-batch with its phases as sequential children;
    returns {(queryId, batchId): span id}."""
    ids = {}
    for p in batches:
        start = epoch(p["timestamp"])
        dur = p["durationMs"]
        sid = tracer.add(
            "microbatch", start, start + dur["triggerExecution"] / 1e3, parent,
            sink=sink_of.get(p["id"], p["id"]), batch_id=p["batchId"],
            rows=p["numInputRows"])
        t = start
        for phase in BATCH_PHASES:
            if phase in dur:
                tracer.add(f"microbatch.{phase}", t, t + dur[phase] / 1e3, sid)
                t += dur[phase] / 1e3
        ids[(p["id"], str(p["batchId"]))] = sid
    return ids


def read_event_logs(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _acc(task_info: dict, name: str) -> int:
    return sum(int(a.get("Update", 0)) for a in task_info.get("Accumulables", [])
               if a.get("Name") == name and str(a.get("Update", "")).lstrip("-").isdigit())


def job_description(span: dict) -> str:
    """Spark job description that attaches a call's jobs to its span."""
    return f"span:{span['id']}" if "id" in span else ""


def engine_metrics(events: list[dict], wall_s: float, cores: int,
                   tracer: Tracer, batch_span: dict) -> dict:
    """Spark-engine per-layer metrics from the event log; adds one span
    per Spark job under its micro-batch or under the benchmark span named
    in its job description (``job_description``)."""
    tasks, stage_ids, job_span = [], set(), {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            parent = batch_span.get((props.get("sql.streaming.queryId"),
                                     props.get("streaming.sql.batchId")))
            desc = props.get("spark.job.description") or ""
            if parent is None and desc.startswith("span:"):
                parent = int(desc[5:])
            t = e["Submission Time"] / 1e3
            job_span[e["Job ID"]] = tracer.add("spark.job", t, t, parent,
                                               job_id=e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            tracer.spans[job_span[e["Job ID"]]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            stage_ids.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    run_ms = gc_ms = shuf_w = shuf_r = spill = written = 0
    py_sent = py_ret = 0
    per_stage_read: dict[int, list[int]] = {}
    for t in tasks:
        m = t.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        sw = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        sr_m = m.get("Shuffle Read Metrics", {})
        sr = sr_m.get("Remote Bytes Read", 0) + sr_m.get("Local Bytes Read", 0)
        shuf_w += sw
        shuf_r += sr
        spill += m.get("Disk Bytes Spilled", 0)
        written += m.get("Output Metrics", {}).get("Bytes Written", 0)
        per_stage_read.setdefault(t["Stage ID"], []).append(sr)
        info = t.get("Task Info") or {}
        py_sent += _acc(info, "data sent to Python workers")
        py_ret += _acc(info, "data returned from Python workers")
    heaviest = max(per_stage_read.values(), key=sum, default=[])
    med = statistics.median(heaviest) if heaviest else 0
    mb = 2**20
    return {
        "spark.tasks": len(tasks),
        "spark.stages": len(stage_ids),
        "spark.executor_busy_share": run_ms / 1e3 / (wall_s * cores) if wall_s else 0.0,
        "spark.gc_share": gc_ms / run_ms if run_ms else 0.0,
        "spark.shuffle_write_mb": shuf_w / mb,
        "spark.shuffle_read_mb": shuf_r / mb,
        "spark.shuffle_skew": max(heaviest) / med if med else 0.0,
        "spark.spill_mb": spill / mb,
        "sinks.bytes_written_mb": written / mb,
        "materialize.python_bytes_sent": py_sent,
        "materialize.python_bytes_returned": py_ret,
    }


def state_metrics(prefix: str, operator: str, batches: list[dict]) -> dict:
    """State-store metrics of one stateful operator kind across the job's
    queries: final rows and memory (last batch of each query), median
    commit time per operator instance and batch."""
    ops, last = [], {}
    for p in batches:
        mine = [o for o in p.get("stateOperators", []) if o["operatorName"] == operator]
        ops.extend(mine)
        if mine and p["batchId"] >= last.get(p["id"], (-1, []))[0]:
            last[p["id"]] = (p["batchId"], mine)
    final = [o for _, mine in last.values() for o in mine]
    m = {f"{prefix}.state_rows": sum(o["numRowsTotal"] for o in final),
         f"{prefix}.state_mb": sum(o["memoryUsedBytes"] for o in final) / 2**20,
         f"{prefix}.state_commit_ms_p50": p50(o["commitTimeMs"] for o in ops)}
    if prefix == "dedup":
        m["dedup.state_partitions"] = max(
            (o.get("numShufflePartitions", 0) for o in ops), default=0)
        m["dedup.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return m


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
