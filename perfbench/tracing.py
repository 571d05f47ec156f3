"""Spans recorded around the benchmark's calls into the program, and the
Spark counters of a traced run attributed to the query that caused them.

A span has a name, a start, an end, the span that caused it and the per-query
id it shares with every other span of that query. Spans stay in memory and
are written out once, when the run ends.

Spark's own counters come from the application's event log (task metrics,
SQL metrics, job boundaries, streaming progress). Every job a query submits
carries the local property ``perfbench.qid`` that the benchmark sets before
building and executing the query, so jobs, stages and tasks are attributed
to the query, and through the query's builder to the registry module.
"""

from __future__ import annotations

import contextlib
import json
import pathlib
import statistics
import time
from collections import defaultdict
from dataclasses import asdict, dataclass
from datetime import datetime

QID_PROPERTY = "perfbench.qid"
MB = 1024 * 1024
# Stages whose slowest task ran shorter than this are left out of the skew
# ratio: millisecond tasks make max/median noise, not skew.
SKEW_MIN_TASK_MS = 50


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    qid: str | None


class Tracer:
    """Records nested spans while ``enabled``; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        if qid is None and parent is not None:
            qid = self.spans[parent].qid
        index = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent, qid))
        self._open.append(index)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[index].end = time.time()

    def write(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def check_nesting(spans: list[Span]) -> list[str]:
    """Problems with a span tree: a child outside its parent, or a parent
    recorded after its child."""
    problems = []
    for i, s in enumerate(spans):
        if not s.start <= s.end:
            problems.append(f"span {i} {s.name}: end before start")
        if s.parent is None:
            continue
        p = spans[s.parent]
        if s.parent >= i:
            problems.append(f"span {i} {s.name}: parent {s.parent} recorded after it")
        elif not (p.start <= s.start and s.end <= p.end):
            problems.append(f"span {i} {s.name}: outside parent {s.parent} {p.name}")
    return problems


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, [])) for i, s in enumerate(spans)
    ]


# --- event log ---------------------------------------------------------------

# Spark 4.1 SQL metrics of the Python-worker exec nodes (times in ms).
PYTHON_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "data sent to Python workers": "py_sent_bytes",
}
_WANTED = (
    '"SparkListenerJobStart"',
    '"SparkListenerJobEnd"',
    '"SparkListenerTaskEnd"',
    "QueryProgressEvent",
)


@dataclass
class Job:
    qid: str | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job]
    tasks: list[dict]
    progress: list[dict]


def read_event_log(path: pathlib.Path) -> EventLog:
    """Parse the events the layer metrics need from one event-log file."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    progress: list[dict] = []
    with path.open() as fh:
        for line in fh:
            head = line[:120]
            if not any(w in head for w in _WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                qid = (e.get("Properties") or {}).get(QID_PROPERTY)
                jobs[e["Job ID"]] = Job(qid, e["Submission Time"])
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                task = {
                    "qid": job.qid if job else None,
                    "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    # Records, not bytes: the input byte counter misses the
                    # parquet reader's reads here (2 KB for a 1 MB file).
                    "input_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_read_bytes": sum(
                        (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                        for k in ("Remote Bytes Read", "Local Bytes Read")
                    ),
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                }
                for acc in info.get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key:
                        task[key] = task.get(key, 0) + int(acc.get("Update") or 0)
                tasks.append(task)
            else:
                p = e.get("progress") or {}
                if p:
                    progress.append(p)
    return EventLog(jobs, tasks, progress)


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def pass_counters(log: EventLog, qids: set[str], wall_s: float, cores: int) -> dict[str, float]:
    """Executor, Python-worker and sink counters of the tasks of one pass."""
    tasks = [t for t in log.tasks if t["qid"] in qids]
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_ms"])
    skew = [
        max(runs) / max(statistics.median(runs), 1)
        for runs in by_stage.values()
        if len(runs) > 1 and max(runs) >= SKEW_MIN_TASK_MS
    ]
    total = lambda key: sum(t.get(key, 0) for t in tasks)  # noqa: E731
    return {
        "exec.core_busy_ratio": total("run_ms") / 1000 / (wall_s * cores),
        "exec.skew_max": max(skew, default=1.0),
        "exec.task_cpu_s": total("cpu_ns") / 1e9,
        "exec.shuffle_read_mb": total("shuffle_read_bytes") / MB,
        "exec.shuffle_write_mb": total("shuffle_write_bytes") / MB,
        "exec.input_rows": total("input_rows"),
        "exec.spill_mb": total("spill_bytes") / MB,
        "exec.gc_s": total("gc_ms") / 1000,
        "python.worker_s": total("py_run_ms") / 1000,
        "python.boot_s": total("py_boot_ms") / 1000,
        "python.data_sent_mb": total("py_sent_bytes") / MB,
        "sink.bytes_written_mb": total("output_bytes") / MB,
    }


def query_counters(log: EventLog, qid: str, start: float, end: float) -> dict[str, float]:
    """Jobs, tasks and the driver gap of one query: the part of its wall time
    [start, end] (epoch seconds) during which none of its jobs was running."""
    intervals = [
        (max(j.start_ms / 1000, start), min((j.end_ms or j.start_ms) / 1000, end))
        for j in log.jobs.values()
        if j.qid == qid
    ]
    covered = union_length([(a, b) for a, b in intervals if b > a])
    return {
        "jobs": len(intervals),
        "tasks": sum(1 for t in log.tasks if t["qid"] == qid),
        "driver_gap_s": max(0.0, (end - start) - covered),
    }


def streaming_counters(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Micro-batch progress of the streams that ran inside the given windows."""
    inside = [
        p
        for p in log.progress
        if any(a <= _iso_to_epoch(p["timestamp"]) <= b for a, b in windows)
    ]
    last_per_run: dict[str, dict] = {}
    for p in inside:
        last_per_run[p["runId"]] = p
    dur = lambda p, k: (p.get("durationMs") or {}).get(k, 0)  # noqa: E731
    return {
        "streaming.batches": len(inside),
        "streaming.input_rows": sum(
            src.get("numInputRows", 0) for p in inside for src in p.get("sources", [])
        ),
        "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in inside),
        "streaming.commit_ms": sum(dur(p, "walCommit") + dur(p, "commitOffsets") for p in inside),
        "streaming.query_planning_ms": sum(dur(p, "queryPlanning") for p in inside),
        "streaming.state_rows": sum(
            op.get("numRowsTotal", 0)
            for p in last_per_run.values()
            for op in p.get("stateOperators", [])
        ),
    }
