"""Tracing for the benchmark's traced run: spans, the Spark event-log
fold and the streaming-progress listener.

Nothing here touches the engine's code. The traced run enables Spark's
own event log through ``get_spark(extra_conf=...)``, tags each op with
``setJobGroup`` and registers a ``StreamingQueryListener``; after the
session stops, ``fold_event_log`` turns the log into per-job and
per-stage records that ``attach_spark_spans`` hangs under the op spans.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from dataclasses import dataclass, field

# A stage runs Python when one of its RDDs is a PythonRDD (RDD API
# lambdas, as in compat/) or comes from a Python physical operator
# (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...).
_PYTHON_RDD = re.compile(r"Python|Pandas|InArrow")


@dataclass
class Span:
    name: str
    kind: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return max(0.0, self.end - self.start)

    def self_time(self) -> float:
        """Duration minus the part of it covered by children (children
        may overlap each other and may spill past the parent's edges)."""
        covered = _union_length(
            [(max(c.start, self.start), min(c.end, self.end)) for c in self.children]
        )
        return max(0.0, self.duration - covered)

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "kind": self.kind,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "self_s": round(self.self_time(), 6),
            **({"attrs": self.attrs} if self.attrs else {}),
            **({"children": [c.to_json() for c in self.children]} if self.children else {}),
        }

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- event log -------------------------------------------------------------


@dataclass
class StageRecord:
    stage_id: int
    attempt: int
    n_tasks: int = 0
    submit_ms: float | None = None
    complete_ms: float | None = None
    python: bool = False
    executor_run_ms: float = 0.0
    executor_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_write_records: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    input_records: float = 0.0
    output_bytes: float = 0.0
    tasks_ended: int = 0
    tasks_failed: int = 0

    @property
    def duration_s(self) -> float:
        if self.submit_ms is None or self.complete_ms is None:
            return 0.0
        return max(0.0, (self.complete_ms - self.submit_ms) / 1000.0)


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submit_ms: float
    complete_ms: float | None = None
    stage_ids: list[int] = field(default_factory=list)
    sql: bool = False
    succeeded: bool = True


@dataclass
class EventLogFold:
    jobs: dict[int, JobRecord] = field(default_factory=dict)
    stages: dict[tuple[int, int], StageRecord] = field(default_factory=dict)
    sql_executions: int = 0

    def job_stages(self, job: JobRecord) -> list[StageRecord]:
        """Stage attempts that ran for ``job`` (skipped stages never get a
        submit event and are left out)."""
        ids = set(job.stage_ids)
        return [s for (sid, _), s in sorted(self.stages.items()) if sid in ids and s.submit_ms is not None]


def _metric(d: dict, *path, default=0.0):
    for p in path:
        if not isinstance(d, dict) or p not in d:
            return default
        d = d[p]
    return d


def fold_event_log(lines) -> EventLogFold:
    """Fold Spark event-log JSON lines into job and stage records."""
    fold = EventLogFold()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = JobRecord(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev.get("Submission Time", 0),
                stage_ids=list(ev.get("Stage IDs", [])),
                sql="spark.sql.execution.id" in props,
            )
            fold.jobs[job.job_id] = job
            for info in ev.get("Stage Infos", []):
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                fold.stages.setdefault(key, StageRecord(*key))
        elif kind == "SparkListenerJobEnd":
            job = fold.jobs.get(ev["Job ID"])
            if job is not None:
                job.complete_ms = ev.get("Completion Time")
                job.succeeded = _metric(ev, "Job Result", "Result", default="") == "JobSucceeded"
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st = fold.stages.setdefault(key, StageRecord(*key))
            st.n_tasks = info.get("Number of Tasks", st.n_tasks)
            st.python = st.python or any(
                _PYTHON_RDD.search(r.get("Name", "") + " " + str(r.get("Scope", "")))
                for r in info.get("RDD Info", [])
            )
            if info.get("Submission Time") is not None:
                st.submit_ms = info["Submission Time"]
            if kind == "SparkListenerStageCompleted":
                st.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st = fold.stages.setdefault(key, StageRecord(*key))
            st.tasks_ended += 1
            if _metric(ev, "Task Info", "Failed", default=False):
                st.tasks_failed += 1
            m = ev.get("Task Metrics") or {}
            st.executor_run_ms += _metric(m, "Executor Run Time")
            st.executor_cpu_ns += _metric(m, "Executor CPU Time")
            st.gc_ms += _metric(m, "JVM GC Time")
            st.shuffle_write_bytes += _metric(m, "Shuffle Write Metrics", "Shuffle Bytes Written")
            st.shuffle_write_records += _metric(m, "Shuffle Write Metrics", "Shuffle Records Written")
            st.shuffle_read_bytes += _metric(m, "Shuffle Read Metrics", "Remote Bytes Read") + _metric(
                m, "Shuffle Read Metrics", "Local Bytes Read"
            )
            st.spill_bytes += _metric(m, "Disk Bytes Spilled")
            st.input_bytes += _metric(m, "Input Metrics", "Bytes Read")
            st.input_records += _metric(m, "Input Metrics", "Records Read")
            st.output_bytes += _metric(m, "Output Metrics", "Bytes Written")
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            fold.sql_executions += 1
    return fold


def read_event_logs(log_dir: str) -> EventLogFold:
    """Fold every event log under ``log_dir``: single-file logs and the
    rolling ``eventlog_v2_<app>/events_<n>_<app>`` layout alike."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path, encoding="utf-8") as f:
                lines.extend(f)
    return fold_event_log(lines)


def attach_spark_spans(op_spans: dict[str, Span], fold: EventLogFold) -> None:
    """Hang each job (and its stages) under the op span whose job group
    it ran in. Spans use epoch seconds, the event log epoch milliseconds."""
    for job in fold.jobs.values():
        parent = op_spans.get(job.group or "")
        if parent is None:
            continue
        end_ms = job.complete_ms if job.complete_ms is not None else job.submit_ms
        js = Span(
            f"job {job.job_id}",
            "spark_job",
            job.submit_ms / 1000.0,
            end_ms / 1000.0,
            {"sql": job.sql},
        )
        for st in fold.job_stages(job):
            end = st.complete_ms if st.complete_ms is not None else st.submit_ms
            js.children.append(
                Span(
                    f"stage {st.stage_id}.{st.attempt}",
                    "spark_stage",
                    st.submit_ms / 1000.0,
                    end / 1000.0,
                    {"tasks": st.n_tasks, "python": st.python},
                )
            )
        parent.children.append(js)


# --- streaming listener ------------------------------------------------------


def make_streaming_listener(sink: list):
    """A ``StreamingQueryListener`` that appends one dict per progress
    event (and a marker per query start) to ``sink``."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            sink.append({"type": "start", "id": str(event.id), "run_id": str(event.runId), "wall": time.time()})

        def onQueryProgress(self, event):
            p = event.progress
            state = [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators]
            sink.append(
                {
                    "type": "progress",
                    "id": str(p.id),
                    "run_id": str(p.runId),
                    "wall": time.time(),
                    "batch": p.batchId,
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s[0] for s in state),
                    "state_bytes": sum(s[1] for s in state),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
