"""Spans, Spark job attribution and self times for a traced run.

A span is recorded around each call the benchmark makes into a layer's
public function. Spans stay in memory until the run ends. Each Spark job
is tied to the span that triggered it through a local property, and to
its operation through the job group, so the job intervals read from the
event log become ``exec`` child spans and task metrics roll up per span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    """In-memory span recorder. With ``sc=None`` every call is a no-op,
    so the untraced run executes the same code with no tracing cost."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.op_jobs: dict[int, dict] = {}

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def operation(self, op: int, name: str):
        """One job group per operation; statusTracker counts are read
        as the group closes."""
        if not self.enabled:
            yield
            return
        self.op = op
        self.sc.setJobGroup(f"op{op}", name)
        try:
            with self.span(name):
                yield
        finally:
            self.op_jobs[op] = self._group_counts(f"op{op}")
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)
            self.op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(self._stack[-1]) if self._stack else None
            )

    def _group_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                sinfo = st.getStageInfo(s)
                stages += 1
                tasks += sinfo.numTasks if sinfo else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Jobs (id → start, end, span, op) and finished tasks from the one
    uncompressed event log in ``log_dir``."""
    (name,) = os.listdir(log_dir)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get(SPAN_PROP)
                group = props.get("spark.jobGroup.id") or ""
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000,
                    "end": None,
                    "span": int(span) if span else None,
                    "op": int(group[2:]) if group.startswith("op") else None,
                }
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                tasks.append(
                    {
                        "job": stage_job.get(e["Stage ID"]),
                        "wall": (ti["Finish Time"] - ti["Launch Time"]) / 1000,
                        "failed": bool(ti.get("Failed")),
                        "run": tm.get("Executor Run Time", 0) / 1000,
                        "gc": tm.get("JVM GC Time", 0) / 1000,
                        "in_bytes": im.get("Bytes Read", 0),
                        "in_records": im.get("Records Read", 0),
                        "sr_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "sr_records": sr.get("Total Records Read", 0),
                        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    }
                )
    return jobs, tasks


def _merged(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def add_exec_spans(spans: list[dict], jobs: dict) -> None:
    """Append one ``exec`` child span per Spark job under the span that
    triggered it."""
    for j in sorted(jobs):
        job = jobs[j]
        if job["span"] is None or job["end"] is None:
            continue
        parent = spans[job["span"]]
        spans.append(
            {
                "id": len(spans),
                "name": "exec",
                "start": job["start"],
                "end": job["end"],
                "parent": parent["id"],
                "op": parent["op"],
                "job": j,
            }
        )


def self_times(spans: list[dict]) -> dict[str, float]:
    """Layer → summed self time: each span's duration minus the part of
    it that its children cover. The layer is the span name up to the
    first dot (``sinks.append_parquet`` → ``sinks``)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = _merged(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])
             if min(b, s["end"]) > max(a, s["start"])]
        )
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def job_time_within(span: dict, jobs: dict) -> float:
    """Seconds of ``span`` covered by the Spark jobs it triggered."""
    return _merged(
        [
            (max(j["start"], span["start"]), min(j["end"], span["end"]))
            for j in jobs.values()
            if j["span"] == span["id"] and j["end"] is not None
        ]
    )
