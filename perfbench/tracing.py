"""Spans recorded around the benchmark's calls into each layer, and the
Spark event log read back after the session stops.

A span is (name, start, end, parent).  Spans live in memory and are
written once, at the end of the run.  Every Spark task is attributed to
the innermost span open when the task launched: the benchmark drives the
session from one thread with blocking actions, so a task launched inside a
span's interval was caused by that span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobDescription(JOB_PREFIX + name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                JOB_PREFIX + self.spans[parent]["name"] if parent is not None
                else None
            )

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def root_total_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)

    def innermost(self, t_s: float) -> int | None:
        """Innermost span whose interval holds time ``t_s`` (seconds)."""
        best = None
        for s in self.spans:
            if s["start"] <= t_s <= s["end"]:
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = s["id"]
        return best

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


_TASK_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.executorDeserializeTime": "deser_ms",
    "internal.metrics.resultSerializationTime": "ser_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    "internal.metrics.shuffle.read.recordsRead": "shuffle_read_records",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


def read_event_log(evdir: str) -> list[dict]:
    events = []
    for f in sorted(glob.glob(os.path.join(evdir, "**", "*"), recursive=True)):
        base = os.path.basename(f)
        if os.path.isdir(f) or base.startswith((".", "appstatus")):
            continue
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def attribute_tasks(events: list[dict], tracer: Tracer) -> dict[int, dict]:
    """Per span: task metrics summed over the tasks launched inside it
    (not its children), the set of stages they ran in, and the jobs
    submitted inside it with their submit/complete times (seconds)."""
    per: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stages: dict[int, set] = defaultdict(set)
    job_span: dict[int, int] = {}
    jobs: dict[int, list] = defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            sid = tracer.innermost(e["Submission Time"] / 1000.0)
            if sid is not None:
                job_span[e["Job ID"]] = sid
                jobs[sid].append([e["Submission Time"] / 1000.0, None])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            sid = job_span[e["Job ID"]]
            for j in jobs[sid]:
                if j[1] is None:
                    j[1] = e["Completion Time"] / 1000.0
                    break
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            sid = tracer.innermost(info["Launch Time"] / 1000.0)
            if sid is None:
                continue
            m = per[sid]
            m["tasks"] += 1
            stages[sid].add((e["Stage ID"], e["Stage Attempt ID"]))
            vals = {}
            for a in info.get("Accumulables", ()):
                key = _TASK_ACCUMS.get(a.get("Name"))
                if key is not None:
                    vals[key] = float(a.get("Update") or 0)
            for k, v in vals.items():
                m[k] += v
            m["sched_delay_ms"] += max(
                0.0,
                (info["Finish Time"] - info["Launch Time"])
                - vals.get("run_ms", 0.0) - vals.get("deser_ms", 0.0)
                - vals.get("ser_ms", 0.0) - info.get("Getting Result Time", 0),
            )
    out = {}
    for s in tracer.spans:
        m = dict(per.get(s["id"], {}))
        m["stages"] = len(stages.get(s["id"], ()))
        m["jobs"] = sorted(jobs.get(s["id"], ()))
        out[s["id"]] = m
    return out


def sum_by_name(tracer: Tracer, per_span: dict[int, dict], name: str, key: str,
                descendants: bool = True) -> float:
    """``key`` summed over the spans called ``name`` (and their descendants)."""
    want = {s["id"] for s in tracer.spans if s["name"] == name}
    total = 0.0
    for s in tracer.spans:
        cur = s["id"]
        while descendants and cur is not None and cur not in want:
            cur = tracer.spans[cur]["parent"]
        if cur in want:
            total += per_span[s["id"]].get(key, 0.0)
    return total


def spark_wide(per_span: dict[int, dict], wall_s: float, cores: int) -> dict:
    tot: dict[str, float] = defaultdict(float)
    for m in per_span.values():
        for k, v in m.items():
            if k != "jobs":
                tot[k] += v
    run_s = tot["run_ms"] / 1000.0
    return {
        "spark.executor_run_s": run_s,
        "spark.cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.scheduler_delay_s": tot["sched_delay_ms"] / 1000.0,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_mem_bytes"] + tot["spill_disk_bytes"],
        "spark.tasks": tot["tasks"],
        "spark.stages": tot["stages"],
        "spark.core_util": run_s / max(wall_s * cores, 1e-9),
    }
