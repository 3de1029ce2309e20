"""In-memory spans around the benchmark's calls into each layer, and the
Spark engine metrics of those calls read back from the event log.

A span has a name, start, end, parent and a call id shared by every span
of one top-level call. Spans are kept in memory and written once, when the
run ends. With tracing off, ``Tracer.span`` records nothing and sets no
Spark job description.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "call": parent["call"] if parent else sid,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            # tags every Spark job of this span for the event-log join
            sc.setJobDescription(f"perfbench#{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if sc is not None:
                top = self._stack[-1]["id"] if self._stack else None
                sc.setJobDescription(f"perfbench#{top}" if top else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(sorted(self.spans, key=lambda s: s["start"]), indent=0))


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _acc(task_info: dict, name: str) -> int:
    return sum(
        int(a.get("Update", 0))
        for a in task_info.get("Accumulables", [])
        if a.get("Name") == name
    )


def read_event_log(path: Path) -> tuple[dict, dict, list]:
    """Jobs tagged by a span (span id, submit/complete ms), the stage ->
    job map, and (stage, task info, task metrics) of their tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict, dict]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                if desc.startswith("perfbench#"):
                    jobs[e["Job ID"]] = {
                        "span": int(desc.removeprefix("perfbench#")),
                        "start": e["Submission Time"],
                        "end": e["Submission Time"],
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                tasks.append((e["Stage ID"], e["Task Info"], e.get("Task Metrics") or {}))
    return jobs, stage_job, tasks


def engine_metrics(event_log: Path, spans: list[dict]) -> dict[str, float]:
    """Spark metrics summed over every job run inside a span marked
    ``timed`` (including its child spans), plus ``driver.gap_s``: those
    spans' wall time not covered by any of their jobs' intervals."""
    parent = {s["id"]: s["parent"] for s in spans}
    roots = {s["id"]: s for s in spans if s.get("timed")}

    def root_of(sid):
        while sid is not None and sid not in roots:
            sid = parent.get(sid)
        return sid

    all_jobs, stage_job, all_tasks = read_event_log(event_log)
    jobs = {j: r for j, r in all_jobs.items() if root_of(r["span"]) is not None}
    tasks = [t for t in all_tasks if stage_job[t[0]] in jobs]

    gap = 0.0
    for rid, s in roots.items():
        ivs = [(j["start"] / 1e3, j["end"] / 1e3) for j in jobs.values() if root_of(j["span"]) == rid]
        gap += (s["end"] - s["start"]) - _union(ivs)

    def tm(m, *path):
        for p in path:
            m = m.get(p, {}) if isinstance(m, dict) else {}
        return m if isinstance(m, (int, float)) else 0

    stages: dict[int, list[float]] = {}
    for sid, info, _ in tasks:
        stages.setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])
    widest = max(stages.values(), key=len, default=[])
    med = statistics.median(widest) if widest else 0
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.task_s": sum(tm(m, "Executor Run Time") for _, _, m in tasks) / 1e3,
        "spark.cpu_s": sum(tm(m, "Executor CPU Time") for _, _, m in tasks) / 1e9,
        "spark.gc_s": sum(tm(m, "JVM GC Time") for _, _, m in tasks) / 1e3,
        "spark.shuffle_write_bytes": sum(tm(m, "Shuffle Write Metrics", "Shuffle Bytes Written") for _, _, m in tasks),
        "spark.shuffle_read_bytes": sum(
            tm(m, "Shuffle Read Metrics", "Local Bytes Read") + tm(m, "Shuffle Read Metrics", "Remote Bytes Read")
            for _, _, m in tasks
        ),
        "spark.shuffle_records": sum(tm(m, "Shuffle Write Metrics", "Shuffle Records Written") for _, _, m in tasks),
        "spark.spill_bytes": sum(tm(m, "Memory Bytes Spilled") + tm(m, "Disk Bytes Spilled") for _, _, m in tasks),
        # SQL metrics of the Arrow/pandas Python nodes (ms and bytes)
        "spark.py_worker_s": sum(_acc(i, "time to run Python workers") for _, i, _ in tasks) / 1e3,
        "spark.py_bytes_in": sum(_acc(i, "data sent to Python workers") for _, i, _ in tasks),
        "spark.py_bytes_out": sum(_acc(i, "data returned from Python workers") for _, i, _ in tasks),
        "spark.task_skew": (max(widest) / med) if med else 1.0,
        "driver.gap_s": gap,
    }
    return out
