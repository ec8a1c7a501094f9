"""Spans and Spark counters recorded from outside the program.

Each op is a root span; each call the benchmark makes into a package
layer is a child span named ``<layer>.<call>``. Entering a span sets
the Spark job group to the span id, so every job the call launches is
tagged with it (jobs with no group, such as a streaming query's, are
attributed to the innermost span open when they were submitted).
Spans stay in memory; counters are read from the Spark UI's status
store once, after the timed window, and the whole trace is written
when the run ends.

With tracing off, ``span`` is a no-op context manager.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

COUNTERS = (
    "jobs", "tasks", "failed_tasks", "retried_stages", "run_s",
    "input_bytes", "input_rows", "output_bytes", "output_rows",
    "shuffle_write_bytes", "shuffle_read_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 1
        self.overhead_s = 0.0  # time spent in tracer bookkeeping

    def _set_group(self) -> None:
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"pb-{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        rec = {
            "id": self._next,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "attrs": attrs,
        }
        self._next += 1
        self._stack.append(rec)
        self._set_group()
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            self._set_group()
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t

    # ------------------------------------------------------------------
    # counters
    # ------------------------------------------------------------------
    def _rest(self, what: str):
        base = self.sc.uiWebUrl
        port = base.rsplit(":", 1)[1]
        url = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{self.sc.applicationId}/{what}")
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def attach_counters(self) -> None:
        """Read job and stage metrics from the status store and add each
        span's own counters (``rec['own']``) and subtree totals
        (``rec['total']``)."""
        if not self.enabled:
            return
        jobs = []
        for _ in range(100):  # the listener bus is asynchronous
            jobs = self._rest("jobs")
            if all(j["status"] not in ("RUNNING", "UNKNOWN") for j in jobs):
                break
            time.sleep(0.1)
        stages = {}
        for s in self._rest("stages"):
            stages.setdefault(s["stageId"], []).append(s)
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s["own"] = dict.fromkeys(COUNTERS, 0)
        seen_stages: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            span = self._span_of(j, by_id)
            if span is None:
                continue
            c = span["own"]
            c["jobs"] += 1
            for sid in j["stageIds"]:
                if sid in seen_stages:
                    continue
                for a in stages.get(sid, []):
                    if a["status"] == "SKIPPED":
                        continue
                    seen_stages.add(sid)
                    c["tasks"] += a["numCompleteTasks"] + a["numFailedTasks"]
                    c["failed_tasks"] += a["numFailedTasks"]
                    c["retried_stages"] += a["attemptId"] > 0
                    c["run_s"] += a["executorRunTime"] / 1000.0
                    c["input_bytes"] += a["inputBytes"]
                    c["input_rows"] += a["inputRecords"]
                    c["output_bytes"] += a["outputBytes"]
                    c["output_rows"] += a["outputRecords"]
                    c["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                    c["shuffle_read_bytes"] += a["shuffleReadBytes"]
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)

        def total(s: dict) -> dict:
            t = dict(s["own"])
            for ch in children.get(s["id"], []):
                for k, v in total(ch).items():
                    t[k] += v
            s["total"] = t
            return t

        for root in children.get(None, []):
            total(root)
        for s in self.spans:
            s["self_s"] = self_time(s, children.get(s["id"], []))

    def _span_of(self, job: dict, by_id: dict) -> dict | None:
        group = job.get("jobGroup") or ""
        if group.startswith("pb-"):
            return by_id.get(int(group[3:]))
        t = _epoch(job["submissionTime"])
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        return best

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def _epoch(ts: str) -> float:
    # e.g. "2026-10-17T06:55:01.123GMT"
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()
