"""Outside-in tracing: spans recorded by the benchmark around each call it
makes into a layer's public function, with Spark job metrics per span.

A span has a name, start, end, parent span and op id. Its Spark jobs are
labelled with ``setJobGroup`` (group = span id, description = span name),
so after the run the UI's REST API (``/api/v1/applications/<id>/jobs`` and
``/stages``) attributes jobs, task run time, shuffle bytes and spill to the
span that submitted them. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


def _interval_union(intervals: list[tuple[float, float]]) -> float:
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


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _epoch(ts: str | None) -> float | None:
    # REST timestamps look like 2026-10-17T03:50:01.123GMT
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class Tracer:
    """Records spans; ``op`` tags every span opened inside an op span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._ops = 0
        self.pass_: str | None = None  # which pass of the run opened the span

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, op: bool = False, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        outer_op = self._op
        if op:
            self._op = self._ops
            self._ops += 1
        rec = {
            "id": sid, "name": name, "parent": parent, "op": self._op, "pass": self.pass_,
            "group": f"perfbench-{sid}", "start": time.time(), "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._op = outer_op
            self._set_group(self.spans[parent] if parent is not None else None)

    # ------------------------------------------------------------ REST
    def scrape(self, timeout: float = 30.0) -> None:
        """Attach Spark job and stage metrics to every span. Waits until the
        UI has seen every job the status tracker knows for our groups."""
        base = self.sc.uiWebUrl
        if not base:
            raise RuntimeError("traced runs need the Spark UI (spark.ui.enabled)")
        tracker = self.sc.statusTracker()
        want = {j for s in self.spans for j in tracker.getJobIdsForGroup(s["group"])}
        app = self.sc.applicationId

        def get(path):
            with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
                return json.load(r)

        deadline = time.time() + timeout
        while True:
            jobs = get("jobs")
            done = {
                j["jobId"] for j in jobs
                if j.get("status") in ("SUCCEEDED", "FAILED") and j.get("completionTime")
            }
            if want <= done or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in get("stages")}
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        for s in self.spans:
            js = by_group.get(s["group"], [])
            stage_ids = {sid for j in js for sid in j.get("stageIds", [])}
            st = [stages[i] for i in stage_ids if i in stages]
            s["spark"] = {
                "jobs": len(js),
                "intervals": [
                    (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                    for j in js if j.get("submissionTime") and j.get("completionTime")
                ],
                "tasks": sum(x.get("numCompleteTasks", 0) for x in st),
                "executor_run_time_s": sum(x.get("executorRunTime", 0) for x in st) / 1000.0,
                "shuffle_write_bytes": sum(x.get("shuffleWriteBytes", 0) for x in st),
                "spill_bytes": sum(
                    x.get("memoryBytesSpilled", 0) + x.get("diskBytesSpilled", 0)
                    for x in st
                ),
            }

    # ------------------------------------------------------- derived
    def _children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = [(c["start"], c["end"]) for c in self._children(span["id"])]
        covered = _interval_union(_clip(kids, span["start"], span["end"]))
        return span["end"] - span["start"] - covered

    def _subtree_intervals(self, span: dict) -> list[tuple[float, float]]:
        out = list(span.get("spark", {}).get("intervals", []))
        for c in self._children(span["id"]):
            out.extend(self._subtree_intervals(c))
        return out

    def driver_gap(self, span: dict) -> float:
        """Span wall time not covered by any Spark job it (or a child span)
        submitted: driver-side planning, py4j and Python work."""
        jobs = _clip(self._subtree_intervals(span), span["start"], span["end"])
        return span["end"] - span["start"] - _interval_union(jobs)

    def jobs_in(self, span: dict) -> int:
        return span.get("spark", {}).get("jobs", 0) + sum(
            self.jobs_in(c) for c in self._children(span["id"])
        )

    def named(self, name: str, pass_: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["pass"] == pass_]

    def total(self, name: str, pass_: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, pass_))

    def spark_total(self, name: str, key: str, pass_: str) -> float:
        return sum(s.get("spark", {}).get(key, 0) for s in self.named(name, pass_))

    def covered(self, lo: float, hi: float, pass_: str, exclude=("op",)) -> float:
        """Wall time in [lo, hi] covered by the pass's spans, other than the
        ``exclude`` names (op spans group layer spans; they are not a layer)."""
        iv = [
            (s["start"], s["end"]) for s in self.spans
            if s["pass"] == pass_ and s["name"] not in exclude
        ]
        return _interval_union(_clip(iv, lo, hi))

    def write(self, path: str, t0: float) -> None:
        rows = []
        for s in self.spans:
            rec = {k: v for k, v in s.items() if k != "spark"}
            rec["start"] = s["start"] - t0
            rec["end"] = s["end"] - t0
            rec["self_s"] = self.self_time(s)
            if "spark" in s:
                sp = dict(s["spark"])
                sp["intervals"] = [(a - t0, b - t0) for a, b in sp["intervals"]]
                rec["spark"] = sp
            rows.append(rec)
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
