"""Spans around layer calls, and Spark's own counts for each span.

A span is (name, start, end, parent).  Each span runs its jobs under a
job group of its own, so when the run ends one pull of the UI REST API
(jobs, stages, SQL plan graphs) attributes every job, stage and plan
node to exactly one span.  A span's counts are therefore its *own*
work: the jobs of a child span belong to the child.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

# plan nodes that move rows across the JVM/Python boundary
PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
}
_ROW_METRICS = ("number of output rows", "records read")
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], i: int) -> float:
    """Duration of span ``i`` minus the part of it its children cover
    (the union of the child intervals, so overlapping children are not
    subtracted twice)."""
    s = spans[i]
    kids = sorted((c.start, c.end) for c in spans if c.parent == i)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        a, b = max(a, s.start), min(b, s.end)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return s.duration - covered


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None,
                  group=f"perfbench-{idx}")
        self.spans.append(sp)
        prev = sc.getLocalProperty(GROUP_KEY)
        sc.setLocalProperty(GROUP_KEY, sp.group)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(GROUP_KEY, prev)

    def collect_counts(self, timeout_s: float = 20.0) -> None:
        """Fill ``span.counts`` for every span from the UI REST API."""
        if not self.spans:
            return
        rest = SparkRest(self.spark)
        tracker = self.spark.sparkContext.statusTracker()
        want = {j for s in self.spans for j in tracker.getJobIdsForGroup(s.group)}
        deadline = time.time() + timeout_s
        while True:  # the status store is fed asynchronously by the listener bus
            jobs = {j["jobId"]: j for j in rest.get("/jobs")}
            done = {i for i, j in jobs.items() if j["status"] in ("SUCCEEDED", "FAILED")}
            if want <= done or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in rest.get("/stages") if s["status"] == "COMPLETE"}
        sql = rest.get("/sql?details=true&planDescription=false&length=100000")
        by_group: dict[str, dict] = {s.group: _empty_counts() for s in self.spans}
        seen_stages: set[int] = set()
        for jid in sorted(jobs):
            c = by_group.get(jobs[jid].get("jobGroup"))
            if c is None:
                continue
            c["jobs"] += 1
            for sid in jobs[jid]["stageIds"]:
                st = stages.get(sid)
                if st is None or sid in seen_stages:
                    continue  # skipped (reused) or already counted
                seen_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += st["numTasks"]
                c["exec_run_s"] += st["executorRunTime"] / 1e3
                c["exec_cpu_s"] += st["executorCpuTime"] / 1e9
                c["gc_s"] += st["jvmGcTime"] / 1e3
                c["input_bytes"] += st["inputBytes"]
                c["output_bytes"] += st["outputBytes"]
                c["shuffle_bytes"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                if st["executorRunTime"] > c["_heavy_run"]:
                    c["_heavy_run"] = st["executorRunTime"]
                    c["_heavy_stage"] = (sid, st["attemptId"])
        group_of_job = {jid: j.get("jobGroup") for jid, j in jobs.items()}
        for ex in sql:
            jids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            groups = {group_of_job.get(j) for j in jids} & set(by_group)
            if len(groups) != 1:
                continue
            c = by_group[groups.pop()]
            rows_in, rows_out = _python_rows(ex["nodes"], ex["edges"])
            c["python_rows_in"] += rows_in
            c["python_rows_out"] += rows_out
        for s in self.spans:
            c = by_group[s.group]
            heavy = c.pop("_heavy_stage")
            c.pop("_heavy_run")
            c["task_max_over_p50"] = rest.task_max_over_p50(*heavy) if heavy else 0.0
            s.counts = c

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "self_s": self_time(self.spans, i), "counts": s.counts,
                }) + "\n")


def _empty_counts() -> dict:
    keys = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "input_bytes",
            "output_bytes", "shuffle_bytes", "spill_bytes", "python_rows_in", "python_rows_out")
    c = {k: 0 for k in keys}
    c.update(_heavy_run=-1, _heavy_stage=None)
    return c


def _metric_number(text: str) -> float:
    m = re.match(r"\s*([\d,]+)", text)
    return float(m.group(1).replace(",", "")) if m else 0.0


def _python_rows(nodes: list[dict], edges: list[dict]) -> tuple[float, float]:
    """Rows into and out of the plan's Python nodes.  A Python node's
    input count is the row count of its nearest descendant that keeps
    one (Project and codegen wrappers keep none)."""
    by_id = {n["nodeId"]: n for n in nodes}
    children: dict[int, list[int]] = {}
    for e in edges:
        children.setdefault(e["toId"], []).append(e["fromId"])

    def rows(node: dict) -> float | None:
        for m in node["metrics"]:
            if m["name"] in _ROW_METRICS:
                return _metric_number(m["value"])
        return None

    rows_in = rows_out = 0.0
    for n in nodes:
        if n["nodeName"] not in PYTHON_NODES:
            continue
        rows_out += rows(n) or 0.0
        frontier = list(children.get(n["nodeId"], []))
        while frontier:
            child = by_id.get(frontier.pop())
            if child is None:
                continue
            r = rows(child)
            if r is None:
                frontier.extend(children.get(child["nodeId"], []))
            else:
                rows_in += r
    return rows_in, rows_out


class SparkRest:
    """Minimal client for the Spark UI REST API (localhost only)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def task_max_over_p50(self, stage_id: int, attempt: int) -> float:
        q = self.get(f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")
        run = q["executorRunTime"]
        return float(run[1]) / max(float(run[0]), 1.0)
