"""Per-span layer counters, read from outside the engine.

Each span is one public engine call, materialized inside the span and run
under its own Spark job group. After the traced pass the counters come from
the Spark UI REST API (jobs, stages, SQL plan-node metrics), the same
source ``tools/zonal_shuffle_bytes.py`` reads:

- ``s``: span wall time, measured here;
- ``jobs``: Spark jobs the span ran;
- ``driver_gap_s``: span wall minus the union of its jobs' intervals, i.e.
  the time no Spark job was running (planning, collect, driver loops);
- ``task_s``: summed executor run time of the span's completed stages;
- ``shuffle_write_mb``: summed shuffle write of those stages (1e6 bytes);
- ``py_in_rows`` / ``py_in_mb``: rows and bytes sent into Python plan
  nodes (mapInPandas, mapInArrow, applyInPandas/Arrow, Arrow UDFs).
  Bytes are the node's own "data sent to Python workers" metric; rows are
  the output-row count of the nearest counted node below it.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone

PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"
COUNTERS = ("s", "jobs", "driver_gap_s", "task_s", "shuffle_write_mb",
            "py_in_rows", "py_in_mb")

_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def _metric_total(value: str) -> float:
    """The total of a SQL metric string: '1,234' or 'total (min, med,
    max ...)\\n12.3 MiB (...)' -> a number (bytes for size metrics)."""
    line = value.split("\n")[1] if value.startswith("total") else value
    m = re.match(r"\s*([0-9][0-9,]*\.?[0-9]*)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "B",
                                                          1)


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _py_inputs(execution) -> tuple[float, float]:
    """(rows, bytes) sent into the Python nodes of one SQL execution."""
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    children: dict = {}
    for e in execution.get("edges", []):
        children.setdefault(e["toId"], []).append(e["fromId"])

    def metric(node, name):
        for m in node.get("metrics", []):
            if m["name"] == name:
                return _metric_total(m["value"])
        return None

    def rows_below(nid):
        # the nearest descendant that counts rows; row-preserving nodes
        # (Project, codegen wrappers, Exchange) in between carry none
        for c in children.get(nid, []):
            got = metric(nodes[c], ROWS)
            if got is None:
                got = rows_below(c)
            if got is not None:
                return got
        return None

    rows = sent = 0.0
    for nid, node in nodes.items():
        b = metric(node, PY_SENT)
        if b is None:
            continue
        sent += b
        rows += rows_below(nid) or 0.0
    return rows, sent


class Tracer:
    """Records spans as Spark job groups and resolves their counters from
    the UI REST API once the traced pass is over."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.api = self.sc.uiWebUrl.rstrip("/") + "/api/v1/applications"
        self.prefix = ""
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def span(self, name: str, fn):
        """Run ``fn()`` (which must materialize its result) as span
        ``<prefix>.<name>``; returns fn's result. A span opened inside
        another one counts towards both."""
        sp = {"name": f"{self.prefix}.{name}",
              "groups": [f"span-{len(self.spans)}"]}
        self.spans.append(sp)
        self._open.append(sp)
        self.sc.setJobGroup(sp["groups"][0], sp["name"])
        sp["t0"] = time.time()
        try:
            return fn()
        finally:
            sp["t1"] = time.time()
            self._open.pop()
            for outer in self._open:
                outer["groups"].extend(sp["groups"])
            parent = self._open[-1]["groups"][0] if self._open \
                else "untraced"
            self.sc.setJobGroup(parent, parent)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.api}/{self._app}/{path}",
                                    timeout=60) as r:
            return json.load(r)

    def counters(self) -> dict:
        """{span name: {counter: value}}; spans with one name add up."""
        # the REST view is fed by the listener bus: drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        with urllib.request.urlopen(self.api, timeout=60) as r:
            self._app = json.load(r)[0]["id"]
        jobs = self._get("jobs")
        stages = {s["stageId"]: s for s in self._get("stages")
                  if s["status"] == "COMPLETE"}
        sql = self._get("sql?details=true&planDescription=false"
                        "&offset=0&length=100000")
        by_group: dict = {}
        job_group = {}
        for j in jobs:
            g = j.get("jobGroup")
            job_group[j["jobId"]] = g
            by_group.setdefault(g, []).append(j)
        py_by_group: dict = {}
        for ex in sql:
            ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                   + ex.get("runningJobIds", []))
            groups = {job_group.get(i) for i in ids}
            if len(groups) != 1:
                continue
            rows, sent = _py_inputs(ex)
            acc = py_by_group.setdefault(groups.pop(), [0.0, 0.0])
            acc[0] += rows
            acc[1] += sent

        out: dict = {}
        for sp in self.spans:
            js = [j for g in sp["groups"] for j in by_group.get(g, [])]
            wall = sp["t1"] - sp["t0"]
            intervals = [(_ts(j["submissionTime"]), _ts(j["completionTime"]))
                         for j in js if "completionTime" in j]
            stage_ids = {s for j in js for s in j["stageIds"]}
            done = [stages[s] for s in stage_ids if s in stages]
            py = [py_by_group.get(g, (0.0, 0.0)) for g in sp["groups"]]
            c = {
                "s": wall,
                "jobs": len(js),
                "driver_gap_s": max(wall - _union_s(intervals), 0.0),
                "task_s": sum(s["executorRunTime"] for s in done) / 1e3,
                "shuffle_write_mb": sum(s["shuffleWriteBytes"]
                                        for s in done) / 1e6,
                "py_in_rows": sum(p[0] for p in py),
                "py_in_mb": sum(p[1] for p in py) / 1e6,
            }
            prev = out.get(sp["name"])
            out[sp["name"]] = c if prev is None else {
                k: prev[k] + c[k] for k in COUNTERS}
        return out
