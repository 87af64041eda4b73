"""Spans recorded from outside the engine, and the CPU clock.

A span is (id, parent, name, start, end) plus attributes. Each span sets
its own Spark job group, so the jobs, stages, shuffle and spill Spark ran
while the span was innermost are attributed to it through the UI REST
API. Spans stay in memory; ``Tracer.attach_spark_metrics`` reads the REST
API once and ``Tracer.dump`` writes everything out once.
"""

from __future__ import annotations

import functools
import json
import os
import resource
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "group": f"perfbench-span-{len(self.spans)}",
            **attrs,
        }
        self.spans.append(sp)
        prev_group = sc.getLocalProperty(GROUP_PROP)
        sc.setLocalProperty(GROUP_PROP, sp["group"])
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(GROUP_PROP, prev_group)

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``restore``."""
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call until ``restore``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, spanned)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- derived ------------------------------------------------------------

    def children(self, sp: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == sp["id"]]

    def subtree(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, sp: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        return (sp["end"] - sp["start"]) - sum(c["end"] - c["start"] for c in self.children(sp))

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # -- Spark side ------------------------------------------------------------

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def attach_spark_metrics(self) -> None:
        """Attribute every job (by group) and its stages / SQL plan nodes
        to the span that was innermost when it ran."""
        jobs = self._stable(lambda: self._rest("jobs"))
        stages = {(s["stageId"], s["attemptId"]): s for s in self._rest("stages")}
        sqls = self._rest("sql?details=true&planDescription=true&offset=0&length=100000")
        by_group: dict[str, list[dict]] = {}
        job_group: dict[int, str] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if g:
                by_group.setdefault(g, []).append(j)
                job_group[j["jobId"]] = g
        sql_by_group: dict[str, list[dict]] = {}
        for q in sqls:
            ids = q.get("successJobIds", []) + q.get("failedJobIds", []) + q.get("runningJobIds", [])
            groups = {job_group[i] for i in ids if i in job_group}
            for g in groups:
                sql_by_group.setdefault(g, []).append(q)
        for sp in self.spans:
            js = by_group.get(sp["group"], [])
            st = [s for (sid, _a), s in stages.items() if any(sid in j["stageIds"] for j in js)]
            st = [s for s in st if s.get("status") == "COMPLETE"]
            sp["jobs"] = len(js)
            sp["stages"] = len(st)
            sp["tasks"] = sum(s.get("numTasks", 0) for s in st)
            sp["shuffle_write_bytes"] = sum(s.get("shuffleWriteBytes", 0) for s in st)
            sp["shuffle_read_bytes"] = sum(s.get("shuffleReadBytes", 0) for s in st)
            sp["spill_disk_bytes"] = sum(s.get("diskBytesSpilled", 0) for s in st)
            sp["peak_exec_mem_bytes"] = max((s.get("peakExecutionMemory", 0) for s in st), default=0)
            sp["stage_walls"] = [_stage_wall(s) for s in sorted(st, key=lambda s: s["stageId"])]
            sp["sql"] = [
                {"id": q["id"], "plan": q.get("planDescription", ""),
                 "nodes": [{"name": n["nodeName"], "metrics": {m["name"]: m["value"] for m in n.get("metrics", [])}}
                           for n in q.get("nodes", [])]}
                for q in sql_by_group.get(sp["group"], [])
            ]

    def _stable(self, fetch, tries: int = 20):
        """The UI store fills asynchronously: wait until every job ended."""
        for _ in range(tries):
            jobs = fetch()
            if all(j.get("status") != "RUNNING" for j in jobs):
                return jobs
            time.sleep(0.25)
        return jobs

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


def _stage_wall(stage: dict) -> float:
    fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
    try:
        a = datetime.strptime(stage["submissionTime"], fmt)
        b = datetime.strptime(stage["completionTime"], fmt)
    except (KeyError, ValueError):
        return 0.0
    return (b - a).total_seconds()


def cpu_seconds() -> float:
    """CPU seconds used so far by this Python process plus the driver JVM
    (user + system). Time the hypervisor steals is in neither."""
    from pyspark import SparkContext

    ru = resource.getrusage(resource.RUSAGE_SELF)
    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return ru.ru_utime + ru.ru_stime + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and CPU seconds since construction."""

    def __init__(self):
        self.wall0, self.cpu0 = time.perf_counter(), cpu_seconds()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, cpu_seconds() - self.cpu0


EXEC_LAYER = ["exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
              "exec.shuffle_read_bytes", "exec.spill_disk_bytes", "exec.peak_exec_mem_bytes"]


def duration(sp: dict) -> float:
    return sp["end"] - sp["start"]


def exec_totals(spans: list[dict]) -> dict:
    """The ``exec.*`` metrics of the Spark work attributed to ``spans``."""
    return {
        "exec.jobs": sum(s["jobs"] for s in spans),
        "exec.stages": sum(s["stages"] for s in spans),
        "exec.tasks": sum(s["tasks"] for s in spans),
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in spans),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in spans),
        "exec.spill_disk_bytes": sum(s["spill_disk_bytes"] for s in spans),
        "exec.peak_exec_mem_bytes": max((s["peak_exec_mem_bytes"] for s in spans), default=0),
    }


def node_rows(spans: list[dict], node_prefix: str, per_node: bool = False) -> int:
    """Output rows of the SQL plan nodes named ``node_prefix*``: their sum,
    or with ``per_node`` the largest."""
    rows = [
        int(str(n["metrics"].get("number of output rows", "0")).replace(",", ""))
        for s in spans for q in s["sql"] for n in q["nodes"] if n["name"].startswith(node_prefix)
    ]
    return max(rows, default=0) if per_node else sum(rows)
