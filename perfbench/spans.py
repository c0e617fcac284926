"""Spans and Spark counters for the traced benchmark run.

A span wraps one call from the benchmark into an engine module. Spans
are kept in memory (name, start, end, parent span, run id, Spark job
ids) and written out as JSON when the run ends. Each span that can
launch Spark work runs under its own Spark job group, so the jobs,
stages and SQL executions it caused are attributed to it afterwards
from the Spark status REST API (``sc.uiWebUrl``). Nothing is fetched
from the REST API while a workload is being timed.

With tracing off, ``span()`` only yields: no job groups are set and no
spans are kept, so the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request

_UNITS = {"b": 1, "kib": 1 << 10, "mib": 1 << 20, "gib": 1 << 30,
          "tib": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0, "ns": 1e-9}


class Tracer:
    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time one call. ``attrs`` (shape, query, ...) are kept on the
        span; the yielded dict may be updated by the caller."""
        if not self.enabled:
            yield {}
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next, "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id, "group": f"{self.run_id}.{self._next}",
               "jobs": [], **attrs}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's
        interval that its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans,
                       "self_time_s": self.self_times(), **extra}, f,
                      indent=1)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _parse_metric_total(value: str, kind: str) -> float:
    """SQL metric strings: a plain number, or 'total (min, med, max ...)'
    with the total on the second line. Sizes come back in bytes, times
    in seconds."""
    lines = value.strip().splitlines()
    text = lines[1] if len(lines) > 1 and value.startswith("total") \
        else lines[0]
    text = text.split("(")[0].strip().replace(",", "")
    m = re.match(r"([-0-9.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num, unit = float(m.group(1)), m.group(2).lower()
    if kind == "bytes":
        return num * _UNITS.get(unit, 1)
    return num * _UNITS.get(unit, 1e-3)


class SparkCounters:
    """Per job-group Spark counters read from the status REST API once
    the traced work is done."""

    PY_TIME = "time to run Python workers"
    PY_SENT = "data sent to Python workers"

    def __init__(self, sc):
        self.base = sc.uiWebUrl.rstrip("/") + "/api/v1/applications/" + \
            sc.applicationId

    def collect(self, settle_s: float = 60.0) -> dict[str, dict]:
        """{job group: counters}. Waits until the status store holds no
        running job and two reads agree (the listener bus is async)."""
        deadline = time.time() + settle_s
        prev = None
        while True:
            jobs = _get(self.base + "/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if (key == prev and all(j["status"] != "RUNNING" for j in jobs)
                    or time.time() > deadline):
                break
            prev = key
            time.sleep(0.5)
        stages = {s["stageId"]: s for s in _get(self.base + "/stages")
                  if s.get("status") != "SKIPPED"}
        sqls = _get(self.base + "/sql?details=true&planDescription=false"
                    "&offset=0&length=1000000")
        group_of = {}
        out: dict[str, dict] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if not g:
                continue
            group_of[j["jobId"]] = g
            c = out.setdefault(g, _zero())
            c["job_ids"].append(j["jobId"])
            c["jobs"] += 1
            for sid in j.get("stageIds", []):
                st = stages.get(sid)
                if st is None:
                    continue
                c["stages"] += 1
                c["tasks"] += st.get("numCompleteTasks", 0)
                c["task_run_s"] += st.get("executorRunTime", 0) / 1e3
                c["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                c["input_bytes"] += st.get("inputBytes", 0)
                c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                c["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        for ex in sqls:
            ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                   + ex.get("runningJobIds", []))
            groups = {group_of[i] for i in ids if i in group_of}
            if len(groups) != 1:
                continue
            c = out[groups.pop()]
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == self.PY_TIME:
                        c["python_worker_s"] += _parse_metric_total(
                            m["value"], "time")
                    elif m["name"] == self.PY_SENT:
                        c["python_bytes_sent"] += _parse_metric_total(
                            m["value"], "bytes")
        return out


def _zero() -> dict:
    return {"job_ids": [], "jobs": 0, "stages": 0, "tasks": 0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "python_worker_s": 0.0,
            "python_bytes_sent": 0.0}


def attach(tracer: Tracer, counters: dict[str, dict]) -> None:
    """Give every span its own group's job ids and counters."""
    for s in tracer.spans:
        c = counters.get(s["group"])
        if c:
            s["jobs"] = c["job_ids"]
            s["spark"] = {k: v for k, v in c.items() if k != "job_ids"}


def rollup(tracer: Tracer, span: dict) -> dict:
    """Counters of a span plus those of every span nested in it."""
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    tot = _zero()
    del tot["job_ids"]
    todo = [span]
    while todo:
        s = todo.pop()
        for k, v in s.get("spark", {}).items():
            tot[k] += v
        todo.extend(kids.get(s["id"], []))
    return tot
