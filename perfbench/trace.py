"""Spans around calls into the program's layers, kept in memory.

A span records name, layer, parent, start and end. While a span is the
innermost one open on the driver thread, the Spark jobs it launches carry a
job group named after it, so the Spark UI REST API (enabled only in traced
runs) can charge executor time, shuffle and spill, and the time spent in
Python workers, to the span that caused them.
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """Spans of one run. Disabled, every method is a cheap no-op."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def current(self) -> dict | None:
        return self.spans[self._stack[-1]] if self._stack else None

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "id": sid, "parent": parent, "name": name, "layer": layer,
            "group": f"{self.run_id}-{sid}", "t0": time.time(),
            "start": time.perf_counter(), **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["t1"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.spans[parent]["group"], name)

    def wrap(self, owner, attr: str, name: str, layer: str, when=None, after=None):
        """Replace ``owner.attr`` by a wrapper that opens a span per call.

        ``when(tracer)`` decides per call whether to open the span;
        ``after(rec, args, result)`` may add attributes to it."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if when is not None and not when(self):
                return fn(*args, **kwargs)
            with self.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, out)
                return out

        setattr(owner, attr, traced)

    # -- derived quantities ---------------------------------------------------
    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        return self.wall(rec) - sum(self.wall(c) for c in self.children(rec))

    def subtree(self, rec: dict, prune=lambda s: False) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c for c in self.children(s) if not prune(c))
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# -- Spark UI REST metrics --------------------------------------------------------
_DURATION = re.compile(r"^([\d.,]+)\s*(ms|s|m|h)$")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_seconds(value: str) -> float:
    """'total (min, med, max ...)\\n11.1 s (...)' -> 11.1"""
    total = value.split("\n")[-1].split(" (")[0].strip()
    m = _DURATION.match(total)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _rest_time(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


class JobMetrics:
    """Per-job executor metrics of this application, read once at the end
    of a traced run from the Spark UI REST API on localhost."""

    def __init__(self, spark, settle_s: float = 30.0):
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        get = lambda p: json.load(urllib.request.urlopen(base + p, timeout=30))  # noqa: E731
        deadline = time.time() + settle_s
        jobs = get("/jobs")
        while time.time() < deadline:  # the UI event listener lags the jobs
            time.sleep(0.2)
            seen, jobs = jobs, get("/jobs")
            if len(jobs) == len(seen) and all(j["status"] != "RUNNING" for j in jobs):
                break
        stages = {s["stageId"]: s for s in get("/stages")}
        execs = get("/sql?details=true&planDescription=false&offset=0&length=1000000")
        self.jobs = {}
        for j in jobs:
            st = [stages[i] for i in j["stageIds"] if i in stages]
            self.jobs[j["jobId"]] = {
                "group": j.get("jobGroup"),
                "submitted": _rest_time(j["submissionTime"]),
                "run_s": sum(s["executorRunTime"] for s in st) / 1e3,
                "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in st),
                "spill_bytes": sum(
                    s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st
                ),
                "python_s": 0.0,
            }
        for ex in execs:
            ids = [i for i in ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                   if i in self.jobs]
            if not ids:
                continue
            py = sum(
                _metric_seconds(m["value"])
                for n in ex["nodes"] for m in n["metrics"]
                if m["name"] == "time to run Python workers"
            )
            self.jobs[min(ids)]["python_s"] += py

    def for_groups(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def between(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs.values() if t0 <= j["submitted"] <= t1]


def sums(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "run_s": sum(j["run_s"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "python_s": sum(j["python_s"] for j in jobs),
    }
