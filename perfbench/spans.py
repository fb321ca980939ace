"""Span collector for the benchmark's traced run.

A span wraps one call into a layer's public function (name, start, end,
parent, run id). While a span is open the benchmark sets a Spark job group
named after it, so the jobs, stages and tasks it launched are read back from
``sc.statusTracker()`` when it closes; Python-worker time comes from the
``perf`` UDF profiler (``spark.sql.pyspark.udf.profiler=perf``), read as a
running total before and after the span. Stage shuffle bytes, executor run
time and GC time come from Spark's status REST API on localhost, read once
when the run ends. Spans are kept in memory and written out as JSONL by
:meth:`SpanTracer.dump`.

:class:`NullTracer` is what the untraced run uses: its spans record nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import time
import urllib.request


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class SpanTracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.events: list[dict] = []
        self._next = 0
        self._py_ok = True

    # -- collection -----------------------------------------------------

    def _python_worker_s(self) -> float:
        """Running total of Python-worker time over every UDF profiled so
        far (the perf profiler accumulates per UDF id on the driver)."""
        if not self._py_ok:
            return 0.0
        try:
            res = self.spark._profiler_collector._perf_profile_results
        except AttributeError:
            self._py_ok = False
            return 0.0
        return sum(st.total_tt for st in res.values() if st is not None)

    def _group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        self._next += 1
        rec = {
            "run": self.run_id,
            "id": self._next,
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "group": f"{self.run_id}-{self._next}",
            "attrs": attrs,
        }
        self.stack.append(rec)
        self._group(rec)
        rec["py0"] = self._python_worker_s()
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        except BaseException as e:
            attrs["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["py_s"] = self._python_worker_s() - rec.pop("py0")
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)
            self._jobs(rec)
            self.spans.append(rec)

    def _jobs(self, rec: dict) -> None:
        st = self.sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(rec["group"]))
        stages, tasks = [], 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks:
                    stages.append(s)
                    tasks += si.numCompletedTasks
        rec.update(jobs=jobs, stages=stages, tasks=tasks)

    def event(self, kind: str, **data) -> None:
        self.events.append({"run": self.run_id, "kind": kind, **data})

    def stage_metrics(self) -> dict[int, dict]:
        """Per-stage totals from the status REST API (localhost only)."""
        url = self.sc.uiWebUrl
        if not url:
            return {}
        api = f"{url}/api/v1/applications/{self.sc.applicationId}/stages"
        try:
            with urllib.request.urlopen(api, timeout=30) as r:
                rows = json.load(r)
        except OSError as e:
            print(f"perfbench: status REST API unavailable: {e}", file=sys.stderr)
            return {}
        return {
            s["stageId"]: {
                "run_s": s.get("executorRunTime", 0) / 1e3,
                "gc_s": s.get("jvmGcTime", 0) / 1e3,
                "shuffle_bytes": s.get("shuffleWriteBytes", 0),
            }
            for s in rows
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")
            for ev in self.events:
                f.write(json.dumps(ev, default=str) + "\n")


def wrap(tracer, orig, span_name: str, on_result=None, force=None):
    """``orig`` with a span around each call. ``force``, when given, is
    applied to the result inside the span and its return value is what the
    caller gets. ``on_result(attrs, args, kwargs, result)`` may record
    figures on the span. The wrapper keeps the function's module and name,
    so a closure shipped to a Python worker pickles it by reference and
    runs the original there."""

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        with tracer.span(span_name) as attrs:
            out = orig(*a, **kw)
            if force is not None:
                out = force(out)
            if on_result is not None:
                on_result(attrs, a, kw, out)
            return out

    return wrapper


def instrument(tracer, targets) -> None:
    """Wrap engine functions called from inside other engine functions, for
    the rest of the process.

    ``targets`` is a list of ``(module, attr, span_name, on_result)``. Every
    loaded ``xml2arrow_spark`` module that holds the same function object
    (``from x import f`` at module level) gets the wrapper too."""
    for mod, attr, span_name, on_result in targets:
        orig = getattr(mod, attr)
        wrapper = wrap(tracer, orig, span_name, on_result)
        for name, m in list(sys.modules.items()):
            if name.startswith("xml2arrow_spark") and getattr(m, attr, None) is orig:
                setattr(m, attr, wrapper)


# -- rollup -------------------------------------------------------------


def _union_length(intervals) -> float:
    covered, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return covered + (cur[1] - cur[0] if cur is not None else 0.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(kids.get(s["id"], []))
        for s in spans
    }


def inclusive_jobs(spans: list[dict]) -> dict[int, int]:
    by_id = {s["id"]: s for s in spans}
    total = {s["id"]: len(s["jobs"]) for s in spans}
    for s in sorted(spans, key=lambda r: -r["id"]):
        p = s["parent"]
        if p in by_id:
            total[p] += total[s["id"]]
    return total


def coverage(spans: list[dict], t0: float, t1: float) -> float:
    """Share of [t0, t1] covered by top-level spans."""
    iv = [
        (max(s["start"], t0), min(s["end"], t1))
        for s in spans
        if s["parent"] is None and s["end"] > t0 and s["start"] < t1
    ]
    return _union_length(iv) / (t1 - t0) if t1 > t0 else 0.0


def median_of(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
