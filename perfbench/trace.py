"""Span tracing around the package's public layer boundaries.

``Tracer.install()`` wraps public functions of each layer with spans;
``uninstall()`` restores the originals. Spans live in memory and are
written out once, at the end of the run. Each span records its name,
start, end, parent, the id shared by every span of one day / export /
pass, and the Spark jobs, tasks and failed tasks its own job group ran
(read from the SparkContext status tracker). Children run in their own
job groups, so a span's inclusive counts are its own plus its children's.
The tracer also sums its own bookkeeping time, ``overhead_s``.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

from pyspark import SparkContext


class Tracer:
    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # the tracer's own bookkeeping time

    def _charge(self, since: float) -> float:
        now = time.perf_counter()
        with self._lock:
            self.overhead_s += now - since
        return now

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, trace: str | None = None) -> "_Span":
        return _Span(self, name, trace)

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return jobs, tasks, failed

    # -- wrapping ------------------------------------------------------

    def wrap(self, owner: object, attr: str, name: str, result_attrs=None) -> None:
        """Replace ``owner.attr`` with a traced version."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            sp = tracer.span(name)
            with sp:
                out = original(*args, **kwargs)
            if result_attrs is not None:  # outside the span's time
                t0 = time.perf_counter()
                sp.rec.update(result_attrs(args, kwargs, out))
                tracer._charge(t0)
            return out

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- aggregation ---------------------------------------------------

    def self_times(self) -> None:
        """Set ``self_s``: duration minus the union of the intervals the
        span's direct children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered, end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    end = hi
            s["self_s"] = s["end"] - s["start"] - covered
            kids = children.get(s["id"], ())
            for k in ("jobs", "tasks", "failed_tasks"):
                s[k + "_incl"] = s[k] + sum(c.get(k + "_incl", c[k]) for c in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace: str | None):
        self.tracer = tracer
        self.name = name
        self.trace = trace

    def __enter__(self):
        t0 = time.perf_counter()
        t = self.tracer
        stack = t._stack()
        parent = stack[-1] if stack else None
        with t._lock:
            self.id = next(t._ids)
        self.parent = parent["id"] if parent else 0
        self.trace = self.trace or (parent["trace"] if parent else str(self.id))
        self.group = f"perfbench-span-{self.id}"
        self.outer_group = parent["group"] if parent else None
        t.sc.setJobGroup(self.group, self.name)
        stack.append({"id": self.id, "trace": self.trace, "group": self.group})
        self.start = t._charge(t0)
        return self

    def __exit__(self, exc_type, exc, tb):
        end = time.perf_counter()
        t = self.tracer
        t._stack().pop()
        jobs, tasks, failed = t._job_counts(self.group)
        if self.outer_group:
            t.sc.setJobGroup(self.outer_group, "")
        else:
            t.sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {
            "id": self.id, "parent": self.parent, "trace": self.trace,
            "name": self.name, "start": self.start, "end": end,
            "jobs": jobs, "tasks": tasks, "failed_tasks": failed,
            "error": exc_type.__name__ if exc_type else None,
        }
        self.rec = rec
        with t._lock:
            t.spans.append(rec)
        t._charge(end)
        return False
