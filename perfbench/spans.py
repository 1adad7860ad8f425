"""Measurement plumbing: layer spans, Spark job/task accounting and the
peak-RSS sampler.

A span records name, start, end, parent and request id. Spark jobs run
under a job group named after the innermost open span, so each span's
jobs and tasks come from ``statusTracker()``. Most layers return lazy
DataFrames; for those the span also runs a ``noop``-sink action on the
output, and the layer's self time is its span minus its child spans
minus the recomputation of its input DataFrames (their own action time).
Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def group_jobs(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        jobs += 1
        info = st.getJobInfo(jid)
        for sid in list(info.stageIds) if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return jobs, tasks


class Span:
    __slots__ = ("name", "start", "end", "parent", "request", "jobs", "tasks",
                 "action_s", "inputs", "children")

    def __init__(self, name: str, parent: "Span | None", request: str | None):
        self.name, self.parent, self.request = name, parent, request
        self.start = time.perf_counter()
        self.end = self.start
        self.jobs = self.tasks = 0
        self.action_s = None  # noop-sink time of a lazy layer's output
        self.inputs: list[Span] = []
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    def recompute_s(self) -> float:
        """What re-executing this span's output costs a consumer: its
        action time, or for a layer that ran no action, its inputs'."""
        if self.action_s is not None:
            return self.action_s
        return sum(s.recompute_s() for s in self.inputs)

    @property
    def self_s(self) -> float:
        """Span time not spent in child spans, nor, when the span ran
        Spark jobs, in re-executing its inputs' plans."""
        own = self.dur - sum(c.dur for c in self.children)
        if self.jobs:
            own -= sum(s.recompute_s() for s in self.inputs)
        return own


class Tracer:
    """Span recorder; a disabled tracer calls straight through."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._outputs: dict[int, tuple[object, Span]] = {}
        self._request: str | None = None

    def _group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb{id(span)}", span.name)

    @contextmanager
    def span(self, name: str, inputs=()):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, self._request)
        s.inputs = [self._outputs[id(df)][1] for df in inputs if id(df) in self._outputs]
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            s.jobs, s.tasks = group_jobs(self.spark, f"pb{id(s)}")
            self.spans.append(s)

    def call(self, name: str, fn, *args, inputs=(), force: bool = True, **kw):
        """Run one layer call in a span. DataFrame arguments that an
        earlier span returned count as inputs; a DataFrame result is
        forced through a ``noop`` sink when ``force``."""
        if not self.enabled:
            return fn(*args, **kw)
        from pyspark.sql import DataFrame

        inputs = list(inputs) + [a for a in (*args, *kw.values()) if isinstance(a, DataFrame)]
        with self.span(name, inputs) as s:
            out = fn(*args, **kw)
            if force and isinstance(out, DataFrame):
                t = time.perf_counter()
                out.write.format("noop").mode("overwrite").save()
                s.action_s = time.perf_counter() - t
        if isinstance(out, DataFrame):
            self._outputs[id(out)] = (out, s)  # holding ``out`` pins its id
        return out

    @contextmanager
    def paused(self):
        """Calls made inside run untraced (set-up and check work)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def request(self, rid: str):
        self._request = rid
        try:
            yield
        finally:
            self._request = None

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str, bool]]):
        """Temporarily route ``module.attr`` through :meth:`call` so layer
        calls made inside the package get spans too. ``targets`` holds
        (module, attribute, span name, force)."""
        saved = [(m, a, getattr(m, a)) for m, a, _, _ in targets]

        def wrap(fn, name, force):
            return lambda *x, **k: self.call(name, fn, *x, force=force, **k)

        try:
            for (m, a, name, force), (_, _, fn) in zip(targets, saved):
                setattr(m, a, wrap(fn, name, force))
            yield
        finally:
            for m, a, fn in saved:
                setattr(m, a, fn)

    def dump(self, path: str) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        rows = [{
            "name": s.name, "start": s.start, "end": s.end,
            "parent": index.get(id(s.parent)), "request": s.request,
            "jobs": s.jobs, "tasks": s.tasks, "self_s": s.self_s,
        } for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(rows, fh)


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: forked Python workers share most of their
    pages with the worker daemon, and summing plain RSS would count those
    pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory (PSS) of this process and all
    its descendants (the JVM and its Python workers) every ``interval`` s."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
