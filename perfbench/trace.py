"""Tracing for the per-layer run (``--trace 1``).

All of it lives on the benchmark side: the program is not modified.
A traced run

- wraps public functions of the engine's modules (``tables.load``,
  ``query.query_cells``, ``PolygonServer._prepare``,
  ``PipelineRunner.run_dataset``, ``warehouse.write_grid_stats`` ...)
  so each call records a span and adds to a per-layer total;
- runs each timed operation under its own Spark job group and reads
  job, stage and task counts for that group from ``statusTracker``;
- keeps spans in memory, so a layer can be split into its parts.

Untraced runs use ``Tracer(enabled=False)``, whose methods do nothing,
so the end-to-end numbers carry none of this cost. The tracer also
times its own bookkeeping, which the run reports as
``trace.overhead_pct``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark=None, enabled: bool = True):
        self.enabled = enabled
        self._spark = spark
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spans: list[dict] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.ms: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block as a span whose parent is the enclosing span
        of the same thread; its duration is appended to ``ms[name]``."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "parent": parent, "name": name, "start": t0, "end": t1}
                )
                self.calls[name] += 1
                self.ms[name].append((t1 - t0) * 1000)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per
        call; ``restore`` puts the original back."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``restore``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap_everywhere(self, func, name: str, modules) -> None:
        """Wrap a function in every module that imported it by name
        (``from g_etl_spark.tables import load``)."""
        for mod in modules:
            if getattr(mod, func.__name__, None) is func:
                self.wrap(mod, func.__name__, name)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark job counts ----------------------------------------------

    @contextlib.contextmanager
    def job_group(self, counts: dict[str, int] | None = None):
        """Run a block under a fresh Spark job group; when it ends, add
        the group's jobs, stages and tasks to ``counts``."""
        if not self.enabled:
            yield
            return
        sc = self._spark.sparkContext
        group = f"perfbench-{next(self._ids)}"
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            sc._jsc.clearJobGroup()
            if counts is not None:
                for k, v in self.group_counts(group).items():
                    counts[k] = counts.get(k, 0) + v
            self.overhead_s += time.perf_counter() - t0

    def group_counts(self, group: str) -> dict[str, int]:
        tracker = self._spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                # stages skipped because their shuffle output was reused
                # report no completed tasks; they did no work
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}
