"""Benchmark-owned tracer: spans around the program's public functions.

``wrap_function`` and ``wrap_methods`` replace each target (module function
or class method) with a wrapper, in every module of the program package
that holds a reference to it, so ``from x import f`` call sites are traced
too. A
span records its parent span, the request id active on its thread, its
duration, and the Spark jobs, stages and tasks launched while it was the
innermost span: each span sets its own Spark job group, and the status
tracker is asked for the group's jobs when the span ends. Spans stay in
memory; ``dump`` writes them as JSON lines.

The time the wrappers themselves spend (clock reads, job-group calls,
status-tracker queries) is summed in ``overhead_s``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable

PACKAGE = "stock_data_etl_pipeline_spark"
_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "parent", "rid", "name", "layer", "t0", "t1", "child_s",
                 "jobs", "stages", "tasks", "incl_jobs", "incl_stages",
                 "incl_tasks", "extra")

    def __init__(self, sid, parent, rid, name, layer, t0):
        self.id, self.parent, self.rid = sid, parent, rid
        self.name, self.layer, self.t0 = name, layer, t0
        self.t1 = t0
        self.child_s = 0.0
        self.jobs = self.stages = self.tasks = 0
        self.incl_jobs = self.incl_stages = self.incl_tasks = 0
        self.extra: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "rid": self.rid,
                "name": self.name, "layer": self.layer, "t0": self.t0,
                "dur": self.dur, "self": self.self_s, "jobs": self.jobs,
                "stages": self.stages, "tasks": self.tasks,
                "incl_jobs": self.incl_jobs, **self.extra}


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker() if sc is not None else None
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.t_installed = time.perf_counter()
        self.t_removed: float | None = None

    # -- context ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def request(self, rid: str):
        """Tag every span opened on this thread with request id ``rid``."""
        prev = getattr(self._local, "rid", None)
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str, layer: str) -> Span:
        t = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        s = Span(next(self._ids), parent.id if parent else None,
                 getattr(self._local, "rid", None), name, layer, t)
        s.extra["_parent"] = parent
        if self.sc is not None:
            s.extra["_prev_group"] = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, f"pb-{s.id}")
        st.append(s)
        s.t0 = time.perf_counter()
        self.overhead_s += s.t0 - t
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self._stack().pop()
        parent = s.extra.pop("_parent")
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, s.extra.pop("_prev_group"))
            for jid in self.tracker.getJobIdsForGroup(f"pb-{s.id}"):
                s.jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        s.stages += 1
                        s.tasks += st.numTasks
        s.incl_jobs += s.jobs
        s.incl_stages += s.stages
        s.incl_tasks += s.tasks
        if parent is not None:
            parent.child_s += s.dur
            parent.incl_jobs += s.incl_jobs
            parent.incl_stages += s.incl_stages
            parent.incl_tasks += s.incl_tasks
        with self._lock:
            self.spans.append(s)
        self.overhead_s += time.perf_counter() - s.t1

    # -- patching -----------------------------------------------------------
    def _wrap(self, fn: Callable, name: str, layer: str,
              on_return: Callable | None) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            s = tracer._open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(s)
            if on_return is not None:
                t = time.perf_counter()
                s.extra.update(on_return(args, kwargs, out))
                tracer.overhead_s += time.perf_counter() - t
            return out

        traced.__wrapped__ = fn
        return traced

    def wrap_function(self, module, attr: str, layer: str,
                      on_return: Callable | None = None) -> None:
        """Trace ``module.attr`` and every alias of it in the package."""
        orig = getattr(module, attr)
        wrapped = self._wrap(orig, f"{layer}.{attr}", layer, on_return)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for a, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, a, wrapped)
                    self._undo.append((mod, a, orig))

    def wrap_methods(self, cls, layer: str, names: list[str] | None = None,
                     on_return: dict[str, Callable] | None = None) -> None:
        """Trace the public methods of ``cls`` (or just ``names``)."""
        on_return = on_return or {}
        for a, v in list(vars(cls).items()):
            if a.startswith("_") or not callable(v) or isinstance(v, (staticmethod, classmethod)):
                continue
            if names is not None and a not in names:
                continue
            setattr(cls, a, self._wrap(v, f"{layer}.{a}", layer, on_return.get(a)))
            self._undo.append((cls, a, v))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()
        self.t_removed = time.perf_counter()

    @property
    def traced_s(self) -> float:
        """Wall time the tracer was installed for."""
        return (self.t_removed or time.perf_counter()) - self.t_installed

    # -- summaries ----------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += s.self_s
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict(), default=str) + "\n")
