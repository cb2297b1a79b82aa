"""Span tracing from outside the engine.

A traced pass rebinds the package's public layer functions with span
wrappers; no program file changes.  A *layer function* is a public
(no leading underscore) module-level function of the ``sources``,
``operators``, ``stats``, ``pipelines`` or ``llmdata`` subpackage that
takes or returns a ``DataFrame`` or ``SparkSession`` -- the driver-side
relational API.  Per-row kernels (codecs, hashers) run on Python
workers and are left alone.  The benchmark adds ``suite`` spans around
the query builders and ``action`` spans around each result's final
materialisation.

Attribution rule: every span sets a Spark job group on entry and
restores its parent's on exit, so each job is charged to the innermost
open span -- the one whose call launched it.  A lazy function launches
no job and is charged nothing; the plan it builds is paid by whichever
span later runs the job (usually ``action``).  Self time is a span's
duration minus its children's; ``driver_s`` is self time during which
none of the span's own jobs was running.

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import pydoc
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("sources", "operators", "stats", "pipelines", "llmdata", "suite", "action")
WRAPPED_LAYERS = ("sources", "operators", "stats", "pipelines", "llmdata")
# functions given a call counter instead of a span (paths below the package)
COUNTED = ("runtime.register_persisted",)
LAYER_FIELDS = (
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("python_cpu_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("driver_s", "s", "lower"),
)
UNITS = {name: unit for name, unit, _ in LAYER_FIELDS}
_MB = 2**20


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    group: str
    t0: float
    w0: float
    py0: float
    t1: float = 0.0
    w1: float = 0.0
    py1: float = 0.0
    children_s: float = 0.0
    children_py: float = 0.0
    error: str | None = None
    # own (innermost-charged) engine counters, filled by attribute_jobs
    job_ids: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    exec_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    job_busy_s: float = 0.0

    @property
    def dur_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur_s - self.children_s

    @property
    def python_cpu_s(self) -> float:
        return (self.py1 - self.py0) - self.children_py

    @property
    def driver_s(self) -> float:
        return max(0.0, self.self_s - self.job_busy_s)

    def value(self, name: str) -> float:
        if name == "jobs":
            return len(self.job_ids)
        return getattr(self, name)


class _Traced:
    """Callable stand-in for a layer function.  It pickles as the
    original (looked up by dotted path on the worker), so closures that
    capture it still ship to Python workers unchanged."""

    def __init__(self, tracer: "Tracer", fn: Callable, layer: str, path: str, short: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._layer, self._path, self._short = fn, tracer, layer, path, short

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        if not tr.recording or threading.get_ident() != tr.thread:
            return self._fn(*args, **kwargs)
        with tr.span(self._layer, self._short):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (pydoc.locate, (self._path,))


class _Counted(_Traced):
    """Stand-in that only counts calls made while recording."""

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        if tr.recording:
            tr.calls[self._short] = tr.calls.get(self._short, 0) + 1
        return self._fn(*args, **kwargs)


def _relational(fn: Callable) -> bool:
    ann = " ".join(str(a) for a in getattr(fn, "__annotations__", {}).values())
    return "DataFrame" in ann or "SparkSession" in ann


class Tracer:
    """In-memory span recorder.

    ``set_group(gid | None)`` sets the engine's job group for the
    calling thread; ``worker_cpu()`` returns cumulative Python-worker
    CPU seconds.  Both default to no-ops so the arithmetic can be
    exercised without an engine.
    """

    def __init__(
        self,
        set_group: Callable[[str | None], None] = lambda gid: None,
        worker_cpu: Callable[[], float] = lambda: 0.0,
        clock: Callable[[], float] = time.perf_counter,
        wall: Callable[[], float] = time.time,
    ):
        self.set_group, self.worker_cpu, self.clock, self.wall = set_group, worker_cpu, clock, wall
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.calls: dict[str, int] = {}
        self.recording = False
        self.thread = threading.get_ident()
        self._ids = itertools.count()
        self._patches: list[tuple[object, str, object, object]] = []

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        parent = self.stack[-1] if self.stack else None
        sid = next(self._ids)
        s = Span(
            id=sid,
            parent=parent.id if parent else None,
            layer=layer,
            name=name,
            group=f"perfbench-{sid}",
            t0=self.clock(),
            w0=self.wall(),
            py0=self.worker_cpu(),
        )
        self.spans.append(s)
        self.stack.append(s)
        self.set_group(s.group)
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            s.t1, s.w1, s.py1 = self.clock(), self.wall(), self.worker_cpu()
            self.stack.pop()
            if parent is not None:
                parent.children_s += s.dur_s
                parent.children_py += s.py1 - s.py0
            self.set_group(parent.group if parent else None)

    # -- rebinding ---------------------------------------------------------
    def install(self, package: str) -> int:
        """Rebind every layer function of ``package`` in every loaded
        module of the package that refers to it, plus call counters for
        the ``COUNTED`` functions that the package has.  Returns the
        number of functions wrapped."""
        if not self._patches:
            self._patches = self._plan_patches(package)
        for mod, attr, _orig, wrapper in self._patches:
            setattr(mod, attr, wrapper)
        return len({id(orig) for _m, _a, orig, _w in self._patches})

    def uninstall(self) -> None:
        for mod, attr, orig, _wrapper in self._patches:
            setattr(mod, attr, orig)

    def _plan_patches(self, package: str):
        pkg = importlib.import_module(package)
        for info in pkgutil.walk_packages(pkg.__path__, package + "."):
            if info.name.split(".")[1] in WRAPPED_LAYERS:
                importlib.import_module(info.name)
        prefix = package + "."
        modules = [(n, m) for n, m in list(sys.modules.items()) if n == package or n.startswith(prefix)]
        wrappers: dict[int, _Traced] = {}
        for name, mod in modules:
            layer = name[len(prefix):].split(".")[0] if name != package else ""
            if layer not in WRAPPED_LAYERS:
                continue
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == name
                    and not attr.startswith("_")
                    and _relational(fn)
                ):
                    path = f"{name}.{attr}"
                    wrappers[id(fn)] = _Traced(self, fn, layer, path, path[len(prefix):])
        for short in COUNTED:
            mod_name, attr = f"{prefix}{short}".rsplit(".", 1)
            fn = getattr(sys.modules.get(mod_name), attr, None)
            if fn is None:
                continue
            wrappers[id(fn)] = _Counted(self, fn, "", f"{prefix}{short}", short)
        patches = []
        for _name, mod in modules:
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and w._fn is val:
                    patches.append((mod, attr, val, w))
        return patches

    # -- engine counters -----------------------------------------------------
    def attribute_jobs(self, source: "JobSource") -> None:
        """Charge each job (and its stages) to the span whose group it
        ran under.  A stage reused by a later job counts once, for the
        job that ran it first."""
        owned = []
        for s in self.spans:
            s.job_ids = sorted(source.job_ids(s.group))
            owned += [(jid, s) for jid in s.job_ids]
        seen_stages: set[int] = set()
        intervals: dict[int, list[tuple[float, float]]] = {}
        for jid, s in sorted(owned, key=lambda p: p[0]):
            job = source.job(jid)
            if job is None:
                continue
            lo, hi = max(job["submit_s"], s.w0), min(job["complete_s"], s.w1)
            if hi > lo:
                intervals.setdefault(s.id, []).append((lo, hi))
            for sid in job["stage_ids"]:
                st = source.stage(sid)
                if sid in seen_stages or st is None or st["status"] == "SKIPPED":
                    continue
                seen_stages.add(sid)
                s.stages += 1
                s.tasks += st["tasks"]
                s.tasks_failed += st["failed_tasks"]
                s.exec_cpu_s += st["cpu_ns"] / 1e9
                s.shuffle_mb += st["shuffle_write_bytes"] / _MB
                s.spill_mb += st["disk_spill_bytes"] / _MB
        for s in self.spans:
            s.job_busy_s = union_length(intervals.get(s.id, []))

    # -- reports ---------------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f, _u, _b in LAYER_FIELDS}
        for s in self.spans:
            if s.layer in LAYERS:
                for f, _u, _b in LAYER_FIELDS:
                    out[f"{s.layer}.{f}"] += s.value(f)
        return out

    def function_metrics(self, wanted: dict[str, tuple[str, ...]]) -> dict[str, float]:
        """``wanted``: function short name -> metric fields.  ``self_s``
        is the function's self time; every other field sums the
        function's span and all spans nested in it, so a function whose
        jobs are launched by a helper it calls still shows them."""
        children: dict[int | None, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)

        def subtree(s: Span):
            yield s
            for c in children.get(s.id, ()):
                yield from subtree(c)

        out = {f"{fn}.{f}": 0.0 for fn, fields in wanted.items() for f in fields}
        for s in self.spans:
            for f in wanted.get(s.name, ()):
                if f == "self_s":
                    out[f"{s.name}.{f}"] += s.self_s
                else:
                    out[f"{s.name}.{f}"] += sum(d.value(f) for d in subtree(s))
        return out

    def tasks_failed(self) -> int:
        return sum(s.tasks_failed for s in self.spans)

    def dump(self) -> list[dict]:
        rows = []
        for s in self.spans:
            d = asdict(s)
            d.update(self_s=s.self_s, python_cpu_s=s.python_cpu_s, driver_s=s.driver_s, jobs=len(s.job_ids))
            rows.append(d)
        return rows

    def reset(self) -> None:
        self.spans, self.stack, self.calls = [], [], {}


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class JobSource:
    """Read-only view of the engine's job and stage records."""

    def job_ids(self, group: str) -> list[int]:
        raise NotImplementedError

    def job(self, job_id: int) -> dict | None:
        raise NotImplementedError

    def stage(self, stage_id: int) -> dict | None:
        raise NotImplementedError


class SparkJobSource(JobSource):
    """Jobs from ``SparkContext.statusTracker()``, stage counters from the
    application status store (works with the UI disabled)."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict | None:
        try:
            j = self._store.job(job_id)
        except Exception:  # noqa: BLE001 -- py4j wraps NoSuchElementException
            return None
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty():
            return None
        submit = sub.get().getTime() / 1000.0
        complete = done.get().getTime() / 1000.0 if not done.isEmpty() else submit
        return {
            "submit_s": submit,
            "complete_s": complete,
            "stage_ids": [int(x) for x in j.stageIds().mkString(",").split(",") if x],
        }

    def stage(self, stage_id: int) -> dict | None:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 -- never-run stage: no record
            return None
        return {
            "status": st.status().toString(),
            "tasks": st.numCompleteTasks() + st.numFailedTasks(),
            "failed_tasks": st.numFailedTasks(),
            "cpu_ns": st.executorCpuTime(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "disk_spill_bytes": st.diskBytesSpilled(),
        }
