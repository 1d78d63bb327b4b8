"""Span recorder for the traced run.

Wrappers are installed around the calls into each ``uts_spark`` layer
from here, before ``uts_spark.registry`` is imported, and every module
that bound one of those names gets the wrapper in its place.  Each span
has a name, a start, an end and its parent; the recorder keeps a bounded
list of raw spans for the artifact and, per (op, layer), the time of the
outermost call, the self time (duration minus the time of its child
spans) and the call count.

Wrappers carry the wrapped function's ``__module__``/``__qualname__``
(``functools.wraps``), so cloudpickle still ships a function that Spark
sends to a Python worker by reference: the worker imports the plain,
unwrapped function.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
import types
from collections import defaultdict

MAX_RAW_SPANS = 20_000

# sources.versioned verbs that only read; every other public verb commits
_VERSIONED_READS = {
    "list_versions", "current_version", "kmv_merge", "kmv_estimate",
    "table_kmv", "kmv_cols_of", "kmv_distinct", "kmv_join_estimate",
    "kmv_overlap_estimate", "plan_join", "join_versioned",
    "suggest_erasure_mode", "read_version", "read_rows_for_ids", "read_ref",
    "table_changes", "list_branches", "read_branch", "branch_changes",
    "read_view_asof",
}


def layer_of(module: str, name: str) -> str | None:
    """The layer a public ``uts_spark`` function belongs to, or None."""
    if module == "uts_spark.sources.tables":
        return "sources.tables.load"
    if module == "uts_spark.sources.versioned":
        return "sources.versioned." + ("read" if name in _VERSIONED_READS else "write")
    if module.startswith("uts_spark.functions.") and (
        "index" in name or module.endswith(".index_protocol")
    ):
        # the protocol facade and the family verbs (minhash, lsh, ivf,
        # ivfpq; marker and snapshot protocols)
        if name.endswith(("_build", "_write")) or "_fit" in name:
            return "index.build"
        for verb in ("probe", "tick"):
            if verb in name:
                return f"index.{verb}"
        return "index.maintain"
    if module == "uts_spark.functions.clustering" and name == "connected_components":
        return "clustering.cc"
    if module.startswith("uts_spark.functions."):
        return "functions.build"
    if module.startswith("uts_spark.operators."):
        return "operators.build"
    return None


class Recorder:
    """Spans of one run, attributed to the op that is open when they start."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.raw: list[tuple] = []
        self.dropped = 0
        # id(original function) -> its wrapper
        self.originals: dict[int, object] = {}
        # (op, layer) -> [outermost_s, self_s, calls]
        self.by_op: dict[tuple, list] = defaultdict(lambda: [0.0, 0.0, 0])

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def begin(self, layer: str, name: str) -> list | None:
        if not self.enabled:
            return None
        st = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        outer = not any(f[1] == layer for f in st)
        frame = [sid, layer, name, time.perf_counter(), 0.0, outer,
                 st[-1][0] if st else None, self.op]
        st.append(frame)
        return frame

    def end(self, frame: list | None) -> None:
        if frame is None:
            return
        t1 = time.perf_counter()
        st = self._stack()
        st.pop()
        sid, layer, name, t0, child, outer, parent, op = frame
        dur = t1 - t0
        if st:
            st[-1][4] += dur
        with self._lock:
            agg = self.by_op[(op, layer)]
            if outer:
                agg[0] += dur
            agg[1] += dur - child
            agg[2] += 1
            if len(self.raw) < MAX_RAW_SPANS:
                self.raw.append((sid, parent, op, layer, name, t0, t1))
            else:
                self.dropped += 1


def _wrap(rec: Recorder, fn, layer: str, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        frame = rec.begin(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.end(frame)
    return wrapper


def _layer_modules() -> list[types.ModuleType]:
    mods = []
    for pkg in ("sources", "functions", "operators", "plans"):
        p = importlib.import_module(f"uts_spark.{pkg}")
        for info in pkgutil.iter_modules(p.__path__):
            mods.append(importlib.import_module(f"uts_spark.{pkg}.{info.name}"))
    return mods


def install(rec: Recorder) -> int:
    """Wrap every layer entry point and rebind it in every loaded
    ``uts_spark`` module; call again after more modules are imported.
    Returns the number of wrapped functions."""
    originals = rec.originals
    for mod in _layer_modules():
        for name, fn in list(vars(mod).items()):
            if (
                name.startswith("_")
                or not isinstance(fn, types.FunctionType)
                or fn.__module__ != mod.__name__
                or hasattr(fn, "__wrapped__")
                or inspect.isgeneratorfunction(fn)
            ):
                continue
            layer = layer_of(mod.__name__, name)
            if layer is not None:
                originals[id(fn)] = _wrap(rec, fn, layer, f"{mod.__name__}.{name}")
    from uts_spark.plans.tsdb import Series

    if not hasattr(Series.query, "__wrapped__"):
        Series.query = _wrap(rec, Series.query, "plans.query", "Series.query")
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("uts_spark"):
            continue
        for name, val in list(vars(mod).items()):
            w = originals.get(id(val))
            if w is not None and w.__wrapped__ is val:
                setattr(mod, name, w)
    return len(originals)

