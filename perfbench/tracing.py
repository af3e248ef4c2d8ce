"""Driver-side spans around the program's public functions.

The traced run wraps each declared function from outside the program:
the wrapper records a span (name, parent, thread, start, end) in memory
and tags every Spark job the call submits with ``setJobDescription``, so
the event log can attribute job time to the innermost open span of the
submitting thread. DataFrames are lazy: a span's own duration covers only
the eager work done inside the call; jobs run later by a caller are
attributed to the span open at that time.

Names are patched where they are looked up. ``from x import f`` binds a
second name, so wrapping only the defining module would miss every caller
that imported the function by name; ``install`` replaces every binding of
the original function object in every loaded program module.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time
from contextlib import contextmanager

PROGRAM_PACKAGE = "mysteryann_spark"
TAG_PREFIX = "perfbench-span-"


class Tracer:
    """Spans of one traced run, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @staticmethod
    def _set_tag(tag: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobDescription(tag)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # A thread the program started has no open span of its own: its
        # parent is whatever the main thread has open (the call that
        # started the thread).
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "parent_name": parent["name"] if parent else None,
            "thread": threading.get_ident(),
            "t0": time.time(),
            "t1": None,
        }
        stack.append(rec)
        self._set_tag(f"{TAG_PREFIX}{rec['id']}")
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self._set_tag(f"{TAG_PREFIX}{stack[-1]['id']}" if stack else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self, targets: list[tuple[str, str, str]]) -> None:
        """Wrap each ``(module, function, span name)`` at every binding.

        Loaded modules are patched in place; a module imported later
        binds the wrapper, because the defining module already holds it."""
        for modname, fname, label in targets:
            mod = importlib.import_module(modname)
            orig = getattr(mod, fname)
            wrapped = self.wrap(label, orig)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if mname != PROGRAM_PACKAGE and not mname.startswith(PROGRAM_PACKAGE + "."):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the union of its same-thread children.

    Children on other threads ran concurrently with their parent, so they
    do not reduce its self time."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and p["thread"] == s["thread"]:
            kids.setdefault(p["id"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        covered = union_length(kids.get(s["id"], []), s["t0"], s["t1"])
        out[s["id"]] = max(0.0, (s["t1"] - s["t0"]) - covered)
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
