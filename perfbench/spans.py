"""In-memory span tracer for the benchmark's traced run.

Spans are recorded by wrappers that the benchmark installs around calls
into the program's modules (``Tracer.wrap``); nothing inside the program
changes. A span records its name, start, end, parent and the id of the
timed operation (job or request) it belongs to. While a span is
open its id is the thread's Spark job description, so the event-log
parser can attribute every Spark job to the span that submitted it.

Without ``--trace`` the benchmark uses :data:`OFF`, whose ``span`` is a
no-op context; it installs only the wrappers that every run needs.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # SparkContext whose job description follows the span
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _describe(self, span: dict | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.job.description", f"span:{span['id']}" if span else None
            )

    @contextlib.contextmanager
    def span(self, name: str, rid=None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "attrs": attrs,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(sp)
        self._describe(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self._describe(parent)
            with self._lock:
                self.spans.append(sp)

    def traced(self, fn, name: str, attrs_of=None, **attrs):
        """``fn`` wrapped in a span. ``attrs_of(args, kwargs, result)`` may
        add span attributes after the call returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **attrs) as sp:
                result = fn(*args, **kwargs)
                if attrs_of is not None:
                    sp["attrs"].update(attrs_of(args, kwargs, result))
                return result

        return traced

    def patch(self, target, key: str, value) -> None:
        """Set ``target[key]`` (a dict) or ``target.key`` (a module or
        class) to ``value`` until :meth:`unwrap_all`."""
        if isinstance(target, dict):
            raw = target[key]
            target[key] = value
            self._restore.append(lambda: target.__setitem__(key, raw))
        else:
            raw = target.__dict__[key]
            setattr(target, key, value)
            self._restore.append(lambda: setattr(target, key, raw))

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Wrap the module or class attribute ``owner.attr`` in a span
        until :meth:`unwrap_all`."""
        raw = owner.__dict__[attr]
        if isinstance(raw, staticmethod):
            self.patch(owner, attr, staticmethod(self.traced(raw.__func__, name, attrs_of)))
        else:
            self.patch(owner, attr, self.traced(raw, name, attrs_of))

    def unwrap_all(self) -> None:
        while self._restore:
            self._restore.pop()()

    # -- analysis -------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its child spans cover
        (children of one span never overlap: they run on its thread)."""
        child_s: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child_s[sp["parent"]] += sp["end"] - sp["start"]
        return {
            sp["id"]: max(0.0, sp["end"] - sp["start"] - child_s[sp["id"]])
            for sp in self.spans
        }


class _Off(Tracer):
    """Tracing disabled: spans cost one context-manager entry and record
    nothing; ``patch`` still works for the wrappers every run needs."""

    @contextlib.contextmanager
    def span(self, name: str, rid=None, **attrs):
        yield None


OFF = _Off()
