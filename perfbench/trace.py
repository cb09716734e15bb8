"""Span tracing from outside the program.

The traced run wraps public functions of the engine's modules at their
import sites (a method on a class, or a module attribute a caller looks up
at call time) and records one span per call. The wrappers live for the rest
of the process; nothing inside the program's files changes.

A span is ``{id, name, start, end, parent, thread, attrs}``. Parents are
per thread; a span opened on a thread with no open span (``foreachBatch``
bodies run on the streaming query's callback thread) takes the innermost
span still open on the thread that installed the tracer, so a micro-batch
nests under the stream that caused it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        rec = {
            "id": next(self._ids), "name": name, "start": time.perf_counter(),
            "end": None, "parent": parent, "thread": threading.get_ident(),
            "attrs": attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``on_result(rec,
        args, kwargs, result)`` may add attributes to the span; it runs
        after the span closes, so its own cost stays out of the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(rec, args, kwargs, result)
            return result

        setattr(owner, attr, traced)

    # ------------------------------------------------------------ summaries

    def _named(self, name: str, since: float | None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (since is None or s["start"] >= since)]

    def total(self, name: str, since: float | None = None) -> float:
        """Summed duration of ``name`` spans that started at or after ``since``."""
        return sum(s["end"] - s["start"] for s in self._named(name, since))

    def count(self, name: str, since: float | None = None) -> int:
        return len(self._named(name, since))

    def attr_sum(self, name: str, key: str, since: float | None = None) -> float:
        return sum(s["attrs"].get(key, 0) for s in self._named(name, since))

    def dump(self, path: str, metrics: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "spans": spans}, fh, indent=1, default=str)
