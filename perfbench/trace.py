"""Benchmark-side tracing: spans recorded by wrappers around the
program's public functions, installed only in this process and only
for a traced run. Spans stay in memory and are written at exit.

A span is ``{id, name, start, end, parent, trace}``; ``trace`` is the
operation it belongs to (a round, a pass, a batch). Spans opened on a
thread with no open span (Spark's foreachBatch callback threads) nest
under the innermost span open on the thread running the operation.
Concurrent children each count in full, so a self time can exceed the
wall time of its parent (thread-seconds).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class NullTracer:
    """Untraced runs: operations are plain blocks, nothing is wrapped."""

    active = False

    @contextlib.contextmanager
    def op(self, trace_id):
        yield

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, n: float = 1) -> None:
        pass

    def reset(self) -> None:
        pass


class Tracer:
    active = True

    def __init__(self):
        self.enabled = False  # only inside a traced operation
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: dict | None = None
        self._main_stack: list | None = None  # span stack of the op's thread
        self.overhead_s = 0.0  # time spent in the wrappers' own work
        self.on_reset: list = []  # callbacks clearing state kept elsewhere
        self._undo: list = []

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._main_stack:  # a callback thread: nest under the op's open span
            parent = self._main_stack[-1]
        else:
            parent = self._root
        s = {"id": next(self._ids), "name": name,
             "parent": parent["id"] if parent else None,
             "trace": parent["trace"] if parent else None,
             "start": time.perf_counter(), "end": None}
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def op(self, trace_id):
        """Root span of one operation; wrappers record only inside one."""
        self.enabled = True
        s = {"id": next(self._ids), "name": "op", "parent": None,
             "trace": str(trace_id), "start": time.perf_counter(), "end": None}
        self._root = s
        self._main_stack = self._stack()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._root = self._main_stack = None
            self.enabled = False
            with self._lock:
                self.spans.append(s)

    def reset(self) -> None:
        """Forget everything recorded so far (the untimed set-up)."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()
            self.overhead_s = 0.0
        for f in self.on_reset:
            f()

    def count(self, name: str, n: float = 1) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    # -- wrappers ---------------------------------------------------------------

    def wrap(self, owner, attr: str, span_name: str, after=None, when=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper;
        ``after(result, args, kwargs, span)`` may record counts, and
        ``when(args, kwargs)`` limits the span to matching calls."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or (when is not None and not when(args, kwargs)):
                return orig(*args, **kwargs)
            with tracer.span(span_name) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(out, args, kwargs, s)
                with tracer._lock:
                    tracer.overhead_s += time.perf_counter() - t0
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis ---------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it that its
        children cover (the union of their intervals)."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
