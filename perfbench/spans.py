"""In-memory span recorder for the traced benchmark run.

A span is (id, parent, name, start, end, attrs).  Spans live in a
list until the run ends and are written out once, so recording costs one
``perf_counter`` pair and one list append per span.  Nesting follows a
per-thread stack.

The untraced run uses :class:`NullTracer`, whose ``span`` does nothing, so
the same workload code serves both runs.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "attrs": attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class NullTracer:
    spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None
