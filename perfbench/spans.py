"""In-memory spans around calls into the engine's layers.

A span is (name, start, end, parent, request id, attributes). Spans of
one request share the request id of its root span; a nested call gets
the enclosing span of its thread as parent. Spans stay in memory until
the benchmark writes them out at the end of a run.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def wrap(self, owner, attr: str, name: str, root: bool = False, note=None):
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` while tracing is on. ``root`` starts a new request id;
        ``note(args, kwargs, result)`` returns extra attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = getattr(self._local, "stack", None)
            if stack is None:
                stack = self._local.stack = []
            sid = next(self._ids)
            parent = stack[-1] if stack else None
            rid = sid if root or parent is None else parent["rid"]
            span = {"id": sid, "name": name, "parent": parent and parent["id"], "rid": rid}
            stack.append(span)
            span["start"] = time.monotonic()
            try:
                result = fn(*args, **kwargs)
            finally:
                span["end"] = time.monotonic()
                stack.pop()
                with self._lock:
                    self.spans.append(span)
            if note is not None:
                span.update(note(args, kwargs, result))
            return result

        setattr(owner, attr, traced)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds not covered by its child spans. Children run in
    their parent's thread, one at a time, so their durations add up."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {
        s["id"]: max(0.0, s["end"] - s["start"] - child.get(s["id"], 0.0))
        for s in spans
    }
