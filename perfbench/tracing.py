"""Span recorder for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: ``Tracer.wrap`` swaps a
module or class attribute for a timing wrapper and ``Tracer.restore`` puts
the original back. Each span keeps (id, name, start, end, parent, op id,
attrs); spans stay in memory and are written once at exit.

Spans run in the driver process only. Spark tasks run in Python worker
processes the wrappers never reach, so worker-side build work is measured
from manifest lineage and from in-process calls on sampled buckets
(``layers.py``).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.enabled = True
        self.op_id = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        # spans opened on pool threads (search_resident's per-segment
        # workers) have an empty thread stack: they attach to the span the
        # client thread has open, which is the query's root
        self._root = None
        self._patches: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self):
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        if not stack and self._root is None:
            self._root = sid
        stack.append(sid)
        return sid, parent

    def _close(self, sid: int) -> None:
        self._stack().pop()
        if self._root == sid:
            self._root = None

    @contextmanager
    def span(self, name: str, op_id=None, **attrs):
        if op_id is not None:
            self.op_id = op_id
        sid, parent = self._open()
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            self._close(sid)
            self.spans.append((sid, name, t0, t1, parent, self.op_id, attrs))

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Record a span around every call of ``owner.attr``.

        ``before(args, kwargs)`` and ``after(args, kwargs, result)`` return
        dicts of span attributes (counts measured at the boundary)."""
        orig = getattr(owner, attr)
        tracer = self

        # functools.wraps keeps the original's module and qualified name, so
        # a Spark closure that references the attribute pickles it by
        # reference and the Python workers run the original, untraced
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            attrs = before(args, kwargs) if before else {}
            sid, parent = tracer._open()
            t0 = time.perf_counter()
            try:
                res = orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._close(sid)
            if after:
                attrs.update(after(args, kwargs, res))
            tracer.spans.append((sid, name, t0, t1, parent, tracer.op_id, attrs))
            return res

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, op, attrs in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "op": op, "attrs": attrs,
                }, default=str) + "\n")


def self_times(spans: list[tuple]) -> dict[int, float]:
    """span id -> duration minus the part of its interval its children
    cover (children on several threads may overlap; the union counts)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sid, _, t0, t1, parent, _, _ in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _, t0, t1, _, _, _ in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(sid, [])):
            a, b = max(a, t0), min(b, t1)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (t1 - t0) - covered
    return out
