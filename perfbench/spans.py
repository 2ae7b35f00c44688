"""In-memory span recorder for the traced run.

A span is ``(name, start, end, parent, op_id)``: ``parent`` is the index of
the enclosing span (``None`` at top level) and ``op_id`` the benchmark
operation that caused it.  Spans are kept in a list while the run lasts and
written once, at exit, by :meth:`Tracer.dump`.

:func:`instrument` wraps the engine's public layer functions from outside
the package (the engine itself carries no tracing), so a traced run costs
one ``perf_counter`` pair per wrapped call and an untraced run costs
nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list = []        # [name, start, end, parent, op_id]
        self.op_id = None
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, first_op: int = 0) -> list:
        """Inclusive durations (s) of every closed span called ``name``
        (of operations ``>= first_op`` when given)."""
        return [s[2] - s[1] for s in self.spans
                if s[0] == name and s[2] is not None
                and (first_op == 0 or (s[4] is not None and s[4] >= first_op))]

    def self_times(self, first_op: int = 0) -> dict:
        """Total self time (s) per span name over the spans of operations
        ``>= first_op``: each span's duration minus the part of it that its
        direct children cover.  Spans nest strictly (one client thread), so
        children never overlap each other."""
        child = defaultdict(float)
        for name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict = defaultdict(float)
        for i, (name, start, end, _p, op) in enumerate(self.spans):
            if end is not None and op is not None and op >= first_op:
                out[name] += (end - start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": start, "end": end,
                                     "parent": parent, "op": op}) + "\n")


def instrument(tracer: Tracer, targets: list):
    """Replace each ``getattr(owner, attr)`` in ``targets`` (a list of
    ``(owner, attr, span_name)``) with a wrapper that records a span, and
    return a function that puts the originals back."""
    saved = []
    for owner, attr, name in targets:
        orig = getattr(owner, attr)

        def wrapper(*args, _orig=orig, _name=name, **kw):
            with tracer.span(_name):
                return _orig(*args, **kw)

        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper))

    def restore():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return restore
