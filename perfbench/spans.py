"""In-memory spans around calls into the engine's modules.

A span is ``(name, start_ns, end_ns, parent, doc)``: ``parent`` is the index
of the enclosing span in the same list, or -1. Spans are recorded by
wrapping module functions from the benchmark's own code (``Tracer.patch``);
nothing inside the engine changes. A span's self time is its duration minus
the time its direct children cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

NAME, START, END, PARENT, DOC = range(5)


class Tracer:
    """Collects spans for one single-threaded caller."""

    def __init__(self) -> None:
        self.spans: list = []
        self._stack: list = []
        self.doc = None

    def wrap(self, name: str, fn):
        spans, stack, clock = self.spans, self._stack, time.perf_counter_ns

        def traced(*args, **kwargs):
            rec = [name, clock(), 0, stack[-1] if stack else -1, self.doc]
            stack.append(len(spans))
            spans.append(rec)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[END] = clock()
                stack.pop()

        return traced

    @contextlib.contextmanager
    def patch(self, targets):
        """Replace ``(owner, attribute, span_name)`` targets with traced
        wrappers for the duration of the block."""
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in targets]
        try:
            for owner, attr, name in targets:
                setattr(owner, attr, self.wrap(name, getattr(owner, attr)))
            yield self
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list) -> list:
    """Self time of every span, in ns, in list order."""
    out = [rec[END] - rec[START] for rec in spans]
    for rec in spans:
        if rec[PARENT] >= 0:
            out[rec[PARENT]] -= rec[END] - rec[START]
    return out


def totals_by_name(spans: list) -> dict:
    """name -> (call count, summed self ns)."""
    agg: dict = defaultdict(lambda: [0, 0])
    for rec, own in zip(spans, self_times(spans)):
        agg[rec[NAME]][0] += 1
        agg[rec[NAME]][1] += own
    return {k: tuple(v) for k, v in agg.items()}
