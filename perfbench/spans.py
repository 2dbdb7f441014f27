"""Spans and counters recorded around the program's public methods.

The benchmark wraps the methods of the objects it builds and passes in
(provider, store, entry, tracker) by replacing them on the instance, so
the program's own code is unchanged. Each call records one span: name,
start, end, parent span and run id. Spans stay in memory and are written
once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[tuple] = []  # (id, parent, name, start, end)
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    def span(self, name: str, fn, *args, **kwargs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)  # reserve the id; filled in when the call ends
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans[sid] = (sid, parent, name, t0, time.perf_counter())
            self._stack.pop()

    def wrap(self, obj, method: str, name: str, after=None, on_error=None) -> None:
        """Replace ``obj.method`` on the instance with a traced call.
        ``after(result)`` runs on each successful return and
        ``on_error(exc)`` on each raise, to count work and failures."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            try:
                res = self.span(name, inner, *args, **kwargs)
            except Exception as e:
                if on_error is not None:
                    on_error(e)
                raise
            if after is not None:
                after(res)
            return res

        setattr(obj, method, traced)

    # -- derived numbers -----------------------------------------------------
    def _child_time(self) -> dict[int, float]:
        """Per span id, the time its direct child spans cover."""
        child_time: dict[int, float] = defaultdict(float)
        for _, parent, _, t0, t1 in self.spans:
            if parent >= 0:
                child_time[parent] += t1 - t0
        return child_time

    def by_name(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, busy seconds and self seconds (busy minus
        the time its child spans cover)."""
        child_time = self._child_time()
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
        for sid, _, name, t0, t1 in self.spans:
            d = out[name]
            d["calls"] += 1
            d["busy_s"] += t1 - t0
            d["self_s"] += (t1 - t0) - child_time[sid]
        return dict(out)

    def subtree(self, root: int) -> dict[str, float]:
        """Self seconds per span name inside the span ``root``, root included."""
        kids: dict[int, list[int]] = defaultdict(list)
        for sid, parent, *_ in self.spans:
            kids[parent].append(sid)
        child_time = self._child_time()
        out: dict[str, float] = defaultdict(float)
        todo = [root]
        while todo:
            sid = todo.pop()
            _, _, name, t0, t1 = self.spans[sid]
            out[name] += (t1 - t0) - child_time[sid]
            todo.extend(kids[sid])
        return dict(out)

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "fields": ["id", "parent", "name", "start", "end"],
                    "spans": self.spans,
                    "counts": self.counts,
                },
                fh,
            )
