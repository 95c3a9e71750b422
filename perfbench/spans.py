"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent and run id. Spans are kept in a
list while the benchmark runs and written out once, at the end. The
tracer wraps module-level functions of the program from the outside
(``Tracer.wrap``), so the program's own code paths are unchanged: a
function that looks the wrapped name up at call time is traced.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def wrap(self, module: str, attr: str, span_name: str, after=None) -> None:
        """Replace ``module.attr`` with a version timed as ``span_name``.

        ``after(result, *args, **kwargs)`` runs once the call returns and
        its span has closed, and may return a replacement result (used to
        wrap returned callables).
        """
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                out = orig(*args, **kwargs)
            if after is not None and self.enabled:
                out = after(out, *args, **kwargs)
            return out

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, orig))

    def unwrap_all(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child_time[i]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, **extra, "spans": rows}, f)
