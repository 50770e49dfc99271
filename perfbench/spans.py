"""In-memory spans around the benchmark's calls into the package.

A span is (name, start, end, parent, op): `op` is one id shared by every
span of one operation (one build, one batch, one request).  Spans stay
in a list and are written out once, as JSON, when the run ends.  With
tracing off, `span()` returns a shared no-op context and records
nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0  # time spent recording spans

    def new_op(self) -> int:
        return next(self._ops)

    @contextlib.contextmanager
    def _record(self, name: str, op: int | None):
        b0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if op is None:
            op = parent[1] if parent else self.new_op()
        stack.append((sid, op))
        b1 = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "name": name,
                        "start": b1,
                        "end": end,
                        "parent": parent[0] if parent else None,
                        "op": op,
                    }
                )
                self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - end)

    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, op)

    def self_times(self) -> dict[str, float]:
        """Per span name: total seconds not covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
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
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times(), **extra}, fh
            )
