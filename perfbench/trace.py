"""In-memory spans around calls into each layer's public functions.

A span has a name, start, end, parent and an op id shared by the spans of
one query or batch. When enabled, entering a span also sets the Spark job
description to ``<name>#<op id>`` (restored on exit), so the event-log
parser can attribute task metrics to the innermost layer. Disabled tracers
record nothing and touch no Spark state.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext for job descriptions

    @property
    def current(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    @contextmanager
    def span(self, name: str, op: object = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "op": str(op), "parent": parent,
               "t0": time.perf_counter(), "t1": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self._describe(f"{name}#{op}")
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                up = self.spans[self._stack[-1]]
                self._describe(f"{up['name']}#{up['op']}")
            else:
                self._describe(None)

    def _describe(self, desc: str | None) -> None:
        if self.sc is not None and self.sc._jsc is not None:
            self.sc.setJobDescription(desc)

    def wrap(self, owner: object, attr: str, name: str, under: str) -> None:
        """Replace ``owner.attr`` with a version that records a ``name``
        span whenever it is called inside an ``under`` span."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            if tracer.current != under:
                return fn(*a, **kw)
            with tracer.span(name, tracer.spans[tracer._stack[-1]]["op"]):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.spans
                if s["name"] == name and s["t1"] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover (spans are strictly nested)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["t1"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["t1"] - s["t0"] - child[i]
                )
        return out

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))
