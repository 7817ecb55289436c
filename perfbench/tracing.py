"""Spans recorded around calls into the engine's public functions.

The engine is never edited: while a traced operation runs, module
attributes such as `engine.encode_table` are swapped for wrappers that
open a span, and restored afterwards. A span is (name, start, end,
parent, op); spans stay in memory and are written as JSON at the end.
A disabled tracer records nothing and patches nothing.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, op_id: str):
        """Tag every span opened inside with `op_id`."""
        prev, self.op = self.op, op_id
        try:
            yield
        finally:
            self.op = prev

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap `getattr(module, attr)` in a span named `name` for each
        (module, attr, name) while the block runs."""
        if not self.enabled:
            yield
            return
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        try:
            for (mod, attr, name), (_, _, fn) in zip(targets, saved):
                setattr(mod, attr, self._wrap(fn, name))
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def find(self, name: str, op: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (op is None or s["op"] == op)]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the part of it its children cover (children never overlap — the
        benchmark issues one call at a time)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_s):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh, indent=1)
