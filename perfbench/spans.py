"""In-memory spans around the engine's public calls.

A span is (name, start, end, parent). Spans stay in a list until the
run ends; ``self_times`` gives each name's total time minus the time its
child spans cover. ``wrap`` replaces a module attribute with a timing
wrapper, so calls the engine makes through that attribute (for example
``run_pipeline`` calling ``ingest.build_tasks``) are spanned without
touching the engine's files. A disabled tracer records nothing and
wraps nothing.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, module: object, attr: str, name: str) -> None:
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by its
        direct children (the driver is single-threaded, so children of
        one span never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += max(0.0, s["end"] - s["start"] - child[i])
        return dict(out)

    def totals(self, lo: float = float("-inf"), hi: float = float("inf")) -> dict[str, float]:
        """Per span name: summed duration of the spans that start within
        [lo, hi] (``time.perf_counter`` values)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None and lo <= s["start"] <= hi:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)
