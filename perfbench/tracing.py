"""In-memory spans and counters around the repo's public calls.

A :class:`Tracer` records spans (name, start, end, parent, op id) and
named counters while ``enabled`` is true. Spans are opened by the
benchmark around each operation and by wrappers that :meth:`Tracer.wrap`
installs over package functions. A wrapper replaces the function under
every name a caller resolves: query modules bind ``materialize.shared``
and ``io.load_table`` at import, so patching only the defining module's
attribute would record nothing for them.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "ethical_data_ingestion_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, float, float, int | None, str]] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op = ""
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        if op_id is not None:
            self._op = op_id
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, o = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, o)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] += n

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the list of self times in seconds (duration minus
        the time its direct children cover; children run sequentially)."""
        child = defaultdict(float)
        for _, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, list[float]] = defaultdict(list)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name].append(max(t1 - t0 - child[i], 0.0))
        return out

    def totals(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for name, t0, t1, _, _ in self.spans:
            out[name].append(t1 - t0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": t0, "end": t1,
                                     "parent": parent, "op": op}) + "\n")

    # -- patching ----------------------------------------------------------
    def wrap(self, module, attr: str, span_name: str, before=None, after=None):
        """Replace ``module.attr`` and every other package-module binding of
        the same function with a spanning wrapper. ``before(args, kwargs)``
        runs ahead of the call, ``after(result, state)`` after it, with
        ``state`` what ``before`` returned; both only while enabled."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            with self.span(span_name):
                result = orig(*args, **kwargs)
            if after:
                after(result, state)
            return result

        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._patched.append((mod, key, orig))
        return wrapper

    def unwrap_all(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()
