"""In-memory spans recorded around the benchmark's calls into each layer.

A span is ``(name, start, end, parent, op)``; spans of one op share the
op id. Self time of a span is its duration minus the time its direct
children cover. Spans are kept in memory and written out once, when
the run ends. A disabled tracer records nothing and costs one branch
per call.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self, ops: set[int] | None = None) -> dict[str, float]:
        """Total self time per span name, over spans of ``ops`` (all if None)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is None or s.op in ops:
                out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class SourceProbe:
    """Counts and times calls into the ``sources`` layer while active.

    ``sources.readers.read_source`` and ``sources.catalog.load_table``
    are imported by name across the package, so every module attribute
    bound to either function is swapped for a timing wrapper and put
    back on exit. A ``load_table`` call that leaves the catalog's plan
    cache the same size was served from it (a hit)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.calls = 0  # reads that built a new plan
        self.hits = 0  # load_table calls served from the plan cache
        self._undo: list[tuple[object, str, object]] = []

    def __enter__(self) -> "SourceProbe":
        from graphdbetl_spark.sources import catalog, readers

        cache = catalog._table_cache

        def wrap(fn, cached: bool):
            def timed(*args, **kwargs):
                before = len(cache)
                with self.tracer.span("sources.read"):
                    out = fn(*args, **kwargs)
                if cached and len(cache) == before:
                    self.hits += 1
                else:
                    self.calls += 1
                return out

            return timed

        targets = {id(readers.read_source): wrap(readers.read_source, False),
                   id(catalog.load_table): wrap(catalog.load_table, True)}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("graphdbetl_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in targets and callable(value):
                    self._undo.append((mod, attr, value))
                    setattr(mod, attr, targets[id(value)])
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, value in self._undo:
            setattr(mod, attr, value)
        self._undo.clear()
