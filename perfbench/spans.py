"""In-memory spans around calls into the package's layers.

The benchmark never edits the package: it wraps the public functions
on each layer boundary from outside, by replacing the attribute the
caller looks up (``repl.show`` is wrapped in ``repl``'s namespace,
because that is the name ``run_line`` calls), and restores them when
the run ends.

A span records its name, start, end, parent span and op id. Calls made
once per sheet row (``coerce_row``, each parsed row) would swamp the
span list, so they are folded into one aggregate child per (parent
span, name) that carries the summed time and the call count. Self time
is a span's duration minus the time its child spans and aggregates
cover.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []
        # (parent span index or None, name, op) -> [seconds, calls, items]
        self.aggregates: dict = defaultdict(lambda: [0.0, 0, 0])
        self._patched: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  op=self.op, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def add(self, name: str, seconds: float, calls: int = 1,
            items: int = 0) -> None:
        agg = self.aggregates[(self._stack[-1] if self._stack else None,
                               name, self.op)]
        agg[0] += seconds
        agg[1] += calls
        agg[2] += items

    # ------------------------------------------------------------ wrapping

    def wrap(self, owner, attr: str, name: str, *, per_call: bool = False):
        """Replace ``owner.attr`` with a traced version: a span per call,
        or (``per_call``) one aggregate per parent span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        if per_call:
            @functools.wraps(orig)
            def traced(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    self.add(name, time.perf_counter() - t0)
        else:
            @functools.wraps(orig)
            def traced(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_rows(self, owner, attr: str, name: str) -> None:
        """Wrap a generator function so each ``next()`` is timed into
        one aggregate; items counts the non-empty cells of each row."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            it = orig(*args, **kwargs)
            while True:
                t0 = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    tracer.add(name, time.perf_counter() - t0, calls=0)
                    return
                tracer.add(name, time.perf_counter() - t0,
                           items=sum(v is not None for v in row))
                yield row

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ reports

    def self_times(self, prefix: str = "") -> dict[str, float]:
        """Span (and aggregate) name -> summed self time, over the spans
        whose op id starts with ``prefix``."""
        covered = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for (parent, name, op), (secs, _, _) in self.aggregates.items():
            if parent is not None:
                covered[parent] += secs
            if (op or "").startswith(prefix):
                out[name] += secs
        for i, sp in enumerate(self.spans):
            if (sp.op or "").startswith(prefix):
                out[sp.name] += (sp.end - sp.start) - covered[i]
        return dict(out)

    def durations(self, name: str, prefix: str = "") -> list[float]:
        """Inclusive durations of the spans called ``name``."""
        return [sp.end - sp.start for sp in self.spans
                if sp.name == name and (sp.op or "").startswith(prefix)]

    def totals(self, name: str, prefix: str = "") -> tuple[float, int, int]:
        """Summed (seconds, calls, items) of one aggregate name."""
        secs = calls = items = 0
        for (_, n, op), (s, c, i) in self.aggregates.items():
            if n == name and (op or "").startswith(prefix):
                secs, calls, items = secs + s, calls + c, items + i
        return secs, calls, items

    def dump(self) -> dict:
        return {
            "spans": [[s.name, s.start, s.end, s.parent, s.op, s.attrs]
                      for s in self.spans],
            "aggregates": [[p, n, op, *v]
                           for (p, n, op), v in self.aggregates.items()],
            "self_s": self.self_times(),
        }
