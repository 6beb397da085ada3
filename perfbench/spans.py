"""Spans for the traced run.

A span has a name (``<layer>.<what>``), a start, an end, a parent and
the id of the item it belongs to. Spans are kept in memory and written
out once, when the run ends. While a span is open, the Spark jobs it
launches carry the job group ``perfbench|<span name>|<item>`` so the
event log attributes them to the layer (see eventlog.py).

Layer boundaries inside the package are timed by shims: wrappers
installed over a public function, in its defining module and in every
package module that imported it by name. A disabled tracer records
nothing and installs nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass

PACKAGE = "database_to_bigquery_spark"
GROUP_PREFIX = "perfbench|"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    item: str | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.item: str | None = None
        self._stack: list[int] = []
        self._sc = None
        self._restore: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        """Tag jobs of this session (None: of no session) with the open
        span's group."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, self.item)
        self.spans.append(s)
        self._stack.append(s.id)
        prev = self._tag(f"{GROUP_PREFIX}{name}|{self.item or ''}")
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(prev)

    @contextlib.contextmanager
    def item_span(self, item: str, name: str):
        """Root span of one item."""
        self.item = item
        try:
            with self.span(name):
                yield
        finally:
            self.item = None

    def _tag(self, group: str | None) -> str | None:
        if self._sc is None:
            return None
        prev = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    # ------------------------------------------------------------ shims
    def shim(self, owner: object, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span named ``name``, everywhere the
        package holds a reference to it."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        holders: list[tuple[object, str]] = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and mod is not owner:
                holders += [(mod, k) for k, v in vars(mod).items() if v is orig]
        for obj, key in holders:
            self._restore.append((obj, key, orig))
            setattr(obj, key, wrapper)

    def uninstall(self) -> None:
        while self._restore:
            obj, key, orig = self._restore.pop()
            setattr(obj, key, orig)

    # --------------------------------------------------------- analysis
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {
            s.id: (s.end - s.start) - covered(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
            )
            for s in self.spans
        }

    def root_of(self, span: Span) -> Span:
        while span.parent is not None:
            span = self.spans[span.parent]
        return span

    def innermost_at(self, t: float, tolerance: float = 0.002) -> Span | None:
        """Deepest span open at time ``t`` (event-log times are whole
        milliseconds, hence the tolerance)."""
        best = None
        for s in self.spans:
            if s.start - tolerance <= t <= s.end + tolerance:
                if best is None or s.start >= best.start:
                    best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
