"""Spans around calls into the program's modules, kept in memory.

A span records its name, start, end, the span that was open when it began
and the benchmark operation it belongs to. ``wrap`` replaces a module
attribute with a spanning wrapper, so calls made by the program itself
(``pipeline.run_extract`` calling ``storage.commit_snapshot``) are spanned
too; it is used in the traced run only.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: object  # the benchmark operation, None outside one


class Spans:
    def __init__(self) -> None:
        self.records: list[Span] = []
        self.op: object = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.records)
        self.records.append(Span(name, time.perf_counter(), None, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.records[idx].end = time.perf_counter()

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        original = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(label):
                return original(*args, **kwargs)

        setattr(module, attr, spanned)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def seconds_by_op(self, name: str) -> dict[object, float]:
        """Seconds inside ``name`` per operation, counting only the
        outermost span of that name (a nested call is already inside)."""
        out: dict[object, float] = {}
        for s in self.records:
            if s.name != name or s.op is None or s.end is None:
                continue
            p = s.parent
            while p is not None and self.records[p].name != name:
                p = self.records[p].parent
            if p is None:
                out[s.op] = out.get(s.op, 0.0) + (s.end - s.start)
        return out
