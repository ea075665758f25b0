"""In-memory span recorder for the traced benchmark run.

Spans are recorded by the benchmark around its calls into the engine (set-up,
pass, registered call, materialize, ``T``, ``full_table_copy``, output check)
and written out once, when the run ends. A disabled tracer records nothing
and costs one attribute check per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    call_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_call = 0

    def new_call(self) -> int:
        """A fresh id shared by every span of one call (one query or one
        table copy)."""
        self._next_call += 1
        return self._next_call

    @contextmanager
    def span(self, name: str, call_id: int = 0, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            call_id=call_id or (parent.call_id if parent else 0),
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.span_id,
                            "name": s.name,
                            "call": s.call_id,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )
