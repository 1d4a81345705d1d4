"""Spans and py4j call counts for the traced run.

Spans are opened around calls into the program's layers by wrapping module
attributes for the duration of a traced run (``Tracer.wrap``), never by
editing the program. Spans are kept in memory and turned into metrics when
the run ends.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    py4j_calls: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans (name, start, end, parent, run id), the py4j calls made
    while each span is the innermost open one, and named call counts. With
    ``enabled`` false ``span`` is a no-op and nothing is wrapped, so the
    untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self.run_id = ""
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span; yields it (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), parent, self.run_id))
            if parent is not None:
                self.spans[parent].children.append(idx)
            self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            with self._lock:
                self.spans[idx].end = time.time()
                self._stack.pop()

    def count_py4j(self) -> None:
        # builders run on a thread pool inside one span, so the innermost
        # span is process-wide, not per thread; the lock keeps the counts
        # exact when those threads call at once
        with self._lock:
            if self._stack:
                self.spans[self._stack[-1]].py4j_calls += 1

    def wrap(self, owner: object, attr: str, span_name) -> None:
        """Replace ``owner.attr`` by a wrapper that opens ``span_name``, or
        the name ``span_name(*args, **kwargs)`` returns."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            name = span_name(*args, **kwargs) if callable(span_name) else span_name
            with self.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def count(self, owner: object, attr: str, name: str) -> None:
        """Count the calls of ``owner.attr`` under ``counts[name]``."""
        original = getattr(owner, attr)
        self.counts.setdefault(name, 0)

        def counted(*args, **kwargs):
            with self._lock:
                self.counts[name] += 1
            return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, counted)

    def install_py4j_counter(self) -> None:
        from py4j.java_gateway import GatewayClient
        from py4j.protocol import MEMORY_COMMAND_NAME

        original = GatewayClient.send_command
        tracer = self

        def send_command(self, command, *args, **kwargs):
            # py4j's finalizer thread releases Java objects whenever the
            # garbage collector runs; leaving those out keeps counts exact
            if not command.startswith(MEMORY_COMMAND_NAME):
                tracer.count_py4j()
            return original(self, command, *args, **kwargs)

        self._patches.append((GatewayClient, "send_command", original))
        GatewayClient.send_command = send_command

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- derived quantities ------------------------------------------------

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], list(span.children)
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def self_time(self, span: Span) -> float:
        covered = union_length([(self.spans[c].start, self.spans[c].end) for c in span.children])
        return (span.end - span.start) - covered


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
