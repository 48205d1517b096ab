"""Outside-in span tracer: wraps public functions of the library's layers from
the benchmark's own files and records one span per call.

Spark evaluates lazily, so a layer that returns a DataFrame usually has not
run its jobs yet; the work happens later, when some caller materialises the
DataFrame (``plans.lineage.truncate``). The tracer tags every DataFrame a
wrapped call returns with the call's span. A wrapped materialiser then opens
its span as a child of the span that produced its argument, so the deferred
work is charged to the producing layer instead of to whoever forced it. A
materialiser whose argument carries no tag is a child of the innermost open
span, or a top-level ``lineage.truncate`` span when none is open.

Spans are kept in memory and summarised when the benchmark ends.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import wraps

TAG = "_perfbench_span"
ORPHAN = "lineage.truncate"


@dataclass(eq=False)
class Span:
    name: str
    layer: str  # the layer charged with this span's self time
    parent: "Span | None"
    sid: int
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    children: list["Span"] = field(default_factory=list)  # charged to this span
    inside: list["Span"] = field(default_factory=list)  # opened while this was innermost
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        """Spark job-group id of this span."""
        return f"perfbench:{self.sid}:{self.name}"

    def self_s(self) -> float:
        """Duration minus the part of the interval covered by spans opened
        while this one was innermost. A deferred materialisation is charged
        to its producer but still interrupts whichever span was running."""
        return self.wall_s - union_length([(c.start, c.end) for c in self.inside])


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


def _tag(obj, span: Span, depth: int = 2) -> None:
    """Tag a returned DataFrame, or the DataFrames held one or two
    attributes deep (ContractionResult.coarse.edges, .mapping, ...)."""
    if obj is None or isinstance(obj, (int, float, str, bool, bytes)):
        return
    if hasattr(obj, "_jdf"):  # a pyspark DataFrame
        setattr(obj, TAG, span)
        return
    if depth and hasattr(obj, "__dict__"):
        for v in vars(obj).values():
            _tag(v, span, depth - 1)


class Tracer:
    """``on_enter(span)`` / ``on_exit(span, resumed)`` let the caller switch
    Spark job groups: ``resumed`` is the span that is innermost again after
    ``span`` closes (None at top level)."""

    def __init__(
        self,
        on_enter: Callable[[Span], None] | None = None,
        on_exit: Callable[[Span, "Span | None"], None] | None = None,
        clock: Callable[[], float] = time.perf_counter,
        cpu_clock: Callable[[], float] = time.process_time,
    ):
        self.on_enter = on_enter
        self.on_exit = on_exit
        self.clock = clock
        self.cpu_clock = cpu_clock
        self.spans: list[Span] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping and hooks
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, parent: Span | None = None, layer: str | None = None) -> Iterator[Span]:
        t0 = self.clock()
        running = self.current
        parent = parent if parent is not None else running
        sp = Span(name, layer or name, parent, len(self.spans), t0)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        if running is not None:
            running.inside.append(sp)
        self._stack.append(sp)
        if self.on_enter:
            self.on_enter(sp)
        cpu0 = self.cpu_clock()
        sp.start = self.clock()
        self.own_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.cpu_s = self.cpu_clock() - cpu0
            sp.end = self.clock()
            self._stack.pop()
            if self.on_exit:
                self.on_exit(sp, self.current)
            self.own_s += self.clock() - sp.end

    # ---------------------------------------------------------- wrapping
    def _patch(self, owner: object, attr: str, fn: Callable) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def wrap(
        self, owner: object, attr: str, name: str, record: Callable[[object], dict] | None = None
    ) -> None:
        """Replace ``owner.attr`` (a module global or a class attribute) with
        a wrapper that runs each call in a span and tags what it returns.
        ``record(result)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
            _tag(out, sp)
            if record is not None:
                sp.attrs.update(record(out))
            return out

        self._patch(owner, attr, traced)

    def wrap_materializer(self, owner: object, attr: str) -> None:
        """Replace ``owner.attr(df, ...)``: its span is a child of the span
        that produced ``df`` and is charged to that span's layer."""
        orig = getattr(owner, attr)

        @wraps(orig)
        def traced(df, *args, **kwargs):
            producer = getattr(df, TAG, None)
            parent = producer if producer is not None else self.current
            if parent is None:
                name = layer = ORPHAN
            else:
                name, layer = f"{parent.layer}/materialize", parent.layer
            with self.span(name, parent=parent, layer=layer):
                out = orig(df, *args, **kwargs)
            if producer is not None:
                _tag(out, producer)
            return out

        self._patch(owner, attr, traced)

    def restore(self) -> None:
        """Put every wrapped attribute back, most recent first."""
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------------- summary
    def layers(self, spans: list[Span] | None = None) -> dict[str, dict]:
        """Per layer: calls, self time (s) and CPU time of this process (s)."""
        out: dict[str, dict] = {}
        for sp in spans if spans is not None else self.spans:
            rec = out.setdefault(sp.layer, {"calls": 0, "self_s": 0.0, "cpu_s": 0.0, "spans": []})
            if not sp.name.endswith("/materialize"):
                rec["calls"] += 1
            rec["self_s"] += sp.self_s()
            rec["cpu_s"] += sp.cpu_s
            rec["spans"].append(sp)
        return out

    def coverage(self, start: float, end: float, spans: list[Span] | None = None) -> float:
        """Share of [start, end] covered by the union of span intervals."""
        ivs = [
            (max(s.start, start), min(s.end, end))
            for s in (spans if spans is not None else self.spans)
        ]
        return union_length([iv for iv in ivs if iv[1] > iv[0]]) / (end - start)
