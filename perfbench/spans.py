"""In-memory span tracing around calls into kiwi_spark's public functions.

A span records name, start, end, parent and the thread that ran it. The
benchmark opens spans from its own files only: it swaps a module
attribute for a wrapper at the place the library looks the name up
(``kiwi_spark.pipeline.extract_text``, ``Catalog.commit``, ...) and puts
the original back when tracing ends. Nothing inside the library changes.

Two wrapper kinds:

* ``call`` — the wrapped function executes Spark work (an action, a
  commit, a whole pipeline): the span covers the call.
* ``factory`` — the function only builds a lazy plan (``extract_text(df)``
  returns a DataFrame; its work runs later inside ``Catalog.commit``). No
  span is opened; the returned DataFrame is tagged with the layer name,
  and the commit span that executes it carries the tags of its input.

Each span also sets the Spark local property ``perfbench.span`` in its
thread, so jobs it launches carry the span id into the event log. The
property is thread-local and is not inherited by pool threads, which is
why commits issued from ``_parallel_commits`` threads get spans of their
own (the wrapper runs in the pool thread). A span opened in a thread
with no open span of its own is parented to the innermost open span of
the client thread that created the tracer.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its child
    spans cover. Concurrent children count once (interval union)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        kids = [(c.start, c.end if c.end is not None else c.start)
                for c in children.get(s.id, [])]
        out[s.id] = s.duration - covered_length(kids, s.start, end)
    return out


class Tracer:
    """Collects spans in memory; ``enabled=False`` makes every hook a
    pass-through so the untraced run pays nothing but a flag test."""

    def __init__(self, spark_context=None, enabled: bool = True,
                 clock=time.perf_counter):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark_context
        self._clock = clock
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client_thread = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._tags: dict[int, tuple] = {}  # id(DataFrame) → (df, tags)
        self._patches: list[tuple] = []
        # wall clock at clock zero, to place spans on the event log's
        # epoch-millisecond timeline
        self.epoch_offset = time.time() - clock()

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        tid = threading.get_ident()
        with self._lock:
            return self._stacks.setdefault(tid, [])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                client = self._stacks.get(self._client_thread) or []
                parent = client[-1] if client else None
            sid = len(self.spans) + 1
            span = Span(sid, name, parent, self._clock(),
                        thread=threading.get_ident(), attrs=dict(attrs))
            self.spans.append(span)
        stack.append(sid)
        self._set_property(str(sid))
        try:
            yield span
        finally:
            span.end = self._clock()
            stack.pop()
            self._set_property(str(stack[-1]) if stack else None)

    def _set_property(self, value) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, value)

    # -- DataFrame tags ---------------------------------------------------
    def tag(self, df, layer: str, inputs=()):
        """Record that ``df`` was built by ``layer`` (plus the tags of any
        tagged input DataFrames)."""
        tags = [layer]
        for x in inputs:
            for t in self.tags_of(x):
                if t not in tags:
                    tags.append(t)
        with self._lock:
            self._tags[id(df)] = (df, tuple(tags))
        return df

    def tags_of(self, df) -> tuple:
        entry = self._tags.get(id(df))
        return entry[1] if entry and entry[0] is df else ()

    # -- patching ---------------------------------------------------------
    def patch(self, owner, attr: str, replacement) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, replacement)

    def wrap_call(self, owner, attr: str, name: str) -> None:
        """Open span ``name`` around every call of ``owner.attr``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def wrap_factory(self, owner, attr: str, layer: str) -> None:
        """Tag every DataFrame ``owner.attr`` returns (alone or in a
        tuple) with ``layer``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            out = original(*args, **kwargs)
            inputs = [*args, *kwargs.values()]
            if isinstance(out, tuple):
                return tuple(tracer.tag(o, layer, inputs) for o in out)
            return tracer.tag(out, layer, inputs)

        self.patch(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
