"""In-memory spans around calls into bear_spark's layers.

A span is (name, start, end, parent, run id, thread). Spans live in a
list until the run ends and are then written out as JSON.

Parent linkage: each thread keeps a stack of its open spans. A span
opened on a thread whose stack is empty takes as parent the most recently
opened span that is still open on any thread. That matters for
``CDCApplier.run_available``: Spark calls the ``foreachBatch`` body on a
py4j callback thread while the main thread waits inside
``run_available``, so a thread-local stack alone would orphan every
merge of a streaming run.

Wrappers are installed on the library's classes and modules for a traced
round (``install``) and removed after it (``restore`` on the returned
patch), so ``bear_spark/`` itself carries no tracing code.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.stats import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    thread: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: list[Span] = []  # open spans, in start order, all threads

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, **attrs) -> Span:
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].id
            else:
                parent = self._open[-1].id if self._open else None
            sp = Span(next(self._ids), name, time.time(), None, parent, self.run_id,
                      threading.current_thread().name, dict(attrs))
            self.spans.append(sp)
            self._open.append(sp)
        stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        with self._lock:
            self._open.remove(sp)

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self.start(name, **attrs)
        try:
            yield sp
        finally:
            self.finish(sp)

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_time(self, sp: Span, kids: dict[int, list[Span]] | None = None) -> float:
        """Duration minus the part of it that child spans cover (children
        on other threads may overlap each other; the union counts once)."""
        kids = self.children() if kids is None else kids
        covered = union_length([(c.start, c.end or c.start) for c in kids.get(sp.id, ())],
                               sp.start, sp.end)
        return sp.duration - covered

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _Patch:
    """Replace attributes with span-recording wrappers, and put them back."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, span_name: str, tracer: Tracer, on_result=None):
        # getattr on the class would bind a staticmethod/classmethod; keep
        # the raw descriptor to restore and unwrap it to call through
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        fn = raw.__func__ if kind else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as sp:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, result)
                return result

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._saved.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()


def _merge_attrs(sp: Span, m: dict) -> None:
    sp.attrs.update({k: v for k, v in m.items() if isinstance(v, (int, float, bool))})
    sp.attrs["schema_changes"] = len(m.get("schema_changes") or ())


def _evolve_attrs(sp: Span, result) -> None:
    sp.attrs["schema_changes"] = len(result[1])


def _refresh_attrs(sp: Span, idx) -> None:
    lr = getattr(idx, "last_refresh", None) or {}
    sp.attrs["lists_rewritten"] = len(lr.get("lists_rewritten") or ())


def _split_attrs(sp: Span, result) -> None:
    sp.attrs["buckets_split"] = (result or {}).get("buckets_split", 0)


def _batches_attrs(sp: Span, result) -> None:
    sp.attrs["batches"] = len(result or ())


def install(tracer: Tracer) -> _Patch:
    """Wrap the eager public calls of each layer that rounds make. Calls
    that return a lazy DataFrame (lookup, changes, probe, search, registry
    queries) are spanned by the workloads around the call plus the action
    that runs it, because the call alone only plans. Calls made only while
    staging or setting up (``write_changelog``, ``VectorIndex.build``,
    the embedding) are timed there by the harness instead."""
    from bear_spark.lake import reconcile
    from bear_spark.lake.table import LakeTable
    from bear_spark.lake.vector_index import VectorIndex
    from bear_spark.streaming.apply import CDCApplier

    p = _Patch()
    p.wrap(LakeTable, "merge", "lake.table.merge", tracer, _merge_attrs)
    p.wrap(LakeTable, "compact", "lake.table.compact", tracer)
    p.wrap(LakeTable, "maybe_split", "lake.table.maybe_split", tracer, _split_attrs)
    p.wrap(LakeTable, "vacuum", "lake.table.vacuum", tracer)
    p.wrap(CDCApplier, "run_available", "streaming.apply.run_available", tracer,
           _batches_attrs)
    p.wrap(VectorIndex, "refresh", "lake.vector_index.refresh", tracer, _refresh_attrs)
    p.wrap(reconcile, "evolve", "lake.reconcile.evolve", tracer, _evolve_attrs)
    return p


class NullTracer:
    """Stand-in with the same ``span`` surface when tracing is off."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None
