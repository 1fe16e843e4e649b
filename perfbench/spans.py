"""Spans around calls into the engine's layers, and their self times.

The traced run replaces module and class attributes of the engine with thin
wrappers, in this process only, before the consumer query starts: each call
records a span (name, start, end, parent, batch id and optional counts).
Spans stay in memory until the run reports.  Each micro-batch's root span is
its ``StreamingQueryProgress``: the trigger's start and ``triggerExecution``
duration, with Spark's own phase durations (``latestOffset``, ``walCommit``,
``getBatch``, ``queryPlanning``, ``commitOffsets``) as synthetic children.

A span's self time is its duration minus the part of its interval covered by
its children's intervals.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "batch_id", "counts")

    def __init__(self, id, name, start, end=None, parent=None, batch_id=None, counts=None):
        self.id, self.name, self.start, self.end = id, name, start, end
        self.parent, self.batch_id = parent, batch_id
        self.counts = counts or {}

    def __repr__(self) -> str:
        return f"Span({self.id}, {self.name!r}, {self.start}, {self.end}, parent={self.parent})"


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(s.start, s.end, kids.get(s.id, []))
        for s in spans
    }


class Tracer:
    """Installs span-recording wrappers and keeps the spans in memory."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, batch_arg=None, post=None) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``batch_arg(args,
        kwargs)`` extracts the micro-batch id when the call carries one;
        ``post(args, kwargs, span)`` may add counts after the call returns
        (its own time is not part of the span)."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            stack = tracer._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            bid = batch_arg(args, kwargs) if batch_arg else None
            if bid is None and parent is not None:
                bid = parent.batch_id
            sp = Span(next(tracer._ids), name, time.time(), None,
                      parent.id if parent else None, bid)
            stack.append(sp)
            try:
                return fn(*args, **kwargs)
            finally:
                sp.end = time.time()
                stack.pop()
                tracer.spans.append(sp)
                if post is not None:
                    post(args, kwargs, sp)

        wrapper.__wrapped__ = fn
        self._saved.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()


_PHASES_BEFORE = (("latestOffset", "sources.offset"), ("walCommit", "sources.wal"),
                  ("getBatch", "sources.offset"), ("queryPlanning", "spark.planning"))
_PHASES_AFTER = (("commitOffsets", "sources.wal"),)
ROOT = "trigger.untraced"
_SYNTHETIC_IDS = 10**9  # above every id a Tracer hands out


def trigger_tree(progress: list[dict], spans: list[Span]):
    """Attach the recorded spans to their triggers.

    ``progress`` rows carry ``batchId``, ``start`` (epoch s) and
    ``durationMs``. Returns ``(roots, tree)``: one root span per trigger
    (named ``trigger.untraced``, so its self time is the trigger's untraced
    time) and every span of the tree -- roots, Spark phases laid out in
    execution order at the trigger's edges, and the recorded spans whose
    parentless members are re-parented to the trigger their start falls in.
    Recorded spans outside every trigger are dropped."""
    ids = itertools.count(_SYNTHETIC_IDS)
    roots, tree = [], []
    for p in progress:
        d = p["durationMs"]
        s = p["start"]
        root = Span(next(ids), ROOT, s, s + d.get("triggerExecution", 0) / 1000.0,
                    None, p["batchId"])
        roots.append(root)
        tree.append(root)
        t = s
        for key, name in _PHASES_BEFORE:
            ms = d.get(key, 0) / 1000.0
            tree.append(Span(next(ids), name, t, t + ms, root.id, root.batch_id))
            t += ms
        t = root.end
        for key, name in _PHASES_AFTER:
            ms = d.get(key, 0) / 1000.0
            tree.append(Span(next(ids), name, t - ms, t, root.id, root.batch_id))
            t -= ms
    slack = 0.002  # progress timestamps are whole milliseconds
    known = {s.id for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in known:
            tree.append(s)
            continue
        owner = next((r for r in roots if r.start - slack <= s.start <= r.end + slack), None)
        if owner is None:
            continue
        s.parent, s.batch_id = owner.id, owner.batch_id
        tree.append(s)
    # descendants of dropped spans go too
    kept = {s.id for s in tree}
    changed = True
    while changed:
        changed = False
        for s in list(tree):
            if s.parent is not None and s.parent not in kept:
                tree.remove(s)
                kept.discard(s.id)
                changed = True
    return roots, tree


def _trigger_index(roots: list[Span], tree: list[Span]) -> dict[int, int]:
    """Span id -> index of the trigger whose tree holds it."""
    by_id = {s.id: s for s in tree}
    order = {r.id: i for i, r in enumerate(roots)}
    out: dict[int, int] = {}
    for s in tree:
        r = s
        while r.parent is not None:
            r = by_id[r.parent]
        out[s.id] = order[r.id]
    return out


def per_trigger_self_ms(roots: list[Span], tree: list[Span]) -> dict[str, list[float]]:
    """Layer name -> one self-time total (ms) per trigger, in trigger order.
    Every layer gets an entry per trigger, 0 where it recorded no span."""
    st = self_times(tree)
    idx = _trigger_index(roots, tree)
    out = {n: [0.0] * len(roots) for n in sorted({s.name for s in tree})}
    for s in tree:
        out[s.name][idx[s.id]] += st[s.id] * 1000.0
    return out


def per_trigger_counts(roots: list[Span], tree: list[Span]) -> dict[str, list[float]]:
    """Count name -> per-trigger sum of the counts spans recorded."""
    idx = _trigger_index(roots, tree)
    out: dict[str, list[float]] = {}
    for s in tree:
        for k, v in s.counts.items():
            out.setdefault(k, [0.0] * len(roots))[idx[s.id]] += v
    return out
