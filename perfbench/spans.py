"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a public function or method of the program with a wrapper
that opens a span around the call, and ``Tracer.restore`` puts every
original back.  Each span holds its name, start, end, the span that
was open on the same thread when it began (its parent) and a request
id shared by every span of one request.  Server handler threads get
their request id from ``Tracer.request`` (the benchmark reads it off
the HTTP request), and parents are tracked per thread, so concurrent
requests never adopt each other's spans.

A layer's self time is its span's duration minus the part of that
interval its direct children cover (``self_times``).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterable, List, Optional, Tuple


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    rid: Optional[str]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


def self_times(spans: List[Span]) -> Dict[int, float]:
    """span id -> duration minus the union of its direct children."""
    children: Dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.sid: s.duration - covered(children.get(s.sid, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Collects spans in memory; ``dump`` writes them out."""

    def __init__(self):
        self.spans: List[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: List[tuple] = []
        self.enabled = False

    # --- recording ---------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_rid(self) -> Optional[str]:
        return getattr(self._local, "rid", None)

    @contextmanager
    def request(self, rid: Optional[str]):
        """Bind ``rid`` to the calling thread for the duration."""
        prev = getattr(self._local, "rid", None)
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.current_rid()))

    # --- patching ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace function or method ``owner.attr`` with a
        span-recording wrapper (an inherited method is shadowed on
        ``owner`` and the shadow removed again by ``restore``)."""
        own = attr in vars(owner)
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original, own))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original, own in reversed(self._patched):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._patched.clear()

    # --- output --------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    def layer_self(self, names: Iterable[str]) -> Dict[str, float]:
        """Summed self time (seconds) per span name, for ``names``."""
        wanted = set(names)
        st = self_times(self.spans)
        out: Dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.name in wanted:
                out[s.name] += st[s.sid]
        return out

    def by_request(self) -> Dict[str, List[Span]]:
        out: Dict[str, List[Span]] = defaultdict(list)
        for s in self.spans:
            if s.rid is not None:
                out[s.rid].append(s)
        return out
