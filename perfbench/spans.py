"""In-memory span recorder for the traced run.

The benchmark never edits the program to trace it: it wraps the public
callables of each layer from outside (:meth:`Tracer.patch`) and records a
span per call — name, start, end, parent span and request id — into a
list that is written out once at the end. Per-layer self time is a span's
duration minus the durations of its direct children, summed by layer (the
span name up to its last dot).

A py4j round-trip counter wraps the gateway client's ``send_command`` on
the live session; it is installed only for traced runs.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict


_MISSING = object()


class Tracer:
    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, parent, name, rid, t0, t1)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple] = []
        self.book_s = 0.0  # time spent in the recorder itself
        self._py4j = [0]

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid) -> None:
        self._local.rid = rid

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> tuple:
        b0 = time.perf_counter()
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        st.append(sid)
        rid = getattr(self._local, "rid", None)
        t0 = time.perf_counter()
        self.book_s += t0 - b0
        return sid, parent, rid, t0

    def _close(self, name: str, sid: int, parent, rid, t0: float) -> None:
        t1 = time.perf_counter()
        self._stack().pop()
        self.spans.append((sid, parent, name, rid, t0, t1))
        self.book_s += time.perf_counter() - t1

    def wrap(self, name: str, fn):
        tracer = self

        def traced(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            sid, parent, rid, t0 = tracer._open(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer._close(name, sid, parent, rid, t0)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class, module or instance attribute)
        with a span-recording wrapper; :meth:`unpatch` restores it."""
        own = vars(owner).get(attr, _MISSING)
        fn = own if isinstance(owner, type) and own is not _MISSING else getattr(owner, attr)
        self._restore.append((owner, attr, own))
        setattr(owner, attr, self.wrap(name, fn))

    def unpatch(self) -> None:
        for owner, attr, own in reversed(self._restore):
            if own is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._restore.clear()

    # -- py4j ------------------------------------------------------------------

    def count_py4j(self, spark) -> None:
        """Count py4j round trips on ``spark``'s gateway client (the
        wrapper is an instance attribute, removed by :meth:`unpatch`)."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        box = self._py4j

        def counting(*a, **kw):
            box[0] += 1
            return send(*a, **kw)

        self._restore.append((client, "send_command", vars(client).get("send_command", _MISSING)))
        client.send_command = counting

    def py4j_calls(self) -> int:
        return self._py4j[0]

    # -- reduction -------------------------------------------------------------

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Layer -> summed self time (s) of the spans that started within
        [t0, t1): each span's duration minus its direct children's; the
        layer is the span name up to its last dot."""
        spans = [s for s in self.spans if t0 <= s[4] < t1]
        child = defaultdict(float)
        for _sid, parent, _n, _r, t0, t1 in spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _p, name, _r, t0, t1 in spans:
            out[name.rsplit(".", 1)[0]] += (t1 - t0) - child.get(sid, 0.0)
        return dict(out)

    def durations_ms(self, name: str) -> list[float]:
        """Durations (ms) of every span called ``name``."""
        return [(t1 - t0) * 1e3 for _s, _p, n, _r, t0, t1 in self.spans if n == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, rid, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name,
                                    "rid": rid, "start": t0, "end": t1}) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "state")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.state = None

    def __enter__(self):
        if self.tracer.enabled:
            self.state = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.state is not None:
            self.tracer._close(self.name, *self.state)
        return False


def py4j_call_cost_s(n: int = 20000) -> float:
    """Per-call cost of the counting wrapper, measured on a no-op."""
    box = [0]

    def noop(*a):
        return None

    def counting(*a):
        box[0] += 1
        return noop(*a)

    t0 = time.perf_counter()
    for _ in range(n):
        noop(1)
    base = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        counting(1)
    return max(time.perf_counter() - t0 - base, 0.0) / n
