"""In-memory span recorder for the benchmark's traced runs.

A span is recorded around a call into one layer's public function: its name,
trace id (a session or operation handle when the call has one), the phase
the benchmark was in, start, duration, the time covered by its child spans,
and a small dict of counts.  Spans nest per thread, so a span's self time is
its duration minus the summed durations of the spans it called directly.

Work that happens one row at a time (stepping a ``toLocalIterator``, garbage
collector pauses) is folded into per-name totals instead of one span each;
folded time still counts as child time of the enclosing span.

Nothing is written until ``dump``; the gateway launcher and the load
generator each own one ``Tracer`` and write it out when they stop.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.phase = ""
        # (name, trace, phase, start, duration, child_seconds, extra)
        self.spans: list[tuple] = []
        # folded time: (phase, name) -> [seconds, count]
        self.totals: dict[tuple[str, str], list[float]] = {}
        self._tls = threading.local()
        self._fold_lock = threading.Lock()

    # -- recording ---------------------------------------------------------
    def stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def in_tag(self, tag: str) -> bool:
        return any(f["tag"] == tag for f in self.stack())

    def fold(self, name: str, seconds: float, count: int = 1) -> None:
        """Add time spent outside any span of its own to ``name``'s total and
        to the enclosing span's child time."""
        st = self.stack()
        if st:
            st[-1]["child"] += seconds
        with self._fold_lock:
            tot = self.totals.setdefault((self.phase, name), [0.0, 0])
            tot[0] += seconds
            tot[1] += count

    def wrap(self, owner, attr: str, name, describe=None, tag=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span.

        ``name`` is a string or a function of the call's arguments.
        ``describe(args, result)`` returns ``(trace_id, extra)``; it runs
        after the call and must not raise.  ``tag(args)`` labels the frame
        so nested calls can ask which kind of work encloses them."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            frame = {
                "child": 0.0,
                "tag": tag(args) if tag else None,
            }
            label = name(args) if callable(name) else name
            st = tracer.stack()
            st.append(frame)
            result = None
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                dur = time.perf_counter() - t0
                st.pop()
                if st:
                    st[-1]["child"] += dur
                trace, extra = describe(args, result) if describe else (None, None)
                tracer.spans.append(
                    (label, trace, tracer.phase, t0, dur, frame["child"], extra)
                )

        setattr(owner, attr, wrapper)

    def timed_iter(self, it, name: str):
        """Yield from ``it``, folding the time of each step into ``name``."""
        while True:
            if not self.enabled:
                try:
                    yield next(it)
                except StopIteration:
                    return
                continue
            t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                self.fold(name, time.perf_counter() - t0, 0)
                return
            self.fold(name, time.perf_counter() - t0)
            yield item

    # -- output ------------------------------------------------------------
    def dump(self, path: str) -> None:
        doc = {
            "spans": self.spans,
            "totals": [[p, n, s, c] for (p, n), (s, c) in self.totals.items()],
        }
        with open(path, "w") as f:
            json.dump(doc, f, default=str)


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)
