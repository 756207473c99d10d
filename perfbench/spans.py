"""Spans recorded around calls into the program's public functions.

A span is (name, start, end, parent, ref): ``parent`` is the index of the
span open on the same thread when it started, ``ref`` the micro-batch id or
query name it belongs to.  Spans stay in memory and are written out once,
when the run ends.  Wrapping replaces the module attribute each caller
looks up, so the program itself is unchanged.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def span(self, name: str, ref=None) -> _Span:
        return _Span(self, name, ref)

    def wrap(self, module, attr: str, name: str, ref_arg: int | None = None, after=None) -> None:
        """Record a span around every call of ``module.attr`` while active.
        ``ref_arg`` picks the positional argument naming the batch or query;
        ``after(args)`` runs once the call returns and its dict of counts
        is stored on the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            ref = args[ref_arg] if ref_arg is not None and len(args) > ref_arg else None
            with self.span(name, ref) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                self.spans[s.idx].update(after(args))
            return out

        setattr(module, attr, traced)
        self._undo.append((module, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)

    def select(self, name: str, lo: int = 0, refs=None) -> list[tuple[int, dict]]:
        """(index, span) of the ``name`` spans among spans[lo:], only those
        whose ref is in ``refs`` if it is given."""
        return [(i, s) for i, s in enumerate(self.spans[lo:], lo)
                if s["name"] == name and (refs is None or s["ref"] in refs)]

    def durations(self, name: str, lo: int = 0, refs=None) -> list[float]:
        return [s["end"] - s["start"] for _i, s in self.select(name, lo, refs)]

    def self_times(self, name: str, lo: int = 0, refs=None) -> list[float]:
        """Each ``name`` span's duration minus the time its children cover."""
        out = []
        for i, s in self.select(name, lo, refs):
            kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == i)
            covered, reach = 0.0, s["start"]
            for a, b in kids:
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, ref) -> None:
        self.t, self.name, self.ref = tracer, name, ref

    def __enter__(self) -> _Span:
        stack = self.t._stack()
        with self.t._lock:
            self.idx = len(self.t.spans)
            self.t.spans.append({"name": self.name, "start": time.perf_counter(), "end": None,
                                 "parent": stack[-1] if stack else None, "ref": self.ref})
        stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        self.t._stack().pop()
        self.t.spans[self.idx]["end"] = time.perf_counter()

    @property
    def seconds(self) -> float:
        s = self.t.spans[self.idx]
        return s["end"] - s["start"]
