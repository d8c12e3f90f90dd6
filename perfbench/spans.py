"""Spans around the benchmark's calls into the program's layers.

A span has a name, a start, an end, a parent and a pass id; with a
:class:`~counters.Collector` attached it also carries the Spark counters
accrued while it was open. Spans are kept in memory and written out once,
at the end of a run. A span's self time is its duration minus the part of
it that its child spans cover.

:class:`NullTracer` has the same ``span`` and records nothing: the untraced
run uses it, so the timed code is the same in both runs.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class NullTracer:
    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        yield {}


class Tracer:
    def __init__(self, collector=None) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._collector = collector
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        if pass_id is None and self._stack:
            pass_id = self.spans[self._stack[-1]]["pass_id"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass_id": pass_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        snap = self._collector.snapshot() if self._collector else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if snap is not None:
                rec["counters"], execs = self._collector.diff(snap)
                rec["executions"] = len(execs)
                rec["_executions"] = execs

    def wrap(self, module, attr: str, name: str, census=None) -> None:
        """Replace ``module.attr`` by a spanned call until :meth:`unwrap_all`.

        ``census(args, kwargs, span)`` runs after the call, inside the span's
        time but outside the wrapped function."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if census is not None:
                    census(args, kwargs, sp)
                return out

        setattr(module, attr, spanned)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"] and "end" in s
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str, t0: float) -> None:
        """Write the spans as JSON, times relative to ``t0``."""
        out = []
        for s in self.spans:
            if "end" not in s:
                continue
            rec = {k: v for k, v in s.items() if not k.startswith("_")}
            rec["start"] = s["start"] - t0
            rec["end"] = s["end"] - t0
            rec["self_s"] = self.self_time(s)
            out.append(rec)
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True, default=str)
