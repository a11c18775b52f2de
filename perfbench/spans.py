"""In-memory span recorder for the traced run.

Spans are opened only by the benchmark's own files, around calls into
the package's public functions. Each span holds its name, start, end,
parent span and pass id; the list is written once, at the end of the
run, with each span's self time.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None
        #: seconds spent in the tracer's own bookkeeping
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        cost0 = self.cost_s
        self.cost_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            self._stack.pop()
            self.cost_s += time.perf_counter() - t1
            # bookkeeping spent inside this span, its children's included
            rec["cost_s"] = self.cost_s - cost0

    @contextmanager
    def wrapped(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a spanned wrapper while the block runs."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def find(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)

    def total(self, name: str, pass_id: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (pass_id is None or s["pass"] == pass_id)
        )

    def write(self, path: str) -> None:
        out = []
        for s, self_s in zip(self.spans, self_times(self.spans)):
            out.append({**s, "dur_s": s["end"] - s["start"], "self_s": self_s})
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((hi - lo) - covered)
    return out
