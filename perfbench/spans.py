"""Spans and counts recorded by the benchmark around its own calls into
each layer.

A span has a name, start, end, parent span and op id; a count has a name,
op id and value.  Both stay in memory and are written out once the run
ends.  A span's self time is its duration minus the part of its interval
that its children cover.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from typing import Dict, List, Optional

from spark_counters import union_seconds


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self.counts: List[dict] = []
        self.enabled = False
        self.op_id: Optional[int] = None
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.append({"name": name, "op": self.op_id,
                                "value": value})

    def self_times(self) -> List[dict]:
        """Each span with its ``self_s``: duration minus child coverage."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered = union_seconds(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], ()))
            out.append(dict(s, self_s=(s["end"] - s["start"]) - covered))
        return out

    def per_op_medians(self, field: str) -> Dict[str, float]:
        """Median over traced ops of each name's per-op total.

        ``field`` is ``"dur"`` (span duration), ``"self_s"`` (span self
        time) or ``"count"`` (recorded counts).  An op without an entry of
        some name counts zero for it.
        """
        if field == "count":
            entries = [(c["name"], c["op"], c["value"]) for c in self.counts]
        else:
            entries = [(s["name"], s["op"], s["end"] - s["start"]
                        if field == "dur" else s["self_s"])
                       for s in self.self_times()]
        ops = {s["op"] for s in self.spans}
        totals: Dict[str, Dict[int, float]] = {}
        for name, op, v in entries:
            per = totals.setdefault(name, {})
            per[op] = per.get(op, 0.0) + v
        return {name: statistics.median(per.get(op, 0.0) for op in ops)
                for name, per in totals.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.self_times(), "counts": self.counts},
                      fh, indent=1)
