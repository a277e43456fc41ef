"""Unit tests for the benchmark's span tracer.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer  # noqa: E402


def _traced(tracer, op, spans):
    """Append hand-timed spans: (name, start, end, parent index or None)."""
    base = len(tracer.spans)
    for k, (name, start, end, parent) in enumerate(spans):
        tracer.spans.append({
            "id": base + k, "name": name, "op": op,
            "parent": None if parent is None else base + parent,
            "start": start, "end": end})


def test_self_time_subtracts_child_coverage():
    t = Tracer()
    _traced(t, 1, [("op", 0.0, 10.0, None), ("a", 1.0, 4.0, 0),
                   ("b", 3.0, 6.0, 0), ("c", 4.5, 5.0, 2)])
    self_s = {s["name"]: s["self_s"] for s in t.self_times()}
    assert self_s["op"] == pytest.approx(5.0)  # children cover 1..6
    assert self_s["b"] == pytest.approx(2.5)
    assert self_s["c"] == pytest.approx(0.5)


def test_per_op_medians_count_missing_layers_as_zero():
    t = Tracer()
    _traced(t, 1, [("op", 0.0, 4.0, None), ("a", 0.0, 1.0, 0)])
    _traced(t, 3, [("op", 5.0, 8.0, None), ("a", 5.0, 7.0, 0),
                   ("b", 7.0, 8.0, 0)])
    _traced(t, 5, [("op", 9.0, 11.0, None), ("a", 9.0, 10.0, 0)])
    dur = t.per_op_medians("dur")
    assert dur["op"] == pytest.approx(3.0)
    assert dur["a"] == pytest.approx(1.0)
    assert dur["b"] == 0.0
    assert t.per_op_medians("self_s")["op"] == pytest.approx(1.0)  # 3, 0, 1


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("x"):
        t.count("n", 1)
    assert t.spans == [] and t.counts == []
    t.enabled, t.op_id = True, 7
    with t.span("x"):
        t.count("n", 2)
    t.count("n", 3)
    assert [s["name"] for s in t.spans] == ["x"]
    assert t.per_op_medians("count") == {"n": 5}
