"""bench.py's one-line JSON: inlining per-query medians within the byte budget."""

from __future__ import annotations

import json

import bench


def _line(base, queries):
    return json.dumps({**base, "queries": queries}, separators=(",", ":"))


def test_long_entry_does_not_stop_the_fill():
    base = {"metric": "headline_queries_total", "value": 1.0, "queries": {}}
    timings = {"a": 1.5, "x" * 80: 2.5, "b": 3.5, "c": 4.5}
    budget = len(_line(base, {"a": 1.5, "b": 3.5, "c": 4.5}))
    got = bench._inline_queries(base, timings, ["a", "x" * 80, "b", "c"],
                                budget)
    assert got == {"a": 1.5, "b": 3.5, "c": 4.5}
    assert len(_line(base, got)) <= budget


def test_fill_keeps_priority_order_and_skips_unknown_names():
    base = {"queries": {}}
    timings = {"q1": 1.0, "q2": 2.0, "q3": 3.0}
    got = bench._inline_queries(base, timings, ["q3", "missing", "q1"])
    assert list(got) == ["q3", "q1"]
