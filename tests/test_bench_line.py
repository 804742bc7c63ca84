"""bench.py's stdout line: the budgeted ``per_query`` fill."""

from __future__ import annotations

import json

import bench

TIMINGS = {"q_slow": 3.0, "q_mid": 2.0, "q_fast": 1.0, "q_tie": 2.0}


def test_per_query_fills_most_expensive_first_within_budget():
    obj = {"metric": "headline_queries_total_sec", "value": 8.0}
    budget = len(json.dumps(obj)) + 50
    bench.fill_per_query(obj, TIMINGS, budget=budget)
    # q_mid and q_tie tie at 2.0: the name breaks the tie
    assert list(obj["per_query"]) == ["q_slow", "q_mid"]
    assert len(json.dumps(obj)) <= budget


def test_per_query_key_absent_when_nothing_fits():
    obj = {"metric": "headline_queries_total_sec", "pad": "x" * 1950}
    bench.fill_per_query(obj, TIMINGS)
    assert "per_query" not in obj
