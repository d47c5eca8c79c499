"""bench.py's printed-line guard, checked without Spark."""
from __future__ import annotations

import json

import bench


def test_fit_line_sheds_detail_but_keeps_queries_and_value():
    # 16 characters, the mean length of the headline query names
    names = [f"headline_qry_{i:03d}" for i in range(28)]
    queries = {q: 1.234 + i for i, q in enumerate(names)}
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "queries_warm": {q: 0.987 + i for i, q in enumerate(names)},
        "sf": 0.1,
        "steal_pct": 0.5,
        "store_build": {"pca_centered_sec": 3.2, "knn_edges_sec": 4.1},
        "errors": {q: "Py4JJavaError: " + "x" * 480 for q in names},
    }
    line = bench.fit_line(out)
    assert len(line) <= bench.LINE_LIMIT
    got = json.loads(line)
    assert got["queries"] == queries and got["value"] == out["value"]
    assert got["errors"] == {"error_count": 28, "failed": sorted(names)}
    assert "store_build" not in got and "queries_warm" not in got


def test_fit_line_keeps_a_short_line_whole():
    out = {"metric": "headline_queries_total", "value": 1.0,
           "queries": {"q1": 1.0}, "queries_warm": {"q1": 0.5},
           "store_build": {"pca_centered_sec": 3.2}}
    assert json.loads(bench.fit_line(out)) == out
