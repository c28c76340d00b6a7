"""bench.py's final line keeps every timed query row and still fits the
2000-char tail the benchmark's reader captures."""

from __future__ import annotations

import json

import bench


def _result(secs, with_scaling: bool = True) -> dict:
    queries = {"linkage_pipeline": 34.416}
    queries.update({q: secs(i) for i, q in enumerate(bench.HEADLINE_QUERIES)})
    result = {
        "metric": "linkage+headline suite wall time", "value": 108.398,
        "unit": "sec", "sf": 0.1, "queries": queries,
        "pairs_scored": 5654847, "pairs_per_sec": 164321.5, "links": 6544,
        "cpus": 4,
    }
    if with_scaling:
        result["scaling"] = {
            "kernel_pairs": 1200000, "cores_lo": 2, "cores_hi": 8,
            "throughput_lo": 812345.6, "throughput_hi": 2912345.6,
            "efficiency": 0.896, "quiet": True,
        }
    return result


def _check(result: dict, digits: int) -> dict:
    line = bench.headline_line(result)
    assert len(line) <= bench.HEADLINE_MAX
    got = json.loads(line)
    assert list(got["queries"]) == list(result["queries"])
    for q, secs in result["queries"].items():
        assert got["queries"][q] == round(secs, digits)
    assert "scaling" not in got
    return got


def test_headline_keeps_every_query_row():
    # sub-10 s rows, as at sf0.1: the scaling block goes, 2 decimals stay
    result = _result(lambda i: 0.123 + i / 10)
    got = _check(result, 2)
    assert got["scaling_see_detail"] is True
    assert "scaling" in result  # the caller's dict is left as it was
    assert "scaling_see_detail" not in _check(_result(lambda i: 0.5, False), 2)
    # every row over 10 s: still every row, at 1 decimal
    _check(_result(lambda i: 12.345 + i), 1)


def test_short_headline_is_unchanged():
    result = _result(lambda i: 1.0)
    result["queries"] = {"linkage_pipeline": 34.416}
    assert bench.headline_line(result) == json.dumps(result)
