"""bench.py's last stdout line: one JSON object that fits the summary
budget, whatever the retry protocol attached to it."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _summary(n_attempts: int) -> dict:
    return {
        "metric": "headline_queries_total_runtime",
        "value": 12.5,
        "unit": "sec",
        "queries": {n: 0.5 for n in bench.HEADLINE},
        "prior_attempts": [
            {"noisy": True, "steal_pct": 3.25, "load1": 4.5, "value": 13.0}
        ]
        * n_attempts,
    }


def test_summary_line_within_budget_is_verbatim():
    s = _summary(1)
    line = bench.fit_summary_line(s)
    assert len(line) <= bench.SUMMARY_MAX_CHARS
    assert json.loads(line) == s


def test_oversized_summary_drops_prior_attempts():
    s = _summary(40)
    assert len(json.dumps(s, separators=(",", ":"))) > bench.SUMMARY_MAX_CHARS
    line = bench.fit_summary_line(s)
    assert len(line) <= bench.SUMMARY_MAX_CHARS
    parsed = json.loads(line)
    assert "prior_attempts" not in parsed
    assert parsed == {k: v for k, v in s.items() if k != "prior_attempts"}
    assert "prior_attempts" in s  # the caller's record is not mutated
