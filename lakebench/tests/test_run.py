"""Tests of the result line run.py prints (no Spark needed)."""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def test_a_run_that_died_still_reports_a_failed_line():
    line = run._line({"wall_s": (None, "s")}, {"fatal": "child exited -9 without a result"})
    assert line == {
        "correct": False, "attempted": 1, "failed": 1,
        "metrics": {"wall_s": {"value": None, "unit": "s"}},
    }


def test_failed_operations_make_the_run_incorrect():
    line = run._line({"query_p80_s": (math.inf, "s")}, {"attempted": 22, "failed": 2})
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 22, 2)
    assert line["metrics"]["query_p80_s"]["value"] is None


def test_a_clean_run_is_correct():
    line = run._line({"wall_s": (12.5, "s")}, {"attempted": 51, "failed": 0})
    assert (line["correct"], line["attempted"], line["failed"]) == (True, 51, 0)
    assert line["metrics"]["wall_s"]["value"] == 12.5
