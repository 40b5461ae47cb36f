"""Tests of the benchmark's own statistics (no Spark needed).

Run: python3 -m pytest lakebench/tests -q
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from stats import FAILED, Span, Tracer  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_p80_needs_ten_samples_beyond_it():
    assert stats.percentile(list(range(1, 51)), 0.8, min_beyond=10) == 40
    assert stats.percentile(list(range(1, 101)), 0.8, min_beyond=10) == 80
    # Too few samples for p80: the highest rank with ten beyond it instead.
    assert stats.percentile(list(range(1, 50)), 0.8, min_beyond=10) == 39
    assert stats.percentile(list(range(1, 23)), 0.8, min_beyond=10) == 12
    assert stats.percentile(list(range(1, 11)), 0.8, min_beyond=10) is None
    assert stats.percentile([], 0.5) is None


def test_failed_operation_ranks_slower_than_any_success():
    lat = [0.1] * 40 + [1e6] * 9 + [FAILED]
    assert stats.percentile(lat, 1.0) == FAILED
    # Failures fill the tail first: p80 stays on the successes only while
    # every failure lies beyond it.
    lat = [0.1] * 40 + [FAILED] * 10
    assert stats.percentile(lat, 0.8, min_beyond=10) == 0.1
    assert stats.percentile(lat + [0.2], 0.8, min_beyond=10) == 0.2
    assert stats.percentile([FAILED] * 50 + [0.1] * 10, 0.5) == FAILED


def test_quartiles_match_statistics_quantiles():
    q = stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q["q1"], q["median"], q["q3"]) == (1.5, 3.0, 4.5)
    assert q["spread"] == pytest.approx(1.0)


def test_self_time_is_span_minus_children():
    spans = [
        Span("query", 0.0, 10.0, 1, None),
        Span("build", 1.0, 3.0, 1, 0),
        Span("exec", 2.0, 6.0, 1, 0),  # overlaps build: union is 1..6
        Span("inner", 2.5, 3.5, 1, 2),
        Span("release", 9.0, 12.0, 1, 0),  # clipped to the parent at 10
    ]
    own = stats.self_times(spans)
    assert own["query"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own["build"] == pytest.approx(2.0)
    assert own["exec"] == pytest.approx(3.0)
    assert own["inner"] == pytest.approx(1.0)
    assert own["release"] == pytest.approx(3.0)


def test_tracer_nests_spans_and_shares_operation_ids():
    tr = Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
    with tr.span("c"):
        pass
    a, b, c = tr.spans
    assert (a.parent, b.parent, c.parent) == (None, 0, None)
    assert a.op == b.op != c.op
    assert a.start <= b.start <= b.end <= a.end
    assert not math.isnan(c.end)
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_event_log_fold_totals():
    lines = stats.read_event_log(DATA)
    fold = stats.fold_event_log(lines, group_of=lambda g: g.split(":", 1)[0] if g else "")
    assert set(fold) == {"", "q", "silver"}
    q = fold["q"]
    assert (q["jobs"], q["stages"], q["tasks"]) == (1, 2, 3)  # stage 3 skipped
    assert q["task_cpu_s"] == pytest.approx(3.25)
    assert q["gc_s"] == pytest.approx(0.05)
    assert q["shuffle_write_mb"] == pytest.approx(4.0)
    assert q["spill_mb"] == pytest.approx(2.0)
    assert (fold[""]["jobs"], fold[""]["tasks"], fold[""]["task_cpu_s"]) == (1, 1, 0.5)
    assert fold["silver"]["gc_s"] == pytest.approx(0.005)


def test_proc_readers_see_this_process():
    me = os.getpid()
    assert stats.reaped_child_cpu_seconds(me) >= 0
    assert stats.peak_rss_mb([me]) > 1
    assert me not in stats.descendants(me)
