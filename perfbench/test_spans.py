"""Tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (  # noqa: E402
    Span,
    driver_gap,
    failed_share,
    layer_metrics,
    quantile,
    self_time,
    union_length,
)


def test_quantile_matches_statistics_inclusive():
    for n in (2, 3, 5, 18, 37, 100):
        xs = [((i * 7919) % 101) / 10 for i in range(n)]
        q = statistics.quantiles(xs, n=10, method="inclusive")
        assert quantile(xs, 0.9) == pytest.approx(q[8])
        assert quantile(xs, 0.5) == pytest.approx(statistics.median(xs))


def test_quantile_rank_does_not_depend_on_sample_count():
    # The same distribution sampled 3, 5 or 9 times: p90 stays within the
    # top tenth of the range instead of jumping to the maximum.
    for n in (3, 5, 9):
        xs = [i / (n - 1) for i in range(n)]
        assert quantile(xs, 0.9) == pytest.approx(0.9)
    assert quantile([4.0], 0.9) == 4.0
    assert quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
    assert union_length([(0, 10)], lo=2, hi=5) == 3


def test_self_time_with_overlapping_children():
    # Children [1,4] and [3,6] overlap on [3,4]: covered = 5, not 6.
    assert self_time(0, 10, [(1, 4), (3, 6)]) == 5
    # A child running past its parent's end only covers up to the end.
    assert self_time(0, 10, [(8, 12)]) == 8


def test_driver_gap_counts_overlapping_jobs_once():
    jobs = [(1.0, 3.0), (2.0, 4.0), (4.0, 5.0)]
    assert driver_gap(0.0, 10.0, jobs) == pytest.approx(6.0)
    # Jobs outside the span do not count against its gap.
    assert driver_gap(0.0, 2.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(1.0)


def test_failed_share():
    assert failed_share(10, 0) == 0.0
    assert failed_share(4, 1) == 0.25
    assert failed_share(3, 3) == 1.0
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(2, 3)


def _job(start, end, **kw):
    job = {
        "id": 0, "start": start, "end": end, "failed": False, "stages": 1, "tasks": 2,
        "failed_tasks": 0, "task_s": 0.5, "cpu_s": 0.25, "input_b": 1_000_000,
        "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
    }
    return job | kw


def test_layer_metrics_add_up_to_wall():
    spans = [
        Span(0, "op", "op", 0, None, 0.0, 10.0),
        Span(1, "step", "step", 0, 0, 0.0, 9.0),
        Span(2, "q", "plans", 0, 1, 0.0, 3.0, jobs=[_job(1.0, 2.0)]),
        Span(3, "plan", "catalyst", 0, 1, 3.0, 4.0),
        Span(4, "collect", "exec", 0, 1, 4.0, 8.5, jobs=[_job(4.5, 6.0), _job(5.0, 8.0)]),
    ]
    m = layer_metrics(spans, spans[1])
    assert m["wall_s"] == 9.0
    assert m["plans.build_s"] == pytest.approx(2.0)  # 3 s minus its 1 s job
    assert m["plans.build_jobs"] == 1
    assert m["exec.jobs"] == 3
    assert m["exec.job_s"] == pytest.approx(1.0 + 3.5)
    assert m["driver.gap_s"] == pytest.approx(9.0 - 4.5)
    assert m["sources.scan_mb"] == pytest.approx(3.0)
    layers = sum(m[f"self.{k}_s"] for k in ("plans", "catalyst", "exec", "step"))
    assert layers == pytest.approx(m["wall_s"])
    assert m["self.step_s"] == pytest.approx(0.5)


def test_streaming_self_time_is_its_own_layer():
    spans = [
        Span(0, "op", "op", 0, None, 0.0, 5.0),
        Span(1, "events_etl", "step", 0, 0, 0.0, 4.0),
        Span(2, "ingest", "streaming", 0, 1, 0.5, 3.5, jobs=[_job(1.0, 2.0)], attrs={"bytes": 2e6, "files": 1}),
    ]
    m = layer_metrics(spans, spans[1])
    assert m["streaming.ingest_s"] == pytest.approx(3.0)
    assert m["self.step_s"] == pytest.approx(1.0)
    assert m["sources.write_mb"] == pytest.approx(2.0)
    assert m["driver.gap_s"] == pytest.approx(3.0)
