"""Tests of the benchmark's metric arithmetic and of BENCHMARK.json's
agreement with what the benchmark prints.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402
from stats import (Outcomes, covered_share, median, percentile,  # noqa: E402
                   quartiles, spread, tail)
from workloads import WORKLOADS  # noqa: E402


def test_median_and_quartiles_follow_statistics_quantiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, q2, q3 = quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert median(values) == q2 == 4.0
    assert spread(values) == pytest.approx((q3 - q1) / q2)


def test_quartiles_of_one_value_and_of_none():
    assert quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        quartiles([])
    with pytest.raises(ValueError):
        median([])


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99.9) == 100
    assert percentile([3.0], 75) == 3.0


def test_tail_needs_ten_samples_beyond():
    assert tail([float(i) for i in range(19)]) is None
    t = tail([float(i) for i in range(20)])
    assert (t["p"], t["beyond"], t["n"]) == (50.0, 10, 20)


@pytest.mark.parametrize("n,p", [(40, 75.0), (100, 90.0), (199, 90.0),
                                 (200, 95.0), (1000, 99.0),
                                 (10000, 99.9)])
def test_tail_picks_highest_supported_percentile(n, p):
    t = tail([float(i) for i in range(n)])
    assert t["p"] == p
    assert t["beyond"] >= 10
    assert t["n"] == n


def test_tail_counts_only_samples_strictly_beyond():
    # 30 samples, 25 of them tied at the top: p50's value is the tie, and
    # nothing lies strictly beyond it.
    assert tail([1.0] * 5 + [2.0] * 25) is None


def test_exception_and_mismatch_each_count_once():
    o = Outcomes()
    for op in ("warm0:a", "warm0:b", "warm0:c", "warm0:d"):
        o.attempt(op)
    o.fail("warm0:a", "raised")          # an exception
    o.fail("warm0:b", "mismatch")        # a correctness mismatch
    assert (o.failed, len(o.attempted)) == (2, 4)
    o.fail("warm0:a", "mismatch too")    # same operation: still once
    assert o.failed == 2
    assert o.failures["warm0:a"] == "raised"
    assert o.failed_frac == pytest.approx(0.5)


def test_failure_of_unattempted_op_counts_as_attempted():
    o = Outcomes()
    o.fail("check:x", "mismatch")
    assert (o.failed, len(o.attempted), o.failed_frac) == (1, 1, 1.0)
    assert Outcomes().failed_frac == 0.0


def test_span_coverage_of_a_pass():
    window = (0.0, 10.0)
    # construct 0-3, execute 3-8.5, sink 8.5-9.6: 96% of the pass.
    spans = [(0.0, 3.0), (3.0, 8.5), (8.5, 9.6)]
    assert covered_share(window, spans) == pytest.approx(0.96)
    assert covered_share(window, spans) >= 0.9


def test_span_coverage_counts_overlap_once_and_clips():
    window = (10.0, 20.0)
    spans = [(9.0, 12.0), (11.0, 13.0), (15.0, 25.0), (30.0, 31.0)]
    # covered: 10-13 and 15-20 -> 8 of 10 seconds
    assert covered_share(window, spans) == pytest.approx(0.8)
    assert covered_share(window, []) == 0.0
    with pytest.raises(ValueError):
        covered_share((1.0, 1.0), spans)


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.LAYERS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["paths"] == ["perfbench"]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in spec["end_to_end"])


def test_workloads_are_well_formed():
    for w in WORKLOADS.values():
        assert len(set(w.ops())) == len(w.ops())
        assert set(w.staged) <= set(w.queries)
        assert set(w.memo) <= set(w.queries)
        assert set(w.columns) <= set(w.queries)
