"""The measurement harness: one timing loop (`bench.time_query`) that
every root timing script calls, under one protocol."""

from __future__ import annotations

from pathlib import Path

import pytest

import bench

ROOT = Path(__file__).resolve().parent.parent


def test_time_query_rebuilds_the_frame_every_rep(monkeypatch):
    """Each of the 1 + reps reps constructs a new frame and writes it
    once; cold is the first rep, warm the fastest of the others."""
    written = []
    monkeypatch.setattr(bench, "run_query", written.append)
    frames = iter(range(10))
    got = bench.time_query(None, {"q": lambda spark, sf: next(frames)},
                           "q", "sf", 3)
    assert written == [0, 1, 2, 3]
    assert sorted(got) == ["cold", "load", "warm"]
    assert len(got["load"]) == 5  # each rep's start, then the end
    assert bench.PROTOCOL == "rebuild"


@pytest.mark.parametrize("script", ["bench_twins.py",
                                    "scripts/sweep_registry.py"])
def test_harness_has_no_timing_loop_of_its_own(script):
    source = (ROOT / script).read_text()
    assert "time_query(" in source
    assert "perf_counter" not in source
    assert 'format("noop")' not in source


def test_noop_write_is_defined_once():
    """Across the root and scripts/ harnesses the noop-sink write is
    bench.run_query's alone."""
    found = {str(p.relative_to(ROOT)): p.read_text().count('format("noop")')
             for p in [*ROOT.glob("*.py"), *ROOT.glob("scripts/*.py")]}
    assert sum(found.values()) == 1, {k: n for k, n in found.items() if n}


@pytest.mark.parametrize("script", ["micro_bench.py",
                                    "ann_amortization_bench.py"])
def test_closed_decision_harnesses_are_gone(script):
    """Their conclusions live in the README, their numbers in
    ANN_AMORT_r11.json and CHANGES.md."""
    assert not (ROOT / script).exists()
