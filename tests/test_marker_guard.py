"""The slow-marker guard in conftest.py: naming a slow test on the
command line under the default `-m "not slow"` fails loudly instead of
exiting green with nothing run."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SLOW_TEST = "tests/test_recall_referee.py::test_wilson_ci_known_values"


def _collect(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=REPO, capture_output=True, text=True, timeout=300)


def test_named_slow_test_deselected_by_marker_fails_loudly():
    out = _collect(SLOW_TEST)
    assert out.returncode == 4, out.stdout + out.stderr
    assert "marked slow" in out.stderr


def test_named_slow_test_runs_when_marker_filter_allows_it():
    out = _collect(SLOW_TEST, "-m", "slow or not slow")
    assert out.returncode == 0, out.stdout + out.stderr
    assert "1 test collected" in out.stdout


def test_each_named_path_is_checked_on_its_own():
    out = _collect("tests/test_tablefn.py")
    assert out.returncode == 0, out.stdout + out.stderr
    # A fast file beside it does not excuse an all-slow file.
    out = _collect("tests/test_recall_referee.py", "tests/test_tablefn.py")
    assert out.returncode == 4, out.stdout + out.stderr
