"""Runs the benchmark runner's own self-tests (perfbench/selftest.py:
seeded op sequences, result checks, percentile and overhead arithmetic,
metric names against BENCHMARK.json; no Spark session), so a change that
breaks the benchmark fails here rather than when the benchmark next runs."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "selftest.py")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
