"""The benchmark's own self-test (generator, oracles, event-log
parser; no Spark) in the fast tier, so an environment change that
breaks the benchmark fails here rather than in a benchmark run."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, "perfbench/selftest.py"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]


def test_tracer_targets_exist():
    """perfbench/run.py:install_tracer wraps these names by looking each
    up in its owner's __dict__; a refactor that drops one makes every
    traced benchmark run die with KeyError."""
    import pixelspark.io as pio
    import pixelspark.job as pjob
    from pixelspark.storage import LocalStorage

    assert "append_records" in pio.__dict__
    assert "build_report" in pjob.__dict__
    for name in ("read_text", "write_text_atomic", "list"):
        assert name in LocalStorage.__dict__, name
