"""The benchmark's self-test: a tiny world through every workload,
untraced and traced, with every result checked.  The benchmark calls
engine internals, so an engine change that breaks it fails here."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_self_test_passes():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--self-test"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    verdicts = [line for line in proc.stdout.splitlines()
                if line.startswith("self-test")]
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    assert len(verdicts) == 4, verdicts
    assert all(v.endswith(": ok") for v in verdicts), verdicts
