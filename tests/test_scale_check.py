"""Smoke runs of scale_check.py's kept modes at toy size.

Each case runs the script in its own process (its own 2 GB driver, with
``SPARK_GRAFT_CPUS`` inherited) and checks the correctness field of the
one JSON line it prints.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

SCRIPT = Path(__file__).resolve().parents[1] / "scale_check.py"


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, str(SCRIPT), *args],
        env={**os.environ, "SPARK_DRIVER_MEMORY": "2g"},
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "args, key, want",
    [
        (("--cc", "--rows", "200000"), "mislabeled", 0),
        (
            ("--streaming", "--batches", "2", "--rows-per-batch", "2000"),
            "read_equality_after_fold", True,
        ),
    ],
    ids=["cc", "streaming"],
)
def test_kept_mode_runs(args, key, want):
    assert _run(*args)[key] == want
