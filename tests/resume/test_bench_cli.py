"""bench.py takes no arguments: an old invocation such as
``--scaling`` exits non-zero before Spark starts, instead of silently
running the headline queries."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_bench_rejects_arguments_before_spark_starts():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--scaling"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "unrecognized arguments: --scaling" in proc.stderr
    assert proc.stdout == ""
