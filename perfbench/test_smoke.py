"""Smoke test of the benchmark itself, at tiny corpus sizes.

Runs every workload untraced and traced.  Each run fails unless it emits
every metric BENCHMARK.json declares for its mode, with the declared
unit, and every crawl matched the oracles.  Takes a few minutes (one
Spark session per workload and mode), so it only runs when asked for:

    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

RUN = Path(__file__).resolve().parent / "run.py"


@pytest.mark.skipif(
    os.environ.get("PERFBENCH_SMOKE") != "1",
    reason="starts Spark sessions for minutes; set PERFBENCH_SMOKE=1 to run",
)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_declared_metric(trace):
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", "all", "--smoke",
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=RUN.parent.parent, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-4000:]
    rows = [line.split() for line in proc.stdout.splitlines() if line.strip()]
    error_rates = {r[0]: float(r[2]) for r in rows if r[1] == "error_rate"}
    assert set(error_rates) == {"bfs_frontier", "content_crawl"}
    assert all(v == 0.0 for v in error_rates.values()), error_rates
