"""Smoke test of the benchmark itself: tiny inputs, one pass per workload,
every output check and the failure accounting on.

    python3 -m pytest perfbench/test_smoke.py -q      # from the repo root
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the one call expected to fail today: pq_topk_rerank with a custom
# query-id column (it joins on the literal "query_id")
EXPECTED_FAILED = {"analytics": 0, "curation": 1, "task_graph": 0}


def _run(workload: str, trace: int) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--smoke", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-3000:]
    assert result["failed"] == EXPECTED_FAILED[workload]
    assert result["attempted"] > result["failed"]
    return result["metrics"], out.stderr


@pytest.mark.parametrize("workload", sorted(EXPECTED_FAILED))
def test_smoke(workload):
    metrics, _ = _run(workload, 0)
    assert all(m["value"] > 0 for m in metrics.values())


def test_smoke_traced():
    """The traced path: hooks installed, event log read, per-layer counts
    taken on the cheapest workload."""
    metrics, err = _run("task_graph", 1)
    assert metrics["delayed.tasks_per_call"]["value"] > 0, err[-3000:]
    assert metrics["execution.jobs"]["value"] > 0, err[-3000:]
    assert "futures.live_broadcasts" in metrics
