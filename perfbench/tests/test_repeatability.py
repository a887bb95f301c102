"""Structural counts of a traced run must repeat exactly for the same seed.

Runs every workload twice with tracing on and compares the counts that
regression evidence rests on. Slow (two full benchmark runs per
workload); run from the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ("export_sync", "corpus", "stream_fold")
REPEATING = (
    "plans.build_jobs",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "operators.sinks.batches",
    "operators.sinks.retries",
    "streaming.batches",
)


def traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "4", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    record, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return record, result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_structural_counts_repeat(workload: str) -> None:
    runs = [traced_run(workload, seed=7) for _ in range(2)]
    for record, result in runs:
        assert result["correct"] and result["failed"] == 0, record["notes"]
    first, second = (record["per_layer"] for record, _ in runs)
    diffs = {k: (first[k], second[k]) for k in REPEATING if first[k] != second[k]}
    assert not diffs, diffs
