"""Known facts about the traced run's counters.

Each test runs the benchmark end to end (about a minute per run), so
this module is slow; run it with ``python -m pytest perfbench/tests``.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench.trace import _union_ms  # noqa: E402

COUNTS = ("jobs", "tasks", "bytes_written", "spill_bytes", "shuffle_bytes", "py_rows")


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_union_of_stage_intervals_is_clipped_and_merged():
    assert _union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5


@pytest.fixture(scope="module", params=["etl_parity", "text_pipeline"])
def runs(request):
    return request.param, _traced(request.param, 5), _traced(request.param, 5)


def test_sort_spills_under_the_benchmark_memory(runs):
    workload, a, _ = runs
    if workload == "etl_parity":
        assert a["operators.index_ops.spill_bytes"] > 0


def test_counts_repeat_exactly_for_one_seed(runs):
    _, a, b = runs
    counts = [k for k in a if k.rsplit(".", 1)[-1] in COUNTS]
    assert counts
    assert {k: a[k] for k in counts} == {k: b[k] for k in counts}
