"""Two traced runs of one seed must do the same work: per op the same
Spark job, stage and task counts and the same file count under the
workload's table/index directories. The runs start from a directory
outside the checkout, so the ingest transport must import in the Python
workers from the path the launcher sets.

Each case runs the benchmark twice, each time cut after its first timed
cycle (about a minute each):

    python3 -m pytest perfbench/tests/test_determinism.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _traced_run(workload: str, seed: int, cwd) -> list[tuple]:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "perfbench", "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", "1",
            "--trace", "1",
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    record = json.loads(out.stdout.strip().splitlines()[-2])["run_record"]
    with open(os.path.join(ROOT, record["trace_file"])) as f:
        ops = json.load(f)["ops"]
    return [
        (o["kind"], o["jobs"], o["stages"], o["tasks"], o["files"])
        for o in ops
        if o["traced"]
    ]


@pytest.mark.parametrize("workload", ["ingest_daily", "table_mixed", "llm_curation"])
def test_traced_runs_of_one_seed_do_the_same_work(workload, tmp_path):
    first = _traced_run(workload, 3, tmp_path)
    second = _traced_run(workload, 3, tmp_path)
    n = min(len(first), len(second))
    assert n > 0
    assert first[:n] == second[:n]
