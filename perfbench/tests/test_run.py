"""End-to-end: ``run.py`` as the benchmark command runs it, at sf0.001.

    python3 -m pytest perfbench/tests -q

Each case starts its own Spark process (about a minute on four cores), so
this module is kept apart from the shared-session checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace, kind", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric_in_its_last_line(trace, kind):
    cmd = [sys.executable, "perfbench/run.py", "--workload", "relational", "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = {m["name"]: m["unit"] for m in load(os.path.join("..", "BENCHMARK.json"))[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
