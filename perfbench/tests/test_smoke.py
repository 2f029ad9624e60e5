"""End-to-end smoke test of the benchmark at sf0.001.

Runs every workload with ``--seconds 1`` and no warm-up, plain (one timed
pass) and traced (a plain and a traced timed pass), and checks that every
metric is printed with its unit and that the final line is the result
object.  A corrupted result must make ``failed_frac`` > 0.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

WORKLOADS = sorted(run.NOMINAL_PASS_S)


def bench(workload: str, trace: int, *extra: str) -> tuple[str, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001", "--warmup", "0", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout, json.loads(out.stdout.strip().splitlines()[-1])


def printed_units(stdout: str) -> dict[str, str]:
    return dict(re.findall(r"^metric (\S+)\s+\S+ (\S+)$", stdout, re.M))


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed(workload, trace):
    stdout, result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, stdout
    want = dict(run.PER_LAYER if trace else run.END_TO_END)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace:
        assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
        want.update(run.REPORT_ONLY)
    units = printed_units(stdout)
    want["failed_frac"] = "frac"
    for name, unit in want.items():
        assert units.get(name) == unit, (name, stdout)
    assert "isolation: ok" in stdout


def test_corrupt_result_is_counted():
    stdout, result = bench("registry", 0, "--corrupt")
    assert not result["correct"] and result["failed"] >= 1
    assert float(re.search(r"^metric failed_frac\s+(\S+)", stdout,
                           re.M).group(1)) > 0
