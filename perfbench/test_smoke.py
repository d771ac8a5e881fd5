"""Smoke test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``run.py --smoke`` in a subprocess (its own Spark session,
about 40 s on a 4-core host): every metric BENCHMARK.json names must be
emitted with its unit, an untouched run must pass its checks, and a run
whose result is perturbed before the checks must fail them.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
@pytest.mark.parametrize("trace,perturbed", [(0, False), (1, True)])
def test_metrics_emitted_and_checks_hold(workload, trace, perturbed):
    args = ["--workload", workload, "--seed", "7", "--seconds", "2",
            "--trace", str(trace), "--smoke"] + (["--perturb"] if perturbed else [])
    proc = bench(*args)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    wanted = spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]
    assert result["attempted"] >= 1
    if perturbed:
        assert result["correct"] is False and result["failed"] >= 1
        assert "FAILED:" in proc.stdout
    else:
        assert result["correct"] is True and result["failed"] == 0, proc.stdout


def test_fails_without_the_engine(tmp_path):
    """With only BENCHMARK.json and the benchmark's files present, the run
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "adhoc-query", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
