"""Fixture-scale smoke test of every workload, untraced and traced: each run
must check its ops, fail none, and print every metric BENCHMARK.json names,
with its unit. A run with a failed op must still print its result line,
with ``correct`` false and the failure counted. Outside a full checkout the
benchmark must fail without printing a result.

    python3 -m pytest perfbench/tests -q     (about four minutes)
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd, *args, timeout=900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--fixture")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in named} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        m = result["metrics"]
        assert all(v["value"] > 0 for v in m.values())
        assert m["op_tail_s"]["value"] >= m["op_p50_s"]["value"]


# Runs the benchmark with one catalog query made to raise on its first
# call in the timed phase; the calls before it are the warm-up passes.
FLAKY_RUN = """
import sys
sys.path.insert(0, "perfbench")
import run
import workloads
from etlutil_spark import queries as Q
real, calls = Q.QUERIES["q1_pricing_summary"], []
def flaky(spark, data):
    calls.append(1)
    if len(calls) == workloads.CATALOG_WARMUP_PASSES + 1:
        raise RuntimeError("injected failure")
    return real(spark, data)
Q.QUERIES["q1_pricing_summary"] = flaky
sys.exit(run.main(sys.argv[1:]))
"""


def test_failed_op_is_reported():
    proc = subprocess.run(
        [sys.executable, "-c", FLAKY_RUN, "--workload", "catalog_warm", "--seed", "3",
         "--seconds", "1", "--trace", "0", "--fixture"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1 and result["attempted"] >= 38
    assert "op_tail_s" not in result["metrics"]
    assert result["metrics"]["setup_s"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0", timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
