"""The percentile helper: one sample, tail >= p50, and no tail without ten
samples beyond it. A run with a failed op reports no latency metrics.

    python3 -m pytest perfbench/tests -q
"""

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402
from workloads import OpLog  # noqa: E402


@pytest.mark.parametrize("n", [20, 38, 57, 100, 1000])
def test_tail_not_below_p50_on_one_sample(n):
    rng = random.Random(n)
    for _ in range(50):
        sample = [rng.lognormvariate(0, 1) for _ in range(n)]
        q = stats.tail_percentile(n)
        assert stats.percentile(sample, q) >= stats.percentile(sample, 50)


@pytest.mark.parametrize("n,q", [(20, 50), (38, 73), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_beyond(n, q):
    assert stats.tail_percentile(n) == q
    assert stats.samples_beyond(n, q) >= stats.MIN_BEYOND


@pytest.mark.parametrize("n", [0, 1, 10, 19])
def test_no_tail_from_too_few_samples(n):
    with pytest.raises(ValueError):
        stats.tail_percentile(n)


def test_percentile_refuses_thin_tail():
    sample = list(range(38))
    stats.percentile(sample, 73)
    with pytest.raises(ValueError):
        stats.percentile(sample, 75)  # 9.5 samples beyond


def test_nearest_rank():
    sample = [5.0, 1.0, 4.0, 2.0, 3.0] * 4  # 20 samples, each value 4 times
    assert stats.percentile(sample, 50) == 3.0
    assert stats.percentile(sample, 50) == stats.percentile(sorted(sample), 50)


def _log(latencies, failed=0):
    log = OpLog()
    log.latencies, log.pass_walls, log.failed = list(latencies), [1.0], failed
    log.attempted = len(latencies) + failed
    return log


def test_latency_metrics_from_a_full_sample():
    e2e, q = run.e2e_metrics(_log(range(1, 39)), 38, 2.0, 100.0)
    assert q == 73
    assert e2e["op_tail_s"] >= e2e["op_p50_s"]
    assert set(e2e) == {name for name, _ in run.E2E_METRICS}


@pytest.mark.parametrize("latencies,failed", [(range(1, 38), 1), ([], 1), (range(1, 38), 0)])
def test_short_or_failed_sample_has_no_latency_metrics(latencies, failed):
    e2e, q = run.e2e_metrics(_log(latencies, failed), 38, 2.0, 100.0)
    assert q is None
    assert "op_p50_s" not in e2e and "op_tail_s" not in e2e
    assert e2e["setup_s"] == 2.0 and e2e["wall_s"] == 1.0
