#!/usr/bin/env python3
"""Benchmark of the etlutil_spark engine.

    python3 perfbench/run.py --workload catalog_warm --seed 1 --seconds 2 --trace 0

Run from the repository root. Each run is one process on one local Spark
session (``local[<cores>]``, cores = CPUs this process may use). It stages
seeded inputs, warms up, runs the host calibration jobs, measures the
workload for ``--seconds`` (at least the workload's minimum sample), checks
every op's output, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs the tracer and reports the
per-layer metrics, and writes per-op detail to ``.perfbench_out/``. The line
before the result carries run details (sample sizes, tail percentile,
calibration, master, input sizes).

Everything the run writes goes under ``.perfbench_work/`` (removed at exit)
and ``.perfbench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import etlutil_spark  # noqa: E402,F401  fails fast outside a full checkout
import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402
from tracer import LAYER_METRICS, NullTracer, Tracer  # noqa: E402

DEFAULT_SEED = 1
E2E_METRICS = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
]
CALIB_SEED = 0  # the scan calibration reads the same table in every run


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=2.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fixture", action="store_true",
                   help="fixture-scale inputs (catalog at sf0.001), for smoke tests")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> dict[str, str]:
    """Point every scratch location of Spark and the engine into ``work``."""
    dirs = {d: os.path.join(work, d) for d in ("spark-local", "stores", "tmp", "warehouse", "derby")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_STORE_DIR"] = dirs["stores"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # JVMs keep their perf-data files in /tmp unless told not to
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    import tempfile

    tempfile.tempdir = None
    return dirs


def boot(dirs: dict[str, str], trace: bool):
    from etlutil_spark import session

    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']} "
            f"-Dderby.system.home={dirs['derby']}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # the tracer reads every job and stage of the timed phase
        conf.update({"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "20000"})
    spark = session.get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def calibrate(spark, work: str) -> dict[str, float]:
    """The repo bench's two fixed host-calibration jobs: a CPU-bound
    shuffle+agg and a parquet scan+agg over an sf0.01 lineitem."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "id % 97 AS k", "id % 31 AS v"
    ).groupBy("k").sum("v").collect()
    cpu = time.perf_counter() - t0
    path = os.path.join(work, "calib-lineitem.parquet")
    pq.write_table(datagen.lineitem(np.random.default_rng(CALIB_SEED), 0.01), path)
    t0 = time.perf_counter()
    spark.read.parquet(path).selectExpr(
        "sum(l_quantity) AS s", "count(*) AS n"
    ).collect()
    return {"host.calib_cpu_s": cpu, "host.calib_scan_s": time.perf_counter() - t0}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """High-water mark of driver + JVM resident memory while running."""

    def __init__(self, jvm_pid: int):
        super().__init__(name="perfbench-rss", daemon=True)
        self.pids = [os.getpid(), jvm_pid]
        self.peak_kb = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._done.wait(0.05)

    def finish(self) -> float:
        self._done.set()
        self.join()
        return self.peak_kb / 1024.0


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def e2e_metrics(log, min_ops: int, setup_s: float, peak_mb: float) -> tuple[dict, int | None]:
    """The end-to-end metrics of one run, and the tail percentile used.

    The tail percentile is fixed from the workload's smallest sample, so
    every run reports the same one. A run with a failed op has a shorter
    sample than that, so its latency metrics are left out; the result
    line still reports it, with ``correct`` false."""
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_mb}
    if log.pass_walls:
        e2e["wall_s"] = statistics.median(log.pass_walls)
    if log.failed or len(log.latencies) < min_ops:
        return e2e, None
    q = stats.tail_percentile(min_ops)
    e2e["op_p50_s"] = stats.percentile(log.latencies, 50)
    e2e["op_tail_s"] = stats.percentile(log.latencies, q)
    return e2e, q


def run(args, work: str) -> tuple[dict, dict, dict]:
    dirs = prepare_env(work)
    tracer = Tracer([dirs["stores"], dirs["warehouse"]]) if args.trace else NullTracer()
    if args.trace:
        tracer.install()

    wl = W.WORKLOADS[args.workload](work, args.seed, args.seconds, args.fixture)
    t0 = time.perf_counter()
    spark = boot(dirs, bool(args.trace))
    boot_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    sizes = wl.stage()
    stage_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warmup(spark, cores())
    warm_s = time.perf_counter() - t0

    calib = calibrate(spark, work)

    from pyspark import SparkContext

    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    tracer.begin(spark)
    t0 = time.perf_counter()
    log = wl.timed(spark, tracer)
    timed_s = time.perf_counter() - t0
    peak_mb = sampler.finish()
    tracer.end(timed_s, cores())
    t0 = time.perf_counter()
    wl.check(spark, log)
    check_s = time.perf_counter() - t0

    e2e, q = e2e_metrics(log, wl.min_ops, boot_s + stage_s + warm_s, peak_mb)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": spark.sparkContext.master, "cores": cores(),
        "inputs": sizes, "boot_s": boot_s, "stage_s": stage_s, "warmup_s": warm_s,
        "timed_s": timed_s, "passes": len(log.pass_walls), "pass_walls_s": log.pass_walls,
        "check_s": check_s, "ops": len(log.latencies), "tail_percentile": q,
        **calib, **wl.detail(),
        "failures": log.failures, "op_latencies_s": list(zip(log.names, log.latencies)),
    }
    layers = {}
    if args.trace:
        tracer.m.update(calib)
        layers = tracer.metrics()
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"detail": detail, "layers": layers, **tracer.record()}, fh, indent=1)
    shutdown(spark)
    return (
        {"attempted": log.attempted, "failed": log.failed},
        detail,
        layers if args.trace else e2e,
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        counts, detail, values = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = dict(LAYER_METRICS if args.trace else E2E_METRICS)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": counts["failed"] == 0 and set(values) == set(units),
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
