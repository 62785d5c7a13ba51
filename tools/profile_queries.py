"""Per-query cost profile: driver-side build time (the catalog function,
including any eager jobs inside it), execution time (the collect), and the
Spark jobs, stages, tasks and shuffle exchanges of the two together. Job,
stage and exchange counts are stable run to run; the times are not.

Each query runs once untimed first, so any ``ensure_*`` store it reads is
warm and its JIT paths are compiled.

Usage: SPARK_GRAFT_SF_DIR=<tables dir> python tools/profile_queries.py [query ...]
(default queries: bench.HEADLINE; SPARK_GRAFT_CPUS sets the core count).
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from etlutil_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to the directory of the input tables")
    spark = get_spark("profile-queries")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    from etlutil_spark import queries as Q  # noqa: E402
    from etlutil_spark.plans.inspect import exchange_count  # noqa: E402

    names = sys.argv[1:] or list(HEADLINE)
    tracker = sc.statusTracker()
    print(
        f"{'query':34s} {'build_s':>7s} {'exec_s':>7s} {'jobs':>4s} "
        f"{'stages':>6s} {'tasks':>6s} {'exch':>4s}"
    )
    for name in names:
        Q.QUERIES[name](spark, sf_dir).collect()  # warm stores and JIT
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = Q.QUERIES[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        df.collect()
        t_exec = time.perf_counter() - t0
        sc.setJobGroup(f"{group}-done", name)
        jobs = sorted(tracker.getJobIdsForGroup(group))
        n_stages = n_tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else []:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks > 0:
                    n_stages += 1
                    n_tasks += si.numTasks
        print(
            f"{name:34s} {t_build:7.3f} {t_exec:7.3f} {len(jobs):4d} "
            f"{n_stages:6d} {n_tasks:6d} {exchange_count(df):4d}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
