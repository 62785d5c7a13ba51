"""Traced run: per-layer numbers, taken from outside the engine.

The tracer wraps the public functions of each engine module by replacing
them, in every loaded ``etlutil_spark`` module that holds them, with a
timing wrapper. Nothing under ``etlutil_spark/`` is edited. Stage-level
numbers come from Spark's own status store, read once after the timed
phase. The time the tracer spends on its own bookkeeping is measured and
published as ``trace.overhead_frac``.

Layers: ``session`` (get_spark), ``sources`` (testdata.load_table; the
kept workloads call none of the ``io`` readers or writers), ``operators``
(the eight ``ensure_*`` store families, in set-up and in the timed phase),
``queries`` (catalog builder vs collect), ``streaming`` (the foreachBatch
sink's micro-batches) and ``spark`` (executor stages, where the
``functions`` layer's Column expressions run). ``plans`` is off the hot
path and not measured.
"""

from __future__ import annotations

import contextlib
import os
import sys
import threading
import time
from collections import defaultdict

# family -> (module, function) of the eight persisted-store builders
STORE_FAMILIES = {
    "cluster": ("etlutil_spark.operators.dedup", "ensure_cluster_store"),
    "minhash": ("etlutil_spark.operators.dedup", "ensure_minhash_store"),
    "postings": ("etlutil_spark.operators.text_analysis", "ensure_postings_store"),
    "ivf": ("etlutil_spark.operators.similarity", "ensure_ivf_store"),
    "ivfadc": ("etlutil_spark.operators.clustering", "ensure_ivfadc_index"),
    "hist": ("etlutil_spark.operators.sketch", "ensure_hist_store"),
    "quality": ("etlutil_spark.operators.text_analysis", "ensure_quality_store"),
    "bucketed": ("etlutil_spark.sources.io", "ensure_bucketed_table"),
}
# The families whose numbers are published. The kept workloads use only
# the MinHash store (built in set-up, read in the timed phase); calls to
# every family still go into the trace file.
PUBLISHED_FAMILIES = ("minhash",)

LAYER_METRICS: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.exec_s", "s"),
    ("queries.exec_jobs", "count"),
    ("sources.load_table_s", "s"),
    ("sources.load_table_calls", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.busy_frac", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("spark.peak_exec_mem_mb", "MB"),
    *[(f"operators.store_build_s.{f}", "s") for f in PUBLISHED_FAMILIES],
    *[(f"operators.store_bytes.{f}", "bytes") for f in PUBLISHED_FAMILIES],
    *[(f"operators.store_reuse_s.{f}", "s") for f in PUBLISHED_FAMILIES],
    ("operators.store_reuse_ratio", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.files_per_batch", "count"),
    ("streaming.corpus_files", "count"),
    ("host.calib_cpu_s", "s"),
    ("host.calib_scan_s", "s"),
    ("trace.overhead_frac", "ratio"),
]


class NullTracer:
    """Untraced runs: the same hooks, doing nothing."""

    def begin(self, spark) -> None:
        pass

    def op(self, name: str, phase: str):
        return contextlib.nullcontext()

    def stream_started(self, query) -> None:
        pass

    def end(self, wall_s: float, cores: int) -> None:
        pass

    def stream_finished(self, query, batches: dict, corpus: str) -> None:
        pass


def _tree(roots) -> dict[str, tuple[int, int]]:
    files = {}
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                files[p] = (st.st_size, st.st_mtime_ns)
    return files


class Tracer(NullTracer):
    def __init__(self, store_roots: list[str]):
        self.store_roots = store_roots
        self.m: dict[str, float] = defaultdict(float)
        self.own = 0.0  # seconds spent in the tracer's own bookkeeping
        self.active = False
        self.ops: list[dict] = []
        self.stream_query = None
        self.stores: list[dict] = []
        self._local = threading.local()  # per-thread stack of open store calls
        self._spark = None

    # ------------------------------------------------------------ install

    @staticmethod
    def _replace(orig, new) -> None:
        """Point every loaded engine module's reference to ``orig`` at ``new``."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("etlutil_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    def _timed(self, key: str, fn, always: bool = False):
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if self.active or always:
                    self.m[key + "_s"] += time.perf_counter() - t0
                    self.m[key + "_calls"] += 1

        return wrapped

    def _store(self, family: str, fn):
        def wrapped(*args, **kwargs):
            t_own = time.perf_counter()
            before = _tree(self.store_roots)
            frame = {"s": 0.0, "bytes": 0}
            if not hasattr(self._local, "stack"):  # set-up runs ops on several threads
                self._local.stack = []
            stack = self._local.stack
            stack.append(frame)
            self.own += time.perf_counter() - t_own
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                t_own = time.perf_counter()
                stack.pop()
                after = _tree(self.store_roots)
                changed = sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))
                if stack:  # a store built inside another store's build
                    stack[-1]["s"] += dt
                    stack[-1]["bytes"] += changed
                own_s, own_bytes = dt - frame["s"], changed - frame["bytes"]
                self.stores.append({
                    "family": family, "phase": "timed" if self.active else "setup",
                    "kind": "build" if own_bytes > 0 else "reuse", "s": own_s, "bytes": own_bytes,
                })
                self.own += time.perf_counter() - t_own

        return wrapped

    def install(self) -> None:
        """Wrap the engine's public functions. Call before get_spark."""
        import importlib

        import etlutil_spark.queries  # noqa: F401  loads every engine module
        from etlutil_spark import session
        from etlutil_spark.sources import testdata

        self._replace(session.get_spark, self._timed("session.get_spark", session.get_spark, always=True))
        self._replace(testdata.load_table, self._timed("sources.load_table", testdata.load_table))
        for family, (module, attr) in STORE_FAMILIES.items():
            fn = getattr(importlib.import_module(module), attr)
            self._replace(fn, self._store(family, fn))

    # ------------------------------------------------------------- phases

    def begin(self, spark) -> None:
        self._spark = spark
        self.active = True

    @contextlib.contextmanager
    def op(self, name: str, phase: str):
        t_own = time.perf_counter()
        sc = self._spark.sparkContext
        group = f"perfbench-{len(self.ops)}"
        sc.setJobGroup(group, f"{name}:{phase}")
        self.own += time.perf_counter() - t_own
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            t_own = time.perf_counter()
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
            self.ops.append({"op": name, "phase": phase, "s": dt, "jobs": jobs})
            self.m[f"queries.{phase}_s"] += dt
            self.m[f"queries.{phase}_jobs"] += len(jobs)
            self.own += time.perf_counter() - t_own

    def stream_started(self, query) -> None:
        """The stream runs since set-up: remember its jobs so far, so only
        the timed phase's are counted."""
        self.stream_query = query
        tracker = self._spark.sparkContext.statusTracker()
        self._stream_jobs_before = set(tracker.getJobIdsForGroup(str(query.runId)))

    def stream_finished(self, query, batches: dict, corpus: str) -> None:
        progress = [p for p in query.recentProgress if p["batchId"] in batches]
        d = [p["durationMs"] for p in progress]
        self.m["streaming.batches"] = len(batches)
        self.m["streaming.batch_s"] = sum(x.get("triggerExecution", 0) for x in d) / 1e3
        self.m["streaming.add_batch_s"] = sum(x.get("addBatch", 0) for x in d) / 1e3
        self.m["streaming.planning_s"] = sum(x.get("queryPlanning", 0) for x in d) / 1e3
        self.m["streaming.commit_s"] = sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1e3
        n_files = sum(len(names) for _, names in batches.values())
        self.m["streaming.files_per_batch"] = n_files / len(batches) if batches else 0.0
        self.m["streaming.corpus_files"] = sum(len(f) for _, _, f in os.walk(corpus))

    def end(self, wall_s: float, cores: int) -> None:
        """Aggregate stage metrics of every job the timed phase ran; the
        overhead share counts only bookkeeping done inside the phase."""
        self.active = False
        self.m["trace.overhead_frac"] = self.own / wall_s if wall_s else 0.0
        sc = self._spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        if self.stream_query is not None:
            jobs = set(tracker.getJobIdsForGroup(str(self.stream_query.runId))) - self._stream_jobs_before
            self.ops.append({"op": "stream", "phase": "exec", "s": wall_s, "jobs": sorted(jobs)})
        seen: set[int] = set()
        totals: dict[str, float] = defaultdict(float)
        peak = 0
        for rec in self.ops:
            stages = []
            for job in rec["jobs"]:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # a stage skipped in every job never ran
                        continue
                    if sd.status().toString() != "COMPLETE":
                        continue
                    row = {
                        "stage": sid, "name": sd.name()[:80],
                        "run_s": sd.executorRunTime() / 1e3,
                        "shuffle_bytes": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
                        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
                    stages.append(row)
                    totals["spark.stages"] += 1
                    totals["spark.tasks"] += sd.numCompleteTasks()
                    totals["spark.executor_run_s"] += row["run_s"]
                    totals["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    totals["spark.gc_s"] += sd.jvmGcTime() / 1e3
                    totals["spark.input_bytes"] += sd.inputBytes()
                    totals["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                    totals["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    totals["spark.output_bytes"] += sd.outputBytes()
                    totals["spark.spill_bytes"] += row["spill_bytes"]
                    peak = max(peak, sd.peakExecutionMemory())
            rec["top_stages"] = sorted(stages, key=lambda r: -r["run_s"])[:3]
            totals["spark.jobs"] += len(rec["jobs"])
        self.m.update(totals)
        self.m["spark.peak_exec_mem_mb"] = peak / 2**20
        self.m["spark.busy_frac"] = totals["spark.executor_run_s"] / (wall_s * cores) if wall_s else 0.0
        # builds of any phase (the kept workloads build their stores in
        # set-up); reuse only inside the timed phase
        for s in self.stores:
            if s["kind"] == "build":
                self.m[f"operators.store_build_s.{s['family']}"] += s["s"]
                self.m[f"operators.store_bytes.{s['family']}"] += s["bytes"]
            elif s["phase"] == "timed":
                self.m[f"operators.store_reuse_s.{s['family']}"] += s["s"]
        timed = [s for s in self.stores if s["phase"] == "timed"]
        if timed:
            self.m["operators.store_reuse_ratio"] = sum(s["kind"] == "reuse" for s in timed) / len(timed)

    def metrics(self) -> dict[str, float]:
        return {name: float(self.m.get(name, 0.0)) for name, _ in LAYER_METRICS}

    def record(self) -> dict:
        """What goes into the trace file: per-op build/exec split, jobs and
        top stages, and every store decision."""
        return {"totals": dict(self.m), "ops": self.ops, "stores": self.stores}
