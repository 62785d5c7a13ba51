"""The benchmark's workloads and their frozen op lists.

Op lists are copies, not imports: a later edit to the repo's own bench
harness or catalog ordering cannot change what is measured here.

``catalog_warm``   closed loop, one client: the 19 headline catalog queries,
                   stores and JIT warmed in set-up, in a seeded order per
                   pass. An op is one builder call plus its collect.
``stream_microbatch``  closed loop: bursts of small document files land in a
                   watched directory, each once the previous one is
                   committed; a processingTime stream feeds them to the
                   dedup-screen foreachBatch sink. An op is one file, and its
                   latency is the lag from its burst's landing to the commit
                   of the micro-batch that contains it.
"""

from __future__ import annotations

import json
import os
import random
import time

import numpy as np

import datagen

# Headline catalog queries, frozen copy (19 ops).
CATALOG_OPS = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "top_customers_per_segment",
    "events_monthly",
    "events_weekly_buckets",
    "events_backfill_chunks",
    "events_tumbling_hourly",
    "sessionize_users",
    "docs_token_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "knn_join_topk",
    "docs_contamination",
    "docs_pack_token_budget",
    "asof_purchase_attribution",
    "scd2_apply_incremental",
    "kmv_distinct_events",
)
CATALOG_SF = 0.01
# The catalog's tables are the same in every run, like the fixed-seed
# testdata the catalog is checked against; --seed drives the op order.
CATALOG_DATA_SEED = 42
FIXTURE_SF = 0.001
CATALOG_MIN_PASSES = 2
CATALOG_WARMUP_PASSES = 2

STREAM_DOCS_PER_FILE = 4
# Closed loop: a burst of this many files lands, and the next one only
# after the stream has committed it (see WORKLOADS.md).
STREAM_FILES_PER_BURST = 6
STREAM_MIN_BURSTS = 4
STREAM_BURST_EST_S = 4.0  # a warm burst on the 4-core box; sizes the run to --seconds
STREAM_WARM_BURSTS = 2
STREAM_TRIGGER = "100 milliseconds"
STREAM_THRESHOLD = 0.7
STREAM_BURST_TIMEOUT_S = 60.0
STREAM_POLL_S = 0.05


class OpLog:
    """Latencies and outcomes of the timed phase's ops."""

    def __init__(self):
        self.attempted = 0
        self.latencies: list[float] = []
        self.names: list[str] = []
        self.pass_walls: list[float] = []
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 10:
            self.failures.append(why)


class Catalog:
    """catalog_warm. ``min_ops`` is the smallest sample the timed phase
    produces; the tail percentile is fixed from it, so every run reports
    the same percentile."""

    def __init__(self, work: str, seed: int, seconds: float, fixture: bool):
        self.data = os.path.join(work, "data")
        self.seed, self.seconds = seed, seconds
        self.sf = FIXTURE_SF if fixture else CATALOG_SF
        self.min_ops = CATALOG_MIN_PASSES * len(CATALOG_OPS)
        self.results: list = []

    def stage(self) -> dict:
        return datagen.stage(self.data, self.sf, CATALOG_DATA_SEED)

    def warmup(self, spark, threads: int) -> None:
        """Every op CATALOG_WARMUP_PASSES times. The first pass runs
        ``threads`` ops at a time: its first-use cost (codegen, store builds,
        Python workers) is mostly driver-side and single-threaded, so
        overlapping the ops shortens set-up. The later passes run one op at
        a time, as the timed phase does, which leaves the JIT compiler
        threads cores of their own."""
        from concurrent.futures import ThreadPoolExecutor

        from etlutil_spark import queries as Q

        def op(name):
            return Q.QUERIES[name](spark, self.data).collect()

        with ThreadPoolExecutor(threads) as pool:
            list(pool.map(op, CATALOG_OPS))
        for _ in range(CATALOG_WARMUP_PASSES - 1):
            for name in CATALOG_OPS:
                op(name)

    def timed(self, spark, tracer) -> OpLog:
        """Whole passes in a seeded order until ``seconds`` have passed and
        at least CATALOG_MIN_PASSES are done. Keeps every op's
        (name, columns, rows) for the untimed check."""
        from etlutil_spark import queries as Q

        log = OpLog()
        order = list(CATALOG_OPS)
        rng = random.Random(self.seed)
        t_start = time.perf_counter()
        while len(log.pass_walls) < CATALOG_MIN_PASSES or time.perf_counter() - t_start < self.seconds:
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                log.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.op(name, "build"):
                        df = Q.QUERIES[name](spark, self.data)
                    with tracer.op(name, "exec"):
                        rows = df.collect()
                except Exception as exc:  # an op that raises is a failed op
                    log.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                log.latencies.append(time.perf_counter() - t0)
                log.names.append(name)
                self.results.append((name, df.columns, rows))
            log.pass_walls.append(time.perf_counter() - t_pass)
        return log

    def check(self, spark, log: OpLog) -> None:
        """Untimed: every op's rows against its DuckDB oracle."""
        from etlutil_spark import queries as Q

        import oracle

        expected = {}
        for name, cols, rows in self.results:
            if name not in expected:
                expected[name] = oracle.Expected(Q.ORACLES[name], self.data)
            why = expected[name].mismatch(cols, rows)
            if why:
                log.fail(f"{name}: {why}"[:300])

    def detail(self) -> dict:
        return {"data_seed": CATALOG_DATA_SEED, "sf": self.sf}


def _start_stream(spark, schema, watch: str, corpus: str, ckpt: str):
    from etlutil_spark.streaming.dedup_screen import dedup_screen_batch

    return (
        spark.readStream.schema(schema).parquet(watch)
        .writeStream.foreachBatch(dedup_screen_batch(corpus, verify_threshold=STREAM_THRESHOLD))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=STREAM_TRIGGER)
        .start()
    )


def _committed_batches(ckpt: str) -> dict[int, tuple[float, list[str]]]:
    """batch id -> (commit time, file names) from the checkpoint: membership
    from ``sources/0/<batch>``, commit time from ``commits/<batch>``'s mtime."""
    out = {}
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(commits):
        return out
    for b in os.listdir(commits):
        if not b.isdigit():
            continue
        names = []
        with open(os.path.join(ckpt, "sources", "0", b), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    names.append(os.path.basename(json.loads(line)["path"]))
        out[int(b)] = (os.stat(os.path.join(commits, b)).st_mtime, names)
    return out


class Stream:
    """stream_microbatch: one processingTime stream over a watched
    directory. Bursts of STREAM_FILES_PER_BURST files land one at a time,
    each after the previous one is committed; each file is one op."""

    def __init__(self, work: str, seed: int, seconds: float, fixture: bool):
        self.work, self.seed = work, seed
        self.bursts = max(STREAM_MIN_BURSTS, round(seconds / STREAM_BURST_EST_S))
        self.min_ops = self.bursts * STREAM_FILES_PER_BURST
        self.n_docs = self.min_ops * STREAM_DOCS_PER_FILE
        self.watch, self.ckpt = os.path.join(work, "watch"), os.path.join(work, "ckpt")
        self.corpus = os.path.join(work, "corpus")
        self.files: list[str] = []
        self.warm_files: list[str] = []
        self.query = None
        self.info: dict = {}

    def stage(self) -> dict:
        per_burst = STREAM_FILES_PER_BURST * STREAM_DOCS_PER_FILE
        # no near-duplicates: see WORKLOADS.md
        docs = datagen.documents(np.random.default_rng(self.seed), self.n_docs, dups=False)
        warm = datagen.documents(np.random.default_rng(self.seed + 1), STREAM_WARM_BURSTS * per_burst,
                                 dups=False, first_id=self.n_docs)
        self.warm_files = datagen.stage_burst_files(
            os.path.join(self.work, "staged-warm"), warm, per_burst, STREAM_DOCS_PER_FILE,
            self.seed + 1, "warm")
        self.files = datagen.stage_burst_files(
            os.path.join(self.work, "staged"), docs, per_burst, STREAM_DOCS_PER_FILE, self.seed, "part")
        return {"documents": {"rows": docs.num_rows, "bytes": sum(os.path.getsize(f) for f in self.files)},
                "files": len(self.files), "warmup_files": len(self.warm_files)}

    def _burst(self, paths: list[str]) -> tuple[float, dict]:
        """Land ``paths`` in the watched directory and wait until the stream
        has committed all of them; return the landing time and the batches
        that hold them. Waiting polls only the commit log's length, so it
        takes next to nothing from the stream's own driver work."""
        names = {os.path.basename(p) for p in paths}
        commits = os.path.join(self.ckpt, "commits")
        for path in paths:
            os.rename(path, os.path.join(self.watch, os.path.basename(path)))
        t_land = time.time()
        deadline = t_land + STREAM_BURST_TIMEOUT_S
        seen, batches = -1, {}
        while time.time() < deadline and self.query.isActive:
            n = sum(f.isdigit() for f in os.listdir(commits)) if os.path.isdir(commits) else 0
            if n != seen:
                seen = n
                batches = {b: v for b, v in _committed_batches(self.ckpt).items() if names & set(v[1])}
                if sum(len(v[1]) for v in batches.values()) >= len(names):
                    break
            time.sleep(STREAM_POLL_S)
        return t_land, batches

    def warmup(self, spark, threads: int) -> None:
        """Start the stream and drive STREAM_WARM_BURSTS bursts through it,
        so the timed bursts pay no first-use cost (codegen, JIT, the first
        screen against a stored corpus)."""
        os.makedirs(self.watch)
        schema = spark.read.parquet(self.files[0]).schema
        self.query = _start_stream(spark, schema, self.watch, self.corpus, self.ckpt)
        for b in range(STREAM_WARM_BURSTS):
            self._burst(self.warm_files[b * STREAM_FILES_PER_BURST:(b + 1) * STREAM_FILES_PER_BURST])
        if self.query.exception():
            raise RuntimeError(f"warm-up stream failed: {self.query.exception()}")

    def timed(self, spark, tracer) -> OpLog:
        """``bursts`` bursts, one after the other. A file's lag is the
        commit time of the batch that holds it minus its burst's landing;
        a burst's wall is its landing to the commit of its last file."""
        q, log = self.query, OpLog()
        tracer.stream_started(q)
        timed_batches = {}
        for b in range(self.bursts):
            paths = self.files[b * STREAM_FILES_PER_BURST:(b + 1) * STREAM_FILES_PER_BURST]
            t_land, batches = self._burst(paths)
            timed_batches.update(batches)
            committed = {n: t for t, names in batches.values() for n in names}
            log.attempted += len(paths)
            for name in sorted(os.path.basename(p) for p in paths):
                if name in committed:
                    log.latencies.append(committed[name] - t_land)
                    log.names.append(name)
                else:
                    log.fail(f"{name}: never committed")
            log.pass_walls.append(max((t for t, _ in batches.values()), default=time.time()) - t_land)
        q.stop()
        if q.exception():
            log.fail(f"stream: {q.exception()}"[:300])
        tracer.stream_finished(q, timed_batches, self.corpus)
        self.info = {
            "batches": len(timed_batches),
            "batch_files": [len(names) for _, (_, names) in sorted(timed_batches.items())],
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in q.recentProgress
                         if p["batchId"] in timed_batches],
        }
        return log

    def check(self, spark, log: OpLog) -> None:
        """The screen's invariants on the accepted corpus: ids unique, no
        verified near-dup pair at the threshold, and a non-empty corpus."""
        from pyspark.sql import functions as F

        from etlutil_spark.operators.dedup import minhash_lsh_pairs
        from etlutil_spark.streaming.dedup_screen import read_corpus

        docs, _ = read_corpus(spark, self.corpus)
        problems = []
        if docs is None:
            problems.append("empty corpus")
        else:
            n, n_ids = docs.select(F.count("*"), F.countDistinct("doc_id")).first()
            if n != n_ids:
                problems.append(f"{n - n_ids} repeated ids")
            fed = self.n_docs + len(self.warm_files) * STREAM_DOCS_PER_FILE
            if not 0 < n <= fed:
                problems.append(f"{n} accepted of {fed}")
            pairs = minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=STREAM_THRESHOLD).count()
            if pairs:
                problems.append(f"{pairs} near-dup pairs accepted")
        for why in problems:
            log.fail(f"corpus: {why}")
        if problems:  # a broken corpus fails every op that fed it
            log.failed = log.attempted

    def detail(self) -> dict:
        return {**self.info, "files_per_burst": STREAM_FILES_PER_BURST,
                "docs_per_file": STREAM_DOCS_PER_FILE, "trigger": STREAM_TRIGGER}


WORKLOADS = {"catalog_warm": Catalog, "stream_microbatch": Stream}
