"""Streaming additions: foreachBatch SCD2 dimension maintenance,
hopping windows, stream-static enrichment.

The SCD2 sink test is the headline: four time-ordered micro-batches of
state observations must leave EXACTLY the dimension a full batch
recompute produces — the streaming twin of the scd2_apply_incremental
oracle query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etlutil_spark.operators.scd2 import scd2_intervals
from etlutil_spark.sources.testdata import load_table
from etlutil_spark.streaming.events import enrich_stream, hopping_counts
from etlutil_spark.streaming.upsert import read_dim, run_scd2_upsert_stream
from tests.helpers import crash_mid_build


@pytest.fixture(scope="module")
def user_states(spark, sf_dir):
    """Per-user state log: each event observes the user's 'current' event
    type. Deduped to unique (user_id, ts) — the operator contract."""
    ev = load_table(spark, "events", sf_dir)
    return ev.select("user_id", "ts", "event_type").dropDuplicates(
        ["user_id", "ts"]
    )


class TestScd2UpsertStream:
    def test_stream_converges_to_batch_recompute(
        self, spark, user_states, tmp_path
    ):
        src_dir = str(tmp_path / "changes")
        # four CONTIGUOUS time slices written in order: distinct mtimes, so
        # the file source replays them as in-order micro-batches (the
        # scd2_apply contract; random row-hash splits would violate it)
        qs = user_states.select(
            F.percentile_approx("ts", [0.25, 0.5, 0.75], 10000).alias("q")
        ).collect()[0].q
        bounds = [None, *qs, None]
        for i in range(4):
            part = user_states
            if bounds[i] is not None:
                part = part.where(F.col("ts") > bounds[i])
            if bounds[i + 1] is not None:
                part = part.where(F.col("ts") <= bounds[i + 1])
            part.coalesce(1).write.mode("append").parquet(src_dir)

        stream = (
            spark.readStream.schema(user_states.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        dim_path = str(tmp_path / "dim")
        run_scd2_upsert_stream(
            stream, dim_path, "user_id", "ts", "event_type",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

        got = read_dim(spark, dim_path)
        want = scd2_intervals(user_states, "user_id", "ts", "event_type")
        key = lambda t: (t[0], t[2])
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, want.collect()), key=key
        )

    def test_checkpoint_restart_processes_only_new_files(
        self, spark, user_states, tmp_path
    ):
        """Stop/restart against the SAME checkpoint: the resumed query must
        merge only the files added after the first run (exactly-once file
        tracking) — replaying the first slice would double-apply it through
        scd2_apply and corrupt the dimension."""
        med = user_states.select(
            F.percentile_approx("ts", 0.5, 10000).alias("m")
        ).collect()[0].m
        early = user_states.where(F.col("ts") <= med)
        late = user_states.where(F.col("ts") > med)

        src_dir = str(tmp_path / "chg_restart")
        dim_path = str(tmp_path / "dim_restart")
        ckpt = str(tmp_path / "ckpt_restart")

        def run_once():
            stream = (
                spark.readStream.schema(user_states.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            run_scd2_upsert_stream(
                stream, dim_path, "user_id", "ts", "event_type",
                checkpoint_dir=ckpt,
            )

        early.coalesce(1).write.mode("append").parquet(src_dir)
        run_once()  # first run consumes the early slice, then terminates
        late.coalesce(1).write.mode("append").parquet(src_dir)
        run_once()  # restart from checkpoint: must see ONLY the late file

        got = read_dim(spark, dim_path)
        want = scd2_intervals(user_states, "user_id", "ts", "event_type")
        key = lambda t: (t[0], t[2])
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, want.collect()), key=key
        )

    def test_open_runs_are_current(self, spark, user_states, tmp_path):
        src_dir = str(tmp_path / "chg1")
        user_states.coalesce(1).write.parquet(src_dir)
        stream = (
            spark.readStream.schema(user_states.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        dim_path = str(tmp_path / "dim1")
        run_scd2_upsert_stream(
            stream, dim_path, "user_id", "ts", "event_type",
            checkpoint_dir=str(tmp_path / "ckpt1"),
        )
        dim = read_dim(spark, dim_path)
        per_user_current = (
            dim.where(F.col("is_current") == 1).groupBy("user_id").count()
        )
        assert per_user_current.where(F.col("count") != 1).count() == 0


class TestHoppingWindows:
    def test_overlap_factor(self, spark, sf_dir):
        ev = load_table(spark, "events", sf_dir)
        tumbling = ev.groupBy(F.window("ts", "1 hour"), "event_type").count()
        hopping = hopping_counts(ev, window="1 hour", slide="15 minutes")
        # every event lands in exactly 4 hopping windows -> total count x4
        t = tumbling.agg(F.sum("count")).collect()[0][0]
        h = hopping.agg(F.sum("n_events")).collect()[0][0]
        assert h == 4 * t


class TestEnrichStream:
    def test_broadcast_join_per_batch(self, spark, sf_dir, tmp_path):
        from etlutil_spark.streaming.events import (
            run_stream_query,
            stream_events_from_dir,
        )

        ev = load_table(spark, "events", sf_dir)
        src_dir = str(tmp_path / "ev")
        ev.coalesce(1).write.parquet(src_dir)
        dim = spark.createDataFrame(
            [("click", "engagement"), ("view", "engagement"),
             ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
            "event_type string, category string",
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        enriched = enrich_stream(stream, dim, "event_type").groupBy(
            "category"
        ).count()
        got = run_stream_query(enriched, query_name="t_enrich")
        want = {
            r.category: r["count"]
            for r in enrich_stream(ev, dim, "event_type")
            .groupBy("category")
            .count()
            .collect()
        }
        assert {r.category: r["count"] for r in got.collect()} == want


class TestStreamStreamJoin:
    def test_stream_join_matches_batch_join(self, spark, sf_dir, tmp_path):
        """The watermarked stream-stream attribution join must emit exactly
        the rows the identical batch join produces on the same data."""
        from etlutil_spark.streaming.events import (
            attribution_join_stream,
            run_stream_query,
        )

        ev = load_table(spark, "events", sf_dir)
        p_dir, c_dir = str(tmp_path / "p"), str(tmp_path / "c")
        ev.where(F.col("event_type") == "purchase").coalesce(2).write.parquet(p_dir)
        ev.where(F.col("event_type") == "click").coalesce(2).write.parquet(c_dir)

        def stream(d):
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )

        got = run_stream_query(
            attribution_join_stream(stream(p_dir), stream(c_dir)),
            query_name="t_ssj",
            output_mode="append",
        )
        want = attribution_join_stream(
            spark.read.parquet(p_dir), spark.read.parquet(c_dir)
        )
        key = lambda t: (t[0], t[3])
        assert sorted(map(tuple, got.collect()), key=key) == sorted(
            map(tuple, want.collect()), key=key
        )
        assert got.count() > 0  # the window actually matches something


class TestObjectStorePaths:
    def test_dim_on_non_local_fs_uri(self, spark, tmp_path):
        """The dimension path may be an object-store URI: a file: URI is
        invisible to os.path (the dedup-screen bug class), so this pins
        that read_dim and the version commit go through the Hadoop FS API."""
        from etlutil_spark.streaming.upsert import scd2_upsert_batch

        dim = "file:" + str(tmp_path / "dim")
        fb = scd2_upsert_batch(dim, "k", "ts", "v")
        b0 = spark.createDataFrame(
            [(1, "2024-01-01", "a"), (2, "2024-01-01", "x")],
            "k long, ts string, v string",
        ).select("k", F.to_timestamp("ts").alias("ts"), "v")
        fb(b0, 0)
        b1 = spark.createDataFrame(
            [(1, "2024-02-01", "b")], "k long, ts string, v string"
        ).select("k", F.to_timestamp("ts").alias("ts"), "v")
        fb(b1, 1)
        d = read_dim(spark, dim)
        assert d is not None, "file: URI dimension not detected"
        rows = sorted(
            (r["k"], r["v"], r["is_current"]) for r in d.collect()
        )
        # key 1 has history a->b (a closed, b current); key 2 current x
        assert rows == [(1, "a", False), (1, "b", True), (2, "x", True)]


class TestScd2CdcStream:
    """r9: the CDC sink (scd2_cdc_batch) must converge to the full-log
    scd2_cdc_intervals rebuild — deletes close runs mid-stream and the
    dimension survives a key's complete departure."""

    def test_cdc_stream_converges_with_deletes(self, spark, tmp_path):
        from etlutil_spark.operators.scd2 import scd2_cdc_intervals
        from etlutil_spark.streaming.upsert import scd2_cdc_batch

        rows = [
            (1, 10, "a", "U"), (1, 20, "b", "U"), (1, 30, None, "D"),
            (1, 40, "b", "U"),
            (2, 10, "x", "U"), (2, 25, None, "D"),
            (3, 15, "z", "U"),
        ]
        log = spark.createDataFrame(
            rows, "k long, ts long, st string, op string"
        )
        dim_path = str(tmp_path / "dim")
        sink = scd2_cdc_batch(dim_path, "k", "ts", "st", strict=True)
        # in-order time slices, one per micro-batch (the sink contract)
        for lo, hi in ((0, 15), (15, 28), (28, 99)):
            sink(
                log.where((F.col("ts") > lo) & (F.col("ts") <= hi)), lo
            )
        got = {tuple(r) for r in read_dim(spark, dim_path).collect()}
        want = {
            tuple(r)
            for r in scd2_cdc_intervals(log, "k", "ts", "st").collect()
        }
        assert got == want
        # the churned key must have NO current row
        cur = [
            r
            for r in read_dim(spark, dim_path).collect()
            if r["k"] == 2 and r["is_current"] == 1
        ]
        assert cur == []


class TestScd2ReplayGuard:
    """foreachBatch is at-least-once: a batch whose commit landed can
    REPLAY (crash between the commit and Spark's checkpoint write).
    Re-applying it against the POST-batch dimension would make
    strict=True raise the out-of-order guard on every retry, wedging the
    sink on its own replay (r12 bug hunt); the batch id recorded in the
    version's sidecar makes the replay a no-op."""

    def test_upsert_replay_is_noop(self, spark, tmp_path):
        from etlutil_spark.streaming.upsert import scd2_upsert_batch

        dim_path = str(tmp_path / "dim_replay")
        sink = scd2_upsert_batch(dim_path, "k", "ts", "s", strict=True)
        b0 = spark.createDataFrame(
            [(1, 5, "a"), (1, 9, "b"), (2, 3, "x")], "k int, ts int, s string"
        )
        sink(b0, 0)
        want = {tuple(r) for r in read_dim(spark, dim_path).collect()}
        # replay of the committed batch: must be a no-op, not a ValueError
        sink(b0, 0)
        assert {tuple(r) for r in read_dim(spark, dim_path).collect()} == want
        # and the NEXT batch still applies normally after the replay
        sink(
            spark.createDataFrame([(1, 12, "c")], "k int, ts int, s string"), 1
        )
        rows = {
            (r.k, r.valid_from, r.valid_to, r.s)
            for r in read_dim(spark, dim_path).collect()
        }
        assert (1, 9, 12, "b") in rows and (1, 12, None, "c") in rows

    def test_crash_mid_build_recovers(self, spark, tmp_path):
        """Batch 2 dies mid-commit: its scratch is invisible, readers keep
        batch 1's dimension, and the replay of batch 2 completes it."""
        from etlutil_spark.streaming.upsert import scd2_upsert_batch

        dim_path = str(tmp_path / "dim_crash")
        sink = scd2_upsert_batch(dim_path, "k", "ts", "s", strict=True)
        sink(spark.createDataFrame([(1, 5, "a"), (2, 3, "x")], "k int, ts int, s string"), 0)
        sink(spark.createDataFrame([(1, 9, "b")], "k int, ts int, s string"), 1)

        def rows():
            return {
                (r.k, r.valid_from, r.valid_to, r.s)
                for r in read_dim(spark, dim_path).collect()
            }

        want = rows()
        crash_mid_build(dim_path)
        assert rows() == want  # key 2's history is intact
        sink(spark.createDataFrame([(2, 7, "y")], "k int, ts int, s string"), 2)
        assert rows() == want - {(2, 3, None, "x")} | {(2, 3, 7, "x"), (2, 7, None, "y")}

    def test_cdc_crash_mid_build_recovers(self, spark, tmp_path):
        from etlutil_spark.streaming.upsert import scd2_cdc_batch

        dim_path = str(tmp_path / "dim_cdc_crash")
        sink = scd2_cdc_batch(dim_path, "k", "ts", "st", strict=True)
        sink(
            spark.createDataFrame(
                [(1, 5, "a", "U"), (2, 3, "x", "U")],
                "k int, ts int, st string, op string",
            ),
            0,
        )
        want = {tuple(r) for r in read_dim(spark, dim_path).collect()}
        crash_mid_build(dim_path)
        assert {tuple(r) for r in read_dim(spark, dim_path).collect()} == want
        sink(
            spark.createDataFrame(
                [(1, 9, None, "D")], "k int, ts int, st string, op string"
            ),
            1,
        )
        rows = {
            (r.k, r.valid_from, r.valid_to, r.st, r.is_current)
            for r in read_dim(spark, dim_path).collect()
        }
        assert (1, 5, 9, "a", False) in rows and (2, 3, None, "x", True) in rows

    def test_cdc_replay_is_noop(self, spark, tmp_path):
        from etlutil_spark.streaming.upsert import scd2_cdc_batch

        dim_path = str(tmp_path / "dim_cdc_replay")
        sink = scd2_cdc_batch(dim_path, "k", "ts", "st", strict=True)
        b0 = spark.createDataFrame(
            [(1, 5, "a", "U"), (1, 9, None, "D")],
            "k int, ts int, st string, op string",
        )
        sink(b0, 0)
        want = {tuple(r) for r in read_dim(spark, dim_path).collect()}
        sink(b0, 0)
        assert {tuple(r) for r in read_dim(spark, dim_path).collect()} == want
