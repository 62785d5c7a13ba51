"""Streaming decayed heavy-hitters (streaming/trending.py): the
foreachBatch CMS fold must decay exactly (integer floor), rank
deterministically, replay idempotently, and recover from a crash in the
middle of a batch's commit.

Fixture design: few distinct keys + width 4096 make CMS collisions
(probability ~ keys^2/width per row) effectively impossible, so the
estimates are EXACT decayed counts and every expectation is
hand-computable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etlutil_spark.streaming.trending import (
    read_trending,
    run_trending_stream,
    trending_batch,
)
from tests.helpers import crash_mid_build

W = dict(width=4096, depth=4)


def _batch(spark, counts: dict[str, int]):
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "event_type string")


def _board(spark, path):
    df = read_trending(spark, path)
    return {r["key"]: r["est"] for r in df.collect()}


class TestTrending:
    def test_decay_is_exact_integer_floor(self, spark, tmp_path):
        """b0: a=100, b=10. b1: b=10. After decay 7/8:
        a = floor(100*7/8) = 87, b = floor(10*7/8) + 10 = 18."""
        path = str(tmp_path / "state")
        fb = trending_batch(path, decay_num=7, decay_den=8, **W)
        fb(_batch(spark, {"a": 100, "b": 10}), 0)
        assert _board(spark, path) == {"a": 100, "b": 10}
        fb(_batch(spark, {"b": 10}), 1)
        assert _board(spark, path) == {"a": 87, "b": 18}

    def test_stale_key_fades_below_new_hot_key(self, spark, tmp_path):
        """'old' stops occurring and must drop below 'new' once decay
        halves it enough: 64 -> 32 -> 16 while new accumulates
        40 -> 60."""
        path = str(tmp_path / "state")
        fb = trending_batch(path, decay_num=1, decay_den=2, k=2, **W)
        fb(_batch(spark, {"old": 64}), 0)
        fb(_batch(spark, {"new": 40}), 1)          # old 32 > new 40? no: 32 < 40
        board = _board(spark, path)
        assert board["new"] == 40 and board["old"] == 32
        fb(_batch(spark, {"new": 40}), 2)
        board = _board(spark, path)
        assert board["new"] == 60 and board["old"] == 16

    def test_absent_from_batch_key_survives_via_prev_topk(self, spark, tmp_path):
        """A key outside the current batch must still be rankable (the
        candidate set unions the previous board)."""
        path = str(tmp_path / "state")
        fb = trending_batch(path, decay_num=7, decay_den=8, **W)
        fb(_batch(spark, {"sticky": 1000}), 0)
        fb(_batch(spark, {"minor": 1}), 1)
        board = _board(spark, path)
        assert board["sticky"] == 875  # floor(1000*7/8), no new mass
        assert board["minor"] == 1

    def test_replay_is_idempotent(self, spark, tmp_path):
        path = str(tmp_path / "state")
        fb = trending_batch(path, decay_num=7, decay_den=8, **W)
        fb(_batch(spark, {"a": 100}), 0)
        fb(_batch(spark, {"a": 8, "b": 3}), 1)
        first = _board(spark, path)
        fb(_batch(spark, {"a": 8, "b": 3}), 1)  # foreachBatch retry
        assert _board(spark, path) == first

    def test_crash_mid_build_recovers(self, spark, tmp_path):
        """Batch 1 dies mid-commit: its scratch (a builder dir, a version
        dir without its sidecar) is invisible, readers keep batch 0's
        board, and the replay of batch 1 completes the fold."""
        path = str(tmp_path / "state")
        fb = trending_batch(path, decay_num=7, decay_den=8, **W)
        fb(_batch(spark, {"a": 100}), 0)
        crash_mid_build(path)
        assert _board(spark, path) == {"a": 100}
        fb(_batch(spark, {"b": 8}), 1)
        assert _board(spark, path) == {"a": 87, "b": 8}

    def test_bad_decay_raises(self, tmp_path):
        with pytest.raises(ValueError, match="decay"):
            trending_batch(str(tmp_path), decay_num=8, decay_den=8)

    def test_stream_end_to_end(self, spark, tmp_path):
        """Drive real micro-batches through the file-source stream; the
        final board equals the hand-folded counts."""
        src = str(tmp_path / "incoming")
        for counts in ({"x": 16, "y": 2}, {"y": 2}, {"z": 5}):
            _batch(spark, counts).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        path = str(tmp_path / "state")
        run_trending_stream(
            stream,
            path,
            checkpoint_dir=str(tmp_path / "ckpt"),
            decay_num=1,
            decay_den=2,
            **W,
        )
        board = _board(spark, path)
        # folds: x 16->8->4, y 2->(1+2)=3->1, z 5 (file order = batch order)
        assert board == {"x": 4, "y": 1, "z": 5}


class TestBatchTwin:
    """r9: trending_fold_batches (the driver-checkable batch form behind
    events_trending_heavy_hitters) must reproduce the foreachBatch
    sink's board EXACTLY on the same batch split — the stream≡batch
    bridge that lets the DuckDB gate stand in for the stream."""

    def test_fold_equals_sink_board(self, spark, tmp_path):
        from etlutil_spark.streaming.trending import trending_fold_batches

        splits = [
            {"x": 16, "y": 2},
            {"y": 2, "w": 7},
            {"z": 5, "x": 1},
            {"z": 9},
        ]
        kw = dict(k=3, width=64, depth=4, decay_num=7, decay_den=8)
        sink = trending_batch(str(tmp_path / "state"), "event_type", **kw)
        for i, counts in enumerate(splits):
            sink(_batch(spark, counts), i)
        stream_board = _board(spark, str(tmp_path / "state"))

        batch_board = {
            r["key"]: r["est"]
            for r in trending_fold_batches(
                [_batch(spark, c) for c in splits], "event_type", **kw
            ).collect()
        }
        assert batch_board == stream_board

    def test_fold_rejects_empty_and_bad_decay(self, spark):
        import pytest as _pytest

        from etlutil_spark.streaming.trending import trending_fold_batches

        with _pytest.raises(ValueError, match="at least one batch"):
            trending_fold_batches([], "event_type")
        with _pytest.raises(ValueError, match="decay"):
            trending_fold_batches(
                [_batch(spark, {"a": 1})], "event_type",
                decay_num=9, decay_den=8,
            )
