"""Streaming inverted-index maintenance: the postings store kept
current by a foreachBatch sink (text_analysis.py:postings_update_sink),
with the serve-equals-rebuild invariant checked after the stream
drains and after a simulated retry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestStreamingPostingsMaintenance:
    def _write_doc_files(self, spark, src_dir, batches):
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "doc_id bigint, text string"
            ).coalesce(1).write.mode("append").parquet(src_dir)

    def test_stream_converges_to_full_rebuild(self, spark, tmp_path):
        from etlutil_spark.operators.text_analysis import (
            bm25_serve,
            ensure_postings_store,
            postings_update_sink,
        )

        base = [(1, "alpha beta gamma"), (2, "beta delta")]
        b1 = [(3, "alpha alpha epsilon"), (4, "gamma beta")]
        b2 = [(5, "delta alpha zeta")]
        idx = str(tmp_path / "idx")
        ensure_postings_store(
            spark,
            spark.createDataFrame(base, "doc_id bigint, text string"),
            idx,
            n_buckets=8,
        )
        src = str(tmp_path / "src")
        self._write_doc_files(spark, src, [b1 + b2])
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(postings_update_sink(idx))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        full = str(tmp_path / "full")
        ensure_postings_store(
            spark,
            spark.createDataFrame(
                base + b1 + b2, "doc_id bigint, text string"
            ),
            full,
            n_buckets=8,
        )
        terms = ["alpha", "beta", "delta"]
        got = [tuple(r) for r in bm25_serve(spark, idx, terms, k=10).collect()]
        want = [tuple(r) for r in bm25_serve(spark, full, terms, k=10).collect()]
        assert got == want

    def test_retried_batch_id_is_absorbed(self, spark, tmp_path):
        from etlutil_spark.operators.store import store_dir
        from etlutil_spark.operators.text_analysis import (
            ensure_postings_store,
            postings_update_sink,
            update_postings_store,
        )

        idx = str(tmp_path / "idx2")
        ensure_postings_store(
            spark,
            spark.createDataFrame(
                [(1, "alpha beta")], "doc_id bigint, text string"
            ),
            idx,
            n_buckets=4,
        )
        batch = spark.createDataFrame(
            [(2, "alpha gamma")], "doc_id bigint, text string"
        )
        sink = postings_update_sink(idx)
        sink(batch, 7)
        before = spark.read.parquet(store_dir(spark, idx, "postings")).count()
        sink(batch, 7)  # foreachBatch retry delivers the SAME batch_id
        assert spark.read.parquet(store_dir(spark, idx, "postings")).count() == before
        # and the marker is the batch-scoped one
        assert (
            update_postings_store(spark, batch, idx, batch_id="stream_7")
            == "skipped"
        )
