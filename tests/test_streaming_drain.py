"""Every availableNow driver drains through ``streaming.drain``: a stream
still running after ``timeout_s`` raises TimeoutError and is left stopped,
never returned from as if its state were complete."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


def _dedup(stream, tmp_path, timeout_s):
    from etlutil_spark.streaming.dedup_screen import run_dedup_screen_stream

    run_dedup_screen_stream(
        stream, str(tmp_path / "corpus"), checkpoint_dir=str(tmp_path / "ckpt"),
        timeout_s=timeout_s,
    )


def _upsert(stream, tmp_path, timeout_s):
    from etlutil_spark.streaming.upsert import run_scd2_upsert_stream

    run_scd2_upsert_stream(
        stream, str(tmp_path / "dim"), "doc_id", "ts", "text",
        checkpoint_dir=str(tmp_path / "ckpt"), timeout_s=timeout_s,
    )


def _trending(stream, tmp_path, timeout_s):
    from etlutil_spark.streaming.trending import run_trending_stream

    run_trending_stream(
        stream, str(tmp_path / "state"), checkpoint_dir=str(tmp_path / "ckpt"),
        key_col="text", timeout_s=timeout_s,
    )


def _memory(stream, tmp_path, timeout_s):
    from etlutil_spark.streaming.events import run_stream_query

    run_stream_query(
        stream, query_name=f"t_drain_{tmp_path.name}", output_mode="append",
        timeout_s=timeout_s,
    )


DRIVERS = {"dedup": _dedup, "upsert": _upsert, "trending": _trending, "memory": _memory}


@pytest.mark.parametrize("driver", sorted(DRIVERS))
def test_slow_stream_times_out_and_stops(spark, tmp_path, driver):
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 1, "a b c d e")], "doc_id bigint, ts int, text string").write.parquet(src)
    # every row takes 5 s, well past the 1 s drain timeout
    slow = F.udf(lambda s: time.sleep(5) or s, "string")
    stream = (
        spark.readStream.schema("doc_id bigint, ts int, text string").parquet(src)
        .withColumn("text", slow("text"))
    )
    with pytest.raises(TimeoutError, match="did not drain within 1s"):
        DRIVERS[driver](stream, tmp_path, 1)
    assert spark.streams.active == []
