"""Structured Streaming lift of the date-bucket workload.

The reference's incremental pattern is chunked backfill over DateRanges
(SURVEY §2.3); its streaming-native equivalent is a watermarked tumbling
window over the ``events`` stream. The aggregation expressions are shared
with the batch query ``events_tumbling_hourly`` — swap ``readStream`` for
``read`` and the same plan runs incrementally with state cleanup.

At scale: watermark bounds state (late rows beyond it are dropped);
``shuffle.partitions`` sizes the state store; output mode ``update`` for
dashboards, ``append`` for exactly-once sinks after the watermark closes a
window.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etlutil_spark.session import check_read_conf
from etlutil_spark.streaming import drain

# The events parquet has shipped with two physical ts encodings across
# testdata generations: TIMESTAMP(NANOS) (readable only as long via the
# legacy nanosAsLong conf) and tz-naive timestamp[us] (inferred as
# TIMESTAMP_NTZ by Spark 4.x). File-source streams require a pinned
# schema, so stream_events_from_dir sniffs the physical schema from a
# one-off static read of the same directory and then normalizes ts to
# TIMESTAMP (LTZ) right after the scan — the same single-timestamp-type
# policy as the batch loader (sources/testdata.py), so stream and batch
# plans agree bit-for-bit under the pinned UTC session TZ. Sniffing is
# preferred over a pinned constant because a hardcoded schema drifted
# from regenerated testdata once and silently broke the stream≡batch
# tests — but sniffing alone cannot start a stream over a directory the
# first file hasn't landed in yet (a normal streaming deployment), so
# EVENTS_SCHEMA below is the declared *fallback* contract used only when
# the directory is empty (or passed explicitly via ``schema=``).

# Logical events contract in normalized form (ts already LTZ). Used only
# when there is nothing on disk to sniff; a populated directory always
# wins so physical-encoding drift is still tracked automatically.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_counts(events: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums; works on both batch and streaming frames."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,9)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_events_from_dir(
    spark: SparkSession,
    events_dir: str,
    *,
    max_files_per_trigger: int = 1,
    schema: T.StructType | None = None,
) -> DataFrame:
    """File-source stream over an events parquet directory (schema pinned —
    streaming requires it). The pinned schema is sniffed from a one-off
    static read of the footer so the stream tracks whichever physical ts
    encoding this testdata generation used; ts is normalized to TIMESTAMP
    (LTZ, UTC session) right after the scan.

    An empty / not-yet-populated directory (the normal case when a stream
    is deployed before its producer) falls back to the declared
    ``EVENTS_SCHEMA`` contract; pass ``schema=`` to pin one explicitly."""
    check_read_conf(spark)
    if schema is not None:
        physical = schema
    else:
        try:
            physical = spark.read.parquet(events_dir).schema
        except AnalysisException as ex:
            # ONLY the nothing-on-disk-yet case falls back to the declared
            # contract; any other read failure (permissions, corrupt
            # footer) must surface, not silently pin a maybe-wrong schema
            if "UNABLE_TO_INFER_SCHEMA" not in str(ex) and "PATH_NOT_FOUND" not in str(ex):
                raise
            physical = EVENTS_SCHEMA
    reader = spark.readStream.schema(physical).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    # file stream sources need a directory; a single-file path (the driver's
    # testdata layout) is streamed as parent-dir + glob on the basename.
    # os.path.isfile is intentionally local-FS-only here: on an object
    # store it is False and the path streams with directory semantics —
    # the correct production behavior (single-file layouts are a
    # local-testdata artifact)
    if os.path.isfile(events_dir):
        parent, name = os.path.split(events_dir)
        # the basename is used as a GLOB: bracket-escape metacharacters so
        # part-*-c000.parquet or events[2024].parquet match literally
        escaped = re.sub(r"([\[\]*?{}])", r"[\1]", name)
        reader = reader.option("pathGlobFilter", escaped)
        events_dir = parent
    df = reader.parquet(events_dir)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # nanos generation — integer DIV, not `/`: double division drifts
        # by 1us at nano scale
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def run_stream_once(
    spark: SparkSession,
    events_dir: str,
    *,
    query_name: str = "etlutil_windowed_counts",
    window: str = "1 hour",
) -> DataFrame:
    """Drive the stream to completion against a static directory (one
    availableNow pass) into a memory sink; returns the result DataFrame.

    This is the integration-test harness; production callers point the same
    ``windowed_counts`` at a real source/sink with a checkpoint dir."""
    stream = stream_events_from_dir(spark, events_dir)
    return run_stream_query(
        windowed_counts(stream, window=window), query_name=query_name
    )


def dedup_stream(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-(event_id, ts) stream: watermarked dropDuplicates.

    The event-time column is PART OF THE DEDUP KEY — that is the condition
    under which Spark installs the state-eviction predicate; with a bare
    ["event_id"] key the watermark only filters late input and every id
    ever seen stays in the state store forever (unbounded growth). State
    therefore holds one entry per (event_id, ts) within the watermark
    horizon and is evicted as the watermark advances. Batch twin:
    dropDuplicates(["event_id", "ts"]).

    A RETRANSMITTED duplicate whose ts differs (clock skew, producer
    re-stamping) is NOT deduped here — that case is
    :func:`dedup_stream_within_watermark`, whose key-only semantics keep
    state bounded by design (dropDuplicatesWithinWatermark)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.dropDuplicates(["event_id", "ts"])


def dedup_stream_within_watermark(
    events: DataFrame, *, watermark: str = "2 hours"
) -> DataFrame:
    """Dedup on key ONLY, tolerating duplicates that arrive with DIFFERENT
    event times: dropDuplicatesWithinWatermark keeps state for each key
    until the watermark passes the FIRST-seen event's time + delay, so a
    re-sent record re-stamped by an at-least-once producer still dedupes.

    This is the right front for sources that regenerate timestamps on
    retry (webhook redelivery, producer re-sends); plain dropDuplicates
    is cheaper when the event time is part of the record identity. Batch
    twin: dropDuplicates(["event_id"]) — on a static frame the two
    semantics coincide (no late re-stamped arrivals in batch)."""
    if not events.isStreaming:
        return events.dropDuplicates(["event_id"])
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_windows(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session aggregation via F.session_window (merging windows).

    The streaming twin of operators/sessions.py: state is one open window
    per user, closed and emitted once the watermark passes gap past the last
    event. Works identically on a batch frame (no watermark needed)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,9)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def running_user_totals(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: per-user running totals via
    applyInPandasWithState (GroupState), the escape hatch for stateful
    semantics no built-in aggregation expresses (here: emit one updated
    row per user per micro-batch carrying counts accumulated across ALL
    previous batches).

    State per key is two numbers; timeout is disabled for the demo — at
    production scale set a state TTL to bound the store."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_query(
    agg: DataFrame,
    *,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
) -> DataFrame:
    """Drive any streaming frame to completion (availableNow) into a memory
    sink and return the materialized table. Raises TimeoutError if it does
    not finish within ``timeout_s``: reading the sink then would hand back
    a silently partial table."""
    drain(
        agg.writeStream.format("memory").queryName(query_name).outputMode(output_mode),
        timeout_s,
        f"stream query {query_name!r}",
    )
    return agg.sparkSession.table(query_name)


def hopping_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (hopping) window counts: each event lands in
    window/slide overlapping windows. State grows by the same factor —
    the watermark bound is what keeps it finite. Batch twin: identical
    expression minus the watermark."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    *,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: broadcast hash join per
    micro-batch, no streaming state at all (the static side is re-planned
    each batch, so a refreshed dim table is picked up automatically).
    This is the right tool whenever the lookup side fits in memory —
    stream-stream joins with watermark bookkeeping are for two UNBOUNDED
    sides, not for dimensions."""
    from pyspark.sql.functions import broadcast

    return events.join(broadcast(dim), on, how)


def attribution_join_stream(
    purchases: DataFrame,
    clicks: DataFrame,
    *,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    clicks in the preceding ``attribution_window``.

    The time-range predicate plus BOTH watermarks is what makes unbounded
    join state finite: a buffered click can be evicted once the watermark
    passes click_ts + window (no future purchase can reach back to it),
    which Spark derives from the range condition. Without the range
    bounds the state store grows forever — the classic stream-join
    mistake. Batch twin: the identical join expression (used by the
    equivalence test); the as-of variant (nearest click only) is the
    batch operators/asof.py — nearest-match is not expressible as a
    watermarked stream join, which is why both operators exist."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    from etlutil_spark.streaming.joins import preceding_interval_cond

    # the click-value-carrying twin of joins.clicks_before_purchases —
    # the predicate is SHARED so the two can never drift
    cond = preceding_interval_cond(
        "p_user", "c_user", "click_ts", "purchase_ts", attribution_window
    )
    return p.join(c, cond, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
        "click_value",
    )
