"""Streaming dimension maintenance: foreachBatch incremental SCD2.

The streaming complement of ``operators/scd2.py``: each micro-batch of
state observations is merged into a persisted SCD2 dimension with
``scd2_apply`` — the standard "CDC stream keeps a slowly-changing
dimension current" pipeline, without Delta/Hudi.

Why foreachBatch and not a stateful aggregation: the dimension is a
TABLE (many rows per key, queried independently of the stream), not
per-key running state; foreachBatch gives each micro-batch a normal
batch DataFrame so the exact batch operator — and its tests and oracle —
is what runs incrementally. Guarantees follow scd2_apply's contract:
batches must arrive in event-time order per key (true for in-order
sources; enforceable with strict=True which fails the query rather than
corrupt the dimension).

Layout and replay: the dimension is sink state of the store contract
(``operators/store.py``, family ``scd2``). Each batch reads the current
version, merges, and commits the result as a new ``v_*`` version whose
sidecar records the batch id; ``_current`` flips atomically, so a crash
mid-build leaves a scratch dir no reader sees, and the batch's replay
builds it again. A replay of a committed batch is a no-op: re-applying
it against the post-batch dimension would trip strict=True's order
guard on every retry and wedge the stream on its own replay. The
version being read survives the commit, and at most two versions are
kept. Read the dimension with :func:`read_dim`.

At scale, swap the versioned parquet snapshot for a transactional table
format's MERGE; the scd2_apply plan (broadcast touched-key split +
rebuild sized by the batch) is unchanged — only the sink's atomicity
mechanism differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etlutil_spark.operators.scd2 import scd2_apply, scd2_intervals
from etlutil_spark.operators.store import open_store, read_table, replace_state
from etlutil_spark.streaming import drain


def read_dim(spark: SparkSession, dim_path: str) -> DataFrame | None:
    """Current dimension, or None before the first batch."""
    store = open_store(spark, dim_path, "scd2")
    return None if store.meta is None else read_table(spark, store)


def _scd2_sink(dim_path: str, first, merge):
    """The foreachBatch function both SCD2 sinks share: the first batch
    builds the dimension with ``first(batch)``, every later one with
    ``merge(dim, batch)``. Empty batches are a no-op."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        spark = batch.sparkSession

        def build(tmp, prev):
            dim = None if prev is None else read_table(spark, prev)
            (first(batch) if dim is None else merge(dim, batch)).write.parquet(tmp)

        replace_state(spark, dim_path, "scd2", batch_id, build)

    return apply_batch


def scd2_upsert_batch(
    dim_path: str,
    key_cols: str | list[str],
    ts_col: str,
    state_cols: str | list[str],
    *,
    strict: bool = True,
):
    """Build the foreachBatch function maintaining the dimension at
    ``dim_path``: scd2_intervals on the first batch, scd2_apply on every
    later one, each committed as a new version of the dimension."""
    return _scd2_sink(
        dim_path,
        lambda b: scd2_intervals(b, key_cols, ts_col, state_cols),
        lambda dim, b: scd2_apply(dim, b, key_cols, ts_col, state_cols, strict=strict),
    )


def run_scd2_upsert_stream(
    changes: DataFrame,
    dim_path: str,
    key_cols: str | list[str],
    ts_col: str,
    state_cols: str | list[str],
    *,
    checkpoint_dir: str,
    strict: bool = True,
    timeout_s: int = 120,
) -> None:
    """Drive a (bounded) change stream through the SCD2 sink with
    availableNow; production callers drop the trigger and let it run.
    Raises TimeoutError if the backlog does not drain within
    ``timeout_s`` (see :func:`etlutil_spark.streaming.drain`)."""
    drain(
        changes.writeStream.foreachBatch(
            scd2_upsert_batch(dim_path, key_cols, ts_col, state_cols, strict=strict)
        ).option("checkpointLocation", checkpoint_dir),
        timeout_s,
        "SCD2 upsert stream",
    )


def scd2_cdc_batch(
    dim_path: str,
    key_cols: str | list[str],
    ts_col: str,
    state_cols: str | list[str],
    *,
    op_col: str = "op",
    delete_op: str = "D",
    strict: bool = True,
):
    """CDC variant of :func:`scd2_upsert_batch` (r9): micro-batches
    carry an op column and DELETE tombstones close runs —
    operators/scd2.py:scd2_apply_cdc (scd2_cdc_intervals on the first
    batch) runs per batch, so the streamed dimension can represent
    "the key left" with every interval closed and no current row. Same
    sink mechanics; same per-key event-time-order contract, which for
    deletes also means a tombstone arrives after the run it closes
    (strict=True enforces both)."""
    from etlutil_spark.operators.scd2 import scd2_apply_cdc, scd2_cdc_intervals

    ops = dict(op_col=op_col, delete_op=delete_op)
    return _scd2_sink(
        dim_path,
        lambda b: scd2_cdc_intervals(b, key_cols, ts_col, state_cols, **ops),
        lambda dim, b: scd2_apply_cdc(
            dim, b, key_cols, ts_col, state_cols, strict=strict, **ops
        ),
    )
