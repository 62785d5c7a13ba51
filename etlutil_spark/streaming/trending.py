"""Streaming trending / heavy-hitters: a foreachBatch fold that
maintains an exponentially-decayed count-min sketch of a key column and
emits the current top-k "trending" keys after every micro-batch.

The streaming complement of operators/sketch.py's CMS family — the
dashboard primitive ("what is hot RIGHT NOW") over an unbounded stream,
in fixed memory: state is one depth x width counter table regardless of
how many distinct keys ever appear, so a 100 TB/day event firehose and a
toy test stream carry exactly the same state size. Decay makes it
*trending* rather than *all-time*: before merging each batch, every
counter is scaled by ``decay_num/decay_den`` (integer floor — exact on
every engine and every replay), so a key that stops occurring halves
away in ``log2`` batches while a persistently hot key keeps its mass.

Why foreachBatch and not a stateful operator: like the dedup screen
(streaming/dedup_screen.py), the state is a TABLE that must also serve
ad-hoc batch reads (the topk output IS the product), and the fold reuses
the tested batch operators (cms_sketch / cms_merge / cms_estimate)
unchanged.

State and replay: the sketch and the board are sink state of the store
contract (``operators/store.py``, family ``trending``): one versioned
store whose every version holds the folded sketch (``cms``) and the
top-k (``topk``) after the batch its sidecar records. A batch reads the
current version, folds, and commits both tables as the next version with
one atomic ``_current`` flip, so a reader never sees a sketch without its
board, a crash mid-build leaves a scratch dir no reader sees, and a
replay of the committed batch is a no-op. At most two versions are kept:
the on-disk state is as bounded as the sketch.

Candidate tracking: a CMS alone cannot enumerate its keys, so the top-k
is estimated over the union of the current batch's keys and the
PREVIOUS top-k's keys (the standard sketch + candidate-set heavy-hitter
recipe). A key absent from both cannot be trending: it had to be in
some batch to gain mass, and once it leaves the top-k its counters only
decay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etlutil_spark.operators.sketch import cms_estimate, cms_merge, cms_sketch
from etlutil_spark.operators.store import open_store, read_table, replace_state
from etlutil_spark.operators.util import pin
from etlutil_spark.streaming import drain


def read_trending(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The current top-k, or None before the first batch."""
    store = open_store(spark, state_path, "trending")
    return None if store.meta is None else read_table(spark, store, "topk")


def _check_decay(decay_num: int, decay_den: int) -> None:
    if not 0 < decay_num < decay_den:
        raise ValueError(
            f"decay must satisfy 0 < num < den, got {decay_num}/{decay_den}"
        )


def _trend_step(
    batch: DataFrame,
    prev_cms: DataFrame | None,
    prev_topk: DataFrame | None,
    key_col: str,
    pin_fn,
    *,
    k: int,
    width: int,
    depth: int,
    decay_num: int,
    decay_den: int,
    seed: str,
) -> tuple[DataFrame, DataFrame]:
    """One fold step, shared by the sink and its in-memory twin: decay the
    previous sketch (integer floor), merge the batch's sketch, estimate the
    batch's keys plus the previous top-k's keys, and keep the top ``k``.
    Returns ``(folded sketch, top-k)``, each pinned with ``pin_fn``, the
    sketch first."""
    fresh = cms_sketch(batch, key_col, width=width, depth=depth, seed=seed)
    if prev_cms is not None:
        decayed = prev_cms.select(
            "j",
            "bucket",
            F.floor(F.col("c") * F.lit(decay_num) / F.lit(decay_den)).alias("c"),
        ).where(F.col("c") > 0)
        folded = cms_merge(decayed, fresh)
    else:
        folded = fresh
    folded = folded.transform(pin_fn)
    cands = batch.select(F.col(key_col).alias("key")).distinct()
    if prev_topk is not None:
        cands = cands.union(prev_topk.select("key")).distinct()
    est = cms_estimate(
        folded, cands, "key", width=width, depth=depth, seed=seed, out_col="est"
    )
    topk = est.orderBy(F.col("est").desc(), F.col("key")).limit(k).transform(pin_fn)
    return folded, topk


def trending_batch(
    state_path: str,
    key_col: str = "event_type",
    *,
    k: int = 10,
    width: int = 1024,
    depth: int = 4,
    decay_num: int = 7,
    decay_den: int = 8,
    seed: str = "trend",
):
    """Build the foreachBatch function folding the decayed CMS at
    ``state_path``.

    Each call: decay the current sketch (integer floor
    c*decay_num/decay_den — exact, engine-portable), merge this batch's
    sketch, estimate over current-batch keys + previous top-k keys, and
    commit both as the next version of the state. Empty batches still
    decay (a quiet period ages the board) as long as the batch DataFrame
    arrives; no call, no decay — foreachBatch semantics."""
    _check_decay(decay_num, decay_den)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.where(F.col(key_col).isNotNull()).transform(pin)

        def build(tmp, prev):
            prev_cms = prev_topk = None
            if prev is not None:
                prev_cms = read_table(spark, prev, "cms")
                prev_topk = read_table(spark, prev, "topk")
            folded, topk = _trend_step(
                batch, prev_cms, prev_topk, key_col, pin, k=k, width=width,
                depth=depth, decay_num=decay_num, decay_den=decay_den, seed=seed,
            )
            folded.write.parquet(f"{tmp}/cms")
            topk.write.parquet(f"{tmp}/topk")

        replace_state(spark, state_path, "trending", batch_id, build)

    return apply_batch


def trending_fold_batches(
    batches: "list[DataFrame]",
    key_col: str = "event_type",
    *,
    k: int = 10,
    width: int = 1024,
    depth: int = 4,
    decay_num: int = 7,
    decay_den: int = 8,
    seed: str = "trend",
) -> DataFrame:
    """In-memory batch twin of ``trending_batch``'s fold: the SAME
    per-batch semantics (decay -> merge -> candidate estimate -> top-k,
    identical hash family / floor decay / tie order) over an ordered
    list of batch DataFrames, without the state store. This is the
    driver-checkable form (the `events_trending_heavy_hitters` catalog
    query unrolls exactly this fold in its DuckDB oracle) and the
    stream≡batch bridge: tests/test_streaming_trending.py pins that
    folding the same batch split through the foreachBatch sink and
    through this function yields the identical board.

    Bounded-driver-state idiom (the kmeans pattern): each round is two
    bounded aggregates; localCheckpoint() truncates the lineage so round
    N never replays rounds 1..N-1, and the returned plan is a scan of
    the final k-row checkpoint."""
    _check_decay(decay_num, decay_den)
    if not batches:
        raise ValueError("trending_fold_batches needs at least one batch")
    folded = topk = None
    for batch in batches:
        # lazy pins: every round's sketch and board materialize inside the
        # caller's one final action, each pin caching and truncating
        # lineage on first computation
        folded, topk = _trend_step(
            batch.where(F.col(key_col).isNotNull()), folded, topk, key_col, pin,
            k=k, width=width, depth=depth, decay_num=decay_num,
            decay_den=decay_den, seed=seed,
        )
    return topk


def run_trending_stream(
    stream: DataFrame,
    state_path: str,
    *,
    checkpoint_dir: str,
    key_col: str = "event_type",
    k: int = 10,
    timeout_s: int = 120,
    **kwargs,
) -> None:
    """Drive ``trending_batch`` over a streaming DataFrame until the
    available data is exhausted (availableNow semantics). Raises
    TimeoutError if it does not drain within ``timeout_s`` (see
    :func:`etlutil_spark.streaming.drain`)."""
    drain(
        stream.writeStream.foreachBatch(
            trending_batch(state_path, key_col, k=k, **kwargs)
        ).option("checkpointLocation", checkpoint_dir),
        timeout_s,
        "trending stream",
    )
