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

State layout under ``state_path``: ``cms/batch=<id>/`` — the folded
sketch AFTER applying batch id — and ``topk/batch=<id>/`` — that batch's
trending estimates. A batch reads the newest state STRICTLY OLDER than
its own id, so a foreachBatch retry recomputes from the same pre-batch
state and overwrites its own directories: replay-idempotent by
construction (the fold analogue of the dedup screen's exclude-own-batch
rule). Old batch directories are pure lineage; prune them with
sources/io.py:compaction_plan like any append-heavy table.

Candidate tracking: a CMS alone cannot enumerate its keys, so the top-k
is estimated over the union of the current batch's keys and the
PREVIOUS top-k's keys (the standard sketch + candidate-set heavy-hitter
recipe). A key absent from both cannot be trending: it had to be in
some batch to gain mass, and once it leaves the top-k its counters only
decay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etlutil_spark.operators.util import pin, pin_eager
from pyspark.sql import functions as F

from etlutil_spark.operators.sketch import cms_estimate, cms_merge, cms_sketch

_CMS_SUBDIR = "cms"
_TOPK_SUBDIR = "topk"


def _join(base: str, *parts: str) -> str:
    """URI-safe '/' join (state may live on s3a://, hdfs://, file:)."""
    return "/".join([base.rstrip("/"), *parts])


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _latest_state_batch(
    spark: SparkSession, state_path: str, *, before: int
) -> int | None:
    """Newest batch id < ``before`` with persisted sketch state, probed
    through the Hadoop FileSystem API (never os.path — the dedup
    screen's object-store lesson)."""
    fs, jdir = _fs(spark, _join(state_path, _CMS_SUBDIR))
    if not fs.exists(jdir):
        return None
    best = None
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if not name.startswith("batch="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid < before and (best is None or bid > best):
            best = bid
    return best


def read_trending(
    spark: SparkSession, state_path: str, *, before: int | None = None
) -> DataFrame | None:
    """The newest persisted top-k (optionally restricted to state older
    than ``before`` — the replay guard), or None before the first
    batch."""
    upper = before if before is not None else 2**62
    bid = _latest_state_batch(spark, state_path, before=upper)
    if bid is None:
        return None
    return spark.read.parquet(_join(state_path, _TOPK_SUBDIR, f"batch={bid}"))


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

    Each call: decay the newest prior sketch (integer floor
    c*decay_num/decay_den — exact, engine-portable), merge this batch's
    sketch, estimate over current-batch keys + previous top-k keys, and
    persist both under ``batch=<id>`` with overwrite. Empty batches
    still decay (a quiet period ages the board) as long as the batch
    DataFrame arrives; no call, no decay — foreachBatch semantics."""
    _check_decay(decay_num, decay_den)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.where(F.col(key_col).isNotNull()).transform(pin_eager)
        # the newest state strictly older than this batch: its sketch and
        # the top-k written with it (topk lands before cms, see below)
        prev_id = _latest_state_batch(spark, state_path, before=batch_id)
        prev_cms = prev_topk = None
        if prev_id is not None:
            prev_cms = spark.read.parquet(
                _join(state_path, _CMS_SUBDIR, f"batch={prev_id}")
            )
            prev_topk = spark.read.parquet(
                _join(state_path, _TOPK_SUBDIR, f"batch={prev_id}")
            )
        # eager pins: the write-ordering invariant below reasons about
        # explicit materialization points
        folded, topk = _trend_step(
            batch, prev_cms, prev_topk, key_col, pin_eager, k=k, width=width,
            depth=depth, decay_num=decay_num, decay_den=decay_den, seed=seed,
        )

        # ORDERING INVARIANT: topk BEFORE cms. Batch visibility is keyed
        # on cms/batch=<id> (_latest_state_batch scans only cms/), so a
        # crash between the two writes leaves an orphaned topk directory
        # that NO reader can reach — every lookup still resolves to the
        # pre-batch state — and the batch's own replay overwrites both.
        # cms-first would instead expose a state batch whose topk read
        # fails until the replay lands.
        topk.write.mode("overwrite").parquet(
            _join(state_path, _TOPK_SUBDIR, f"batch={batch_id}")
        )
        folded.write.mode("overwrite").parquet(
            _join(state_path, _CMS_SUBDIR, f"batch={batch_id}")
        )

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
        # LAZY pins: nothing in this fold acts on the frames until the
        # caller's final action, so every round's sketch/board
        # materializes inside that one job cascade (each pin still
        # caches and truncates lineage on first computation) instead of
        # 2 scheduled jobs per round. The foreachBatch sink twin
        # (trending_batch) deliberately KEEPS eager pins: its
        # write-ordering crash invariant (topk before cms) reasons about
        # materialization points explicitly.
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
    **kwargs,
) -> None:
    """Drive ``trending_batch`` over a streaming DataFrame until the
    available data is exhausted (availableNow semantics)."""
    q = (
        stream.writeStream.foreachBatch(
            trending_batch(state_path, key_col, k=k, **kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
