"""Streaming incremental near-dup screening: foreachBatch MinHash-LSH
dedup of a document stream against a PERSISTED band index.

The streaming complement of ``operators/dedup.py:screen_against_corpus``
— the production shape of continuous corpus curation: documents arrive
in micro-batches, each batch is (1) deduped within itself (keep-first by
id), (2) screened against everything accepted so far, and (3) the
survivors are appended to the corpus together with their band-index
rows, so the NEXT batch's screen pays O(batch x index-probe), never
O(corpus) re-sketching.

Why foreachBatch and not a stateful operator: the dedup state is the
band index — a TABLE keyed by (band_idx, band_hash) that must also
serve ad-hoc batch screens, not per-key running state
in a state store (and it is unbounded over an infinite stream, which
state stores must not be). foreachBatch hands each micro-batch to the
band-level helpers of the batch operators (``band_pairs``,
``probe_band_index``, ``candidate_sets``, ``jaccard_verify``), so the
stream inherits their tests, their candidate-only verification
discipline, and their 100 TB posture.

One sketch per batch. The batch is pinned once (``pin_eager``, the
point where the sink severs from the streaming source); its shingle
sets and its (id, band_idx, band_hash) rows are then pinned once and
every step reads them:

- intra-batch candidates: the batch bands joined with themselves
  (broadcast — band rows are three longs per band per doc), verified by
  exact Jaccard over the pinned sets;
- the corpus probe: the same bands broadcast against the stored index
  scan (map-side, no corpus shuffle); only the matched corpus docs are
  re-shingled for verification;
- the exact-id screen: corpus ids semi-joined with the broadcast batch
  ids;
- the index append: the pinned bands semi-joined onto the accepted ids,
  so stored band rows are exactly what ``minhash_band_index`` computes
  over the accepted docs, with no re-sketch.

The corpus tables are read with explicit schemas (the batch schema for
the docs, a fixed one for the index), so no read runs a schema-inference
job, and no step probes an unmaterialized plan's partition count. A
warm 24-document batch with no near-dups, against a stored corpus, runs
16-17 Spark jobs on local[4] where the three-sketch version ran 30-34:
the emptiness probe, the batch pin (2), the signature shuffle, the
corpus probe (2), the accept plan and its pin (8), and the two writes
(3). Verified near-dups add up to 3 more;
``tests/test_streaming_dedup_screen.py`` bounds a warm batch at 20.

Semantics note (inherent to ANY incremental screen, not a defect):
greedy sequential keep-first can accept a doc whose nearest neighbor
was itself dropped in an earlier batch — global one-shot keep-first
over the union may drop it. The invariant that DOES hold, and that
``tests/test_streaming_dedup_screen.py`` pins: the accepted corpus
never contains a verified near-dup PAIR at the configured threshold.

The corpus is the ``corpus`` family of the store contract
(``operators/store.py``). Its first batch commits an empty version of
``corpus_path``, and every non-empty batch then lands as one delta of
it through ``apply_delta``::

    <corpus_path>/v_*/delta=<batch_id>/docs/    the accepted docs
    <corpus_path>/v_*/delta=<batch_id>/index/   their band rows
    <corpus_path>/v_*/_applied_<batch_id>       the commit point, written last

A reader sees a batch only once its marker exists, so a batch that
crashed mid-write is invisible, and its replay rewrites it. A replay of
the last committed batch is a no-op (the batch is not screened again);
a lower batch id raises, since it belongs to another checkpoint, and so
does a path holding files of another layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from etlutil_spark.operators.dedup import (
    band_pairs,
    bands_from_signatures,
    candidate_sets,
    jaccard_verify,
    probe_band_index,
    shingle_sets,
    signatures_from_shingles,
)
from etlutil_spark.operators.store import OpenStore, apply_delta, open_store, read_table
from etlutil_spark.operators.util import pin, pin_eager
from etlutil_spark.streaming import drain


def _nullable(fields: list[StructField]) -> StructType:
    """``fields`` as parquet stores them: all nullable."""
    return StructType([StructField(f.name, f.dataType, True) for f in fields])


def _corpus(
    spark: SparkSession,
    store: OpenStore,
    docs_schema: StructType | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame | None, DataFrame | None]:
    """(accepted docs, band index) of an opened corpus's committed
    batches, or (None, None) before the first commit.

    ``docs_schema`` (the stream's batch schema) skips parquet schema
    inference, a Spark job per table per read: the docs then read with
    it and the index with the fixed (``id_col``, band_idx int, band_hash
    bigint) schema, the id typed as in ``docs_schema``. Without it both
    schemas are inferred from the files."""
    if not store.deltas:
        return None, None
    index_schema = None
    if docs_schema is not None:
        index_schema = _nullable(
            [
                docs_schema[id_col],
                StructField("band_idx", IntegerType()),
                StructField("band_hash", LongType()),
            ]
        )
        docs_schema = _nullable(docs_schema.fields)
    return (
        read_table(spark, store, "docs", docs_schema),
        read_table(spark, store, "index", index_schema),
    )


def read_corpus(
    spark: SparkSession, corpus_path: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """(accepted docs, band index) of every committed batch at
    ``corpus_path``, or (None, None) before the first; the docs have the
    batch schema."""
    return _corpus(spark, open_store(spark, corpus_path, "corpus"))


def dedup_screen_batch(
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.7,
):
    """Build the foreachBatch function maintaining the screened corpus
    at ``corpus_path``.

    Each call: drop exact-id repeats -> sketch the batch once -> drop
    intra-batch near-dups (keep-first by id), ids already in the corpus
    and near-dups of the stored index (candidate-only verify) -> append
    accepted docs + their band rows as this batch's delta of the corpus.
    Empty batches and replays of the last committed batch are a no-op."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        spark = batch.sparkSession
        apply_delta(
            spark, corpus_path, "corpus", batch_id,
            lambda delta_dir, store: screen(batch, store, delta_dir),
        )

    def screen(batch: DataFrame, store: OpenStore, delta_dir: str) -> None:
        spark = batch.sparkSession
        # sever from the streaming source: every operator below is a
        # plain batch transform over a materialized micro-batch
        docs = batch.dropDuplicates([id_col]).transform(pin_eager)

        # the batch's ONE sketch: shingle sets and band rows, pinned and
        # shared by every step below. No ensure_min_partitions spread:
        # docs is already partitioned by the dedup shuffle, and probing
        # the partition count of a plan that is not a leaf would run its
        # stages eagerly
        sets = shingle_sets(docs, id_col, text_col, n).transform(pin)
        shingles = sets.select(id_col, F.explode("s").alias("shingle"))
        batch_bands = bands_from_signatures(
            signatures_from_shingles(shingles, id_col, num_hashes=num_hashes),
            id_col, num_hashes=num_hashes, bands=bands,
        ).transform(pin)

        # (1) intra-batch near-dups: keep-first by id. The band rows are
        # three longs per band per doc, so the self-join broadcasts them
        # (as the corpus probe below does) instead of shuffling both sides
        intra = jaccard_verify(
            band_pairs(F.broadcast(batch_bands), id_col), sets, sets, id_col
        )
        rejected = intra.where(F.col("jaccard") >= verify_threshold).select(
            F.col("id_b").alias(id_col)
        )

        # (2) cross-corpus screen against the committed band index. Every
        # batch doc is probed, not only the intra-batch survivors: a
        # rejected doc's hits change nothing, and the probe then does
        # not wait for step (1).
        corpus_docs, corpus_index = _corpus(spark, store, batch.schema, id_col)
        if corpus_docs is not None:
            # exact-id screen: dropDuplicates above is intra-batch only,
            # so a doc_id accepted in a PRIOR batch must be rejected here
            # even when its text changed (near-dup screen alone would
            # re-accept it and corrupt id uniqueness)
            repeated = corpus_docs.select(id_col).join(
                F.broadcast(docs.select(id_col)), id_col, "left_semi"
            )
            # pinned: both verify sides read the candidates
            cands = probe_band_index(batch_bands, corpus_index, id_col).transform(pin)
            corpus_sets = candidate_sets(
                corpus_docs, cands.select(F.col("corpus_id").alias(id_col)),
                id_col, text_col, n, spread=False,
            )
            hits = jaccard_verify(
                cands, sets, corpus_sets, id_col, "new_id", "corpus_id"
            ).where(F.col("jaccard") >= verify_threshold)
            rejected = rejected.union(repeated).union(
                hits.select(F.col("new_id").alias(id_col))
            )
        # rejected ids may repeat; the anti-join needs no distinct (and
        # so no shuffle) first
        accepted = docs.join(
            F.broadcast(rejected), id_col, "left_anti"
        ).transform(pin_eager)

        # (3) this batch's delta: the accepted docs and their pinned band
        # rows, each in overwrite mode, so a retry replaces a partial write
        batch_bands.join(
            F.broadcast(accepted.select(id_col)), id_col, "left_semi"
        ).write.mode("overwrite").parquet(f"{delta_dir}/index")
        accepted.write.mode("overwrite").parquet(f"{delta_dir}/docs")

    return apply_batch


def run_dedup_screen_stream(
    docs_stream: DataFrame,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    checkpoint_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.7,
    timeout_s: int = 180,
) -> None:
    """Drive a (bounded) document stream through the dedup-screen sink
    with availableNow; production callers drop the trigger and let the
    micro-batch loop run continuously. Raises TimeoutError if the backlog
    does not drain within ``timeout_s`` (see
    :func:`etlutil_spark.streaming.drain`)."""
    drain(
        docs_stream.writeStream.foreachBatch(
            dedup_screen_batch(
                corpus_path, id_col, text_col,
                n=n, num_hashes=num_hashes, bands=bands,
                verify_threshold=verify_threshold,
            )
        ).option("checkpointLocation", checkpoint_dir),
        timeout_s,
        "dedup screen stream",
    )
