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
serve ad-hoc batch screens and compaction, not per-key running state
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

The corpus trees are read with explicit schemas (the batch schema for
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

Layout under ``corpus_path``: ``docs/batch=<id>/`` and
``index/batch=<id>/`` (band rows, partitioned by band_idx inside each
batch dir). Per-batch-id subdirectories written with overwrite make
foreachBatch retries idempotent — a replayed batch rewrites its own
directory instead of double-appending. Periodic small-file compaction
of both trees is ``sources/io.py:compaction_plan``'s job, exactly as
for any append-heavy table.
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
from etlutil_spark.operators.store import join_path, path_exists
from etlutil_spark.operators.util import pin, pin_eager
from etlutil_spark.streaming import drain

_DOC_SUBDIR = "docs"
_INDEX_SUBDIR = "index"


def _with_batch(fields: list[StructField]) -> StructType:
    """A corpus tree's read schema: ``fields`` (all nullable, as parquet
    stores them) plus the ``batch`` partition column."""
    return StructType(
        [StructField(f.name, f.dataType, True) for f in fields]
        + [StructField("batch", LongType(), True)]
    )


def read_corpus(
    spark: SparkSession,
    corpus_path: str,
    *,
    exclude_batch: int | None = None,
    docs_schema: StructType | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame | None, DataFrame | None]:
    """(accepted docs, band index), or (None, None) before the first
    batch. Reads the batch=N partition trees; the synthetic ``batch``
    partition column is dropped so the frames match the batch schema.

    ``docs_schema`` (the stream's batch schema) skips parquet schema
    inference, a Spark job per tree per read: the docs tree then reads
    with it and the index tree with the fixed (``id_col``, band_idx int,
    band_hash bigint) schema, the id typed as in ``docs_schema``.
    Without it both schemas are inferred from the files.

    ``exclude_batch`` is the replay guard: when foreachBatch retries a
    batch id, the corpus already holds that batch's OWN previous output
    — screening against it would mark every doc a dup of itself and the
    idempotent overwrite would then erase the batch (found by
    test_batch_replay_is_idempotent). Excluding the batch's own
    partition (a partition-pruned filter, no data read) restores the
    exact pre-batch corpus state, so a replay reproduces the first run
    bit for bit."""
    docs_dir = join_path(corpus_path, _DOC_SUBDIR)
    idx_dir = join_path(corpus_path, _INDEX_SUBDIR)
    if not path_exists(spark, docs_dir):
        return None, None
    docs_reader = index_reader = spark.read
    if docs_schema is not None:
        docs_reader = spark.read.schema(_with_batch(docs_schema.fields))
        index_reader = spark.read.schema(
            _with_batch(
                [
                    docs_schema[id_col],
                    StructField("band_idx", IntegerType()),
                    StructField("band_hash", LongType()),
                ]
            )
        )
    docs = docs_reader.parquet(docs_dir)
    index = index_reader.parquet(idx_dir)
    if exclude_batch is not None:
        docs = docs.where(F.col("batch") != exclude_batch)
        index = index.where(F.col("batch") != exclude_batch)
    return docs.drop("batch"), index.drop("batch")


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
    accepted docs + their band rows under this batch's id. Empty batches
    are a no-op."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if "batch" in batch.columns:
            raise ValueError(
                "'batch' is the reserved partition-discovery column of the "
                "corpus layout; rename the incoming column"
            )
        if not batch.head(1):
            return
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

        # (2) cross-corpus screen against the stored band index,
        # excluding this batch id's own partition (replay guard). Every
        # batch doc is probed, not only the intra-batch survivors: a
        # rejected doc's hits change nothing, and the probe then does
        # not wait for step (1).
        corpus_docs, corpus_index = read_corpus(
            spark, corpus_path, exclude_batch=batch_id,
            docs_schema=batch.schema, id_col=id_col,
        )
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

        # (3) idempotent append: this batch owns its subdirectory, and a
        # replayed batch_id overwrites rather than double-appends. The
        # index rows are the pinned band rows of the accepted docs.
        # ORDERING INVARIANT: index BEFORE docs. read_corpus keys corpus
        # existence on docs/; with index-first, a crash between the two
        # writes leaves index-only state that the batch's own replay
        # overwrites, whereas docs-first would leave a docs tree whose
        # index dir does not exist and every replay's corpus read would
        # fail on the missing path.
        batch_bands.join(
            F.broadcast(accepted.select(id_col)), id_col, "left_semi"
        ).write.mode("overwrite").partitionBy("band_idx").parquet(
            join_path(corpus_path, _INDEX_SUBDIR, f"batch={batch_id}")
        )
        accepted.write.mode("overwrite").parquet(
            join_path(corpus_path, _DOC_SUBDIR, f"batch={batch_id}")
        )

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
