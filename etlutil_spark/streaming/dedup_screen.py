"""Streaming incremental near-dup screening: foreachBatch MinHash-LSH
dedup of a document stream against a PERSISTED corpus of band hashes.

The streaming complement of ``operators/dedup.py:screen_against_corpus``
— the production shape of continuous corpus curation: each micro-batch
is (1) deduped within itself (keep-first by id), (2) screened against
everything accepted so far, and (3) its survivors are appended with
their band hashes, so the NEXT batch pays O(batch x band probe), never
O(corpus) re-sketching. foreachBatch, not a stateful operator: the state
is a TABLE that must also serve ad-hoc batch screens, and it grows
without bound, which state-store state must not. Every step is a kernel
of the batch operators, so the stream inherits their tests and their
candidate-only verification.

Each non-empty batch runs three steps:

- sketch once: the deduped docs with their shingle sets, pinned eagerly
  (where the sink severs from the streaming source), then each doc's
  band hashes (``signatures_from_shingles``, ``band_hashes``), pinned;
- one band join, one verify: the batch's band rows, broadcast, probe
  the batch's own band rows (a candidate only against a lower id:
  keep-first) and the stored ones (map-side, no corpus shuffle); one
  ``jaccard_verify`` checks both kinds, re-shingling only the matched
  stored docs. The exact-id screen rejects an id accepted earlier,
  whatever its text;
- one write: the accepted docs with their band hashes.

A warm batch against a stored corpus runs 13 Spark jobs on local[4]:
the emptiness probe, the sketch pin (2) and the write (10), where the
two-path sink (a self-join and a corpus probe, two verifies, two
writes) ran 17-20. ``tests/test_streaming_dedup_screen.py`` caps it at 15.

Semantics note (inherent to ANY incremental screen, not a defect):
greedy sequential keep-first can accept a doc whose nearest neighbor
was itself dropped in an earlier batch. The invariant that holds, and
that the tests pin: the corpus never holds a verified near-dup PAIR.

The corpus is the ``corpus`` family of the store contract
(``operators/store.py``): the first batch commits an empty version of
``corpus_path``, and every non-empty batch lands as one delta of it
through ``apply_delta``, holding one table::

    <corpus_path>/v_*/delta=<batch_id>/docs/   (doc, bands): the batch row
                                               as a struct, its band hashes
    <corpus_path>/v_*/_applied_<batch_id>      the commit point, written last

Nesting the row reserves no batch column name. The band index is the
``posexplode`` of ``bands``, a view that ``read_corpus`` and the probe
share. A batch is visible once its marker exists, so a crashed batch is
invisible until its replay rewrites it. A replay of the last committed
batch is a no-op; a lower batch id raises (another checkpoint's), and so
does a path of another layout, or a delta that still holds the band
rows in a second ``index/`` table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from etlutil_spark.operators.dedup import (
    band_hashes,
    candidate_sets,
    jaccard_verify,
    shingle_sets,
    signatures_from_shingles,
)
from etlutil_spark.operators.store import OpenStore, apply_delta, open_store, read_table
from etlutil_spark.operators.util import pin, pin_eager
from etlutil_spark.streaming import drain

_DOC, _BANDS = "doc", "bands"  # the stored columns


def _band_rows(table: DataFrame, doc_id: Column) -> DataFrame:
    """(doc_id, band_idx int, band_hash bigint) rows of a frame with a
    ``bands`` column. A doc too short to shingle has none."""
    return table.select(doc_id, F.posexplode(_BANDS).alias("band_idx", "band_hash"))


def read_corpus(
    spark: SparkSession, corpus_path: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """(accepted docs, band index) of every committed batch at
    ``corpus_path``, or (None, None) before the first; the docs have the
    batch schema, the band index is (id, band_idx int, band_hash bigint)."""
    store = open_store(spark, corpus_path, "corpus")
    if not store.deltas:
        return None, None
    table = read_table(spark, store, "docs")  # inferred: a Spark job
    id_col = table.schema[_BANDS].metadata["id"]  # recorded by the sink
    return table.select(f"{_DOC}.*"), _band_rows(table, F.col(_DOC)[id_col].alias(id_col))


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
    at ``corpus_path``: drop exact-id repeats -> sketch the batch once ->
    drop intra-batch near-dups (keep-first by id), ids already stored and
    near-dups of stored docs -> append the accepted docs with their band
    hashes as this batch's delta. Empty batches and replays of the last
    committed batch are a no-op."""
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
        # (1) sketch once. The batch columns sit inside ``doc``, so every
        # other name here is the sink's own. No ensure_min_partitions:
        # probing a non-leaf plan's partition count runs its stages
        docs = batch.dropDuplicates([id_col])
        sketch = (
            shingle_sets(
                docs.select(F.struct(*docs.columns).alias(_DOC), F.col(text_col).alias("text")),
                _DOC, "text", n,
            )
            .withColumn("id", F.col(_DOC)[id_col])
            .transform(pin_eager)
        )
        sets = sketch.select("id", "s")
        hashes = (  # pinned: the band join reads them twice, the write once
            signatures_from_shingles(
                sets.select("id", F.explode("s").alias("shingle")), "id", num_hashes=num_hashes
            )
            .select("id", band_hashes(num_hashes=num_hashes, bands=bands).alias(_BANDS))
            .transform(pin)
        )

        # (2) one band join, one verify. A batch doc whose id is already
        # stored still rejects a later near-dup of its batch before the
        # exact-id screen drops it, so one id can stand on both sides:
        # candidates and b-side sets carry ``in_corpus``. Before the first
        # commit the corpus is empty: limit(0) makes it an empty local
        # relation the optimizer folds away, not an RDD scan that runs
        schema = StructType([
            StructField(_DOC, StructType([StructField(f.name, f.dataType) for f in batch.schema])),
            StructField(_BANDS, ArrayType(LongType())),
        ])
        corpus = (
            read_table(spark, store, "docs", schema) if store.deltas
            else spark.createDataFrame([], schema).limit(0)
        ).select(F.col(_DOC)[id_col].alias("id"), F.col(_DOC)[text_col].alias("text"), _BANDS)

        def tag(rows: DataFrame, in_corpus: bool) -> DataFrame:
            return rows.withColumn("in_corpus", F.lit(in_corpus))

        new_bands = _band_rows(hashes, F.col("id"))
        cands = (  # pinned: the verify and the stored-set filter read it
            tag(new_bands, False).union(tag(_band_rows(corpus, F.col("id")), True))
            .withColumnRenamed("id", "other_id")
            .join(F.broadcast(new_bands.withColumnRenamed("id", "new_id")), ["band_idx", "band_hash"])
            .where(F.col("in_corpus") | (F.col("other_id") < F.col("new_id")))
            .select("new_id", "other_id", "in_corpus")
            .distinct()
            .transform(pin)
        )
        others = tag(sets, False).union(tag(candidate_sets(
            corpus, cands.where("in_corpus").select(F.col("other_id").alias("id")),
            "id", "text", n, spread=False,
        ), True))
        hits = jaccard_verify(
            cands, F.broadcast(sets), F.broadcast(others), "id", "new_id", "other_id",
            keys=("in_corpus",),
        ).where(F.col("jaccard") >= verify_threshold)
        # the exact-id screen: dropDuplicates is intra-batch only, and the
        # near-dup screen alone would re-accept a stored id with new text
        rejected = hits.select(F.col("new_id").alias("id")).union(
            corpus.select("id").join(F.broadcast(sets.select("id")), "id", "left_semi")
        )

        # (3) one write, in overwrite mode: a retry replaces a partial one.
        # The id column's name rides in the metadata of ``bands``
        (
            sketch.join(F.broadcast(rejected), "id", "left_anti")
            .join(F.broadcast(hashes), "id", "left")
            .select(_DOC, F.col(_BANDS).alias(_BANDS, metadata={"id": id_col}))
            .write.mode("overwrite")
            .parquet(f"{delta_dir}/docs")
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
