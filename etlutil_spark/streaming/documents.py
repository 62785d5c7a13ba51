"""Structured Streaming lift of the document-ingest front.

The corpus-preparation stages that belong at INGEST time — quality
gating, PII redaction, fingerprinting, repetition scoring — are all
stateless column expressions (functions/text.py), which makes their
streaming twin trivial and infinitely scalable: no state store, no
watermark, every micro-batch is an independent map. The same
``document_profile_stage`` function runs on a batch frame bit-for-bit
identically (asserted in tests), which is the property that lets a
backfill and the live stream share one code path.

Stateful corpus work splits by where the state lives: exact-hash
``dropDuplicates`` (streaming/events.py) keeps bounded state in the
state store; cross-document NEAR-dup screening runs through
streaming/dedup_screen.py, whose state is the persisted corpus with its
MinHash band hashes on disk (a table, not state-store state — unbounded over an
infinite stream by design); global clustering stays a periodic batch
job over the accumulated corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etlutil_spark.functions import text as X

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents_from_dir(
    spark: SparkSession, docs_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a documents parquet directory (schema
    pinned — streaming requires it)."""
    import os
    import re

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    # local-FS-only check by design: object-store paths fall through to
    # directory semantics (single-file layouts are a testdata artifact)
    if os.path.isfile(docs_dir):
        parent, name = os.path.split(docs_dir)
        # the basename is used as a GLOB: bracket-escape metacharacters
        # (same guard as events.stream_events_from_dir — an unescaped
        # docs[2024].parquet reads as a char class and the stream
        # silently matches nothing)
        escaped = re.sub(r"([\[\]*?{}])", r"[\1]", name)
        reader = reader.option("pathGlobFilter", escaped)
        docs_dir = parent
    return reader.parquet(docs_dir)


def document_profile_stage(
    docs: DataFrame,
    *,
    min_tokens: int = 10,
    min_quality: float = 0.3,
    redact: bool = True,
) -> DataFrame:
    """Quality-gate + redact + fingerprint + repetition — the stateless
    ingest front. Works identically on batch and streaming frames."""
    tk = docs.withColumn("_tk", X.tokens("text"))
    profiled = tk.select(
        "doc_id",
        "lang",
        "source",
        (X.redact_pii("text") if redact else F.col("text")).alias("text"),
        X.token_count("text", pre_tokens="_tk").alias("n_tokens"),
        X.quality_score("text", pre_tokens="_tk").alias("quality"),
        X.dup_token_ratio("text", pre_tokens="_tk").alias("dup_token_ratio"),
        X.doc_fingerprint("text").alias("fingerprint"),
    )
    return profiled.where(
        (F.col("n_tokens") >= min_tokens) & (F.col("quality") >= min_quality)
    )
