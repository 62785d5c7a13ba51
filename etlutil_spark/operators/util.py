"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than the target (default: the cluster's defaultParallelism).

    CPU-heavy per-row operators (hashing every shingle, per-pair cosine)
    inherit the scan's partitioning; a small file with one row group gives
    ONE partition, serializing all downstream map work no matter how many
    cores exist. At real scale inputs arrive in thousands of partitions and
    this is a no-op — the gate means we never add a shuffle to data that is
    already spread out."""
    minp = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < minp:
        return df.repartition(minp)
    return df


def _pin_impl(df: DataFrame, *, eager: bool) -> DataFrame:
    spark = df.sparkSession
    try:
        mode = spark.conf.get("spark.etlutil.pinMode", "localCheckpoint")
    except Exception:
        mode = "localCheckpoint"
    if mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()
        return out
    if mode == "checkpoint":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            cdir = spark.conf.get("spark.etlutil.checkpointDir", None)
            if not cdir:
                raise ValueError(
                    "spark.etlutil.pinMode=checkpoint requires a checkpoint "
                    "directory: call sc.setCheckpointDir(...) or set "
                    "spark.etlutil.checkpointDir"
                )
            sc.setCheckpointDir(cdir)
        return df.checkpoint(eager=eager)
    if mode != "localCheckpoint":
        raise ValueError(
            f"unknown spark.etlutil.pinMode {mode!r}; expected "
            "localCheckpoint | persist | checkpoint"
        )
    return df.localCheckpoint(eager=eager)


def pin(df: DataFrame) -> DataFrame:
    """Materialize-once pin for a subframe with multiple consumers (or an
    iterative loop): compute it once, serve every consumer from the stored
    copy instead of re-deriving the lineage per consumer.

    This is THE shared pin mechanism (r12 verdict item 2) — every operator
    and query routes through here (``df.transform(pin)``), so the storage/
    fault-tolerance posture is one session conf, ``spark.etlutil.pinMode``:

    - ``localCheckpoint`` (default): executor-local blocks
      (MEMORY_AND_DISK), lineage truncated. Cheapest and right for a
      single-box harness — but NOT fault-tolerant: on a real cluster a
      lost executor aborts the query (no recompute path). That abort is a
      *correct* failure mode (never silently wrong), just not a resilient
      one.
    - ``persist``: ``StorageLevel.DISK_ONLY`` with lineage KEPT — a lost
      block recomputes from lineage. The plan is not truncated, so very
      deep iterative plans may pay planning cost; results are identical.
    - ``checkpoint``: reliable checkpoint to ``sc.setCheckpointDir`` /
      ``spark.etlutil.checkpointDir`` (HDFS/object store) — survives
      executor loss AND truncates lineage, at the cost of a durable write.
      The production posture for long multi-consumer jobs at cluster
      scale.

    Lazy in all modes: materialization rides the first consumer's job
    instead of scheduling one of its own (for ``persist`` that is simply
    cache-on-first-action)."""
    return _pin_impl(df, eager=False)


def pin_eager(df: DataFrame) -> DataFrame:
    """:func:`pin` with eager materialization — the frame is computed NOW,
    before this call returns. For call sites whose correctness reasoning
    depends on an explicit materialization point (a streaming sink
    severing from its source), not just on reuse."""
    return _pin_impl(df, eager=True)


def store_root(spark=None) -> str:
    """Base directory under which every ensure_* persisted store
    (cluster map, MinHash signatures, postings, IVF/IVFADC, histogram)
    is created by the query layer.

    Resolution order: the ``SPARK_GRAFT_STORE_DIR`` environment
    variable, then the Spark conf ``spark.etlutil.storeRoot`` (when a
    session is passed or active), then ``tempfile.gettempdir()``.

    The default is correct for single-box execution, where driver and
    executors share a filesystem. On a real cluster, point this at a
    path visible to every executor AND the driver (HDFS, NFS, or an
    object store via its Hadoop connector) — the stores are plain
    parquet + one meta sidecar, so any Hadoop-addressable filesystem
    works. This helper is the ONLY place the query layer binds a store
    location; the operators themselves take arbitrary paths."""
    import os
    import tempfile

    env = os.environ.get("SPARK_GRAFT_STORE_DIR")
    if env:
        return env.rstrip("/")
    try:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            conf_val = spark.conf.get("spark.etlutil.storeRoot", None)
            if conf_val:
                return conf_val.rstrip("/")
    except Exception:
        pass
    return tempfile.gettempdir()
