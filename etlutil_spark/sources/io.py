"""Generic readers and sinks (the I/O layer the reference never had —
SURVEY §2.3 "Scans/sources/sinks: none").

Readers are thin wrappers over ``spark.read`` that keep schema explicit
(schema-on-read drift is the top silent-corruption source in long-lived
pipelines). Sinks encode the layout decisions that matter at 100 TB:

  - ``write_partitioned``: hive-style partition dirs on low-cardinality
    keys (date buckets, not raw IDs) so downstream readers get partition
    pruning for free;
  - target file sizing via pre-write ``repartition(n, keys)`` — thousands
    of ~128 MB files beat millions of 1 KB files (NameNode/S3-listing
    pressure, scan task startup);
  - ``sortWithinPartitions`` on the customary filter column gives parquet
    row-group min/max stats their pruning power (zone-map effect);
  - ``compact``: the maintenance pass that rewrites a fragmented dataset
    to healthy file counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet(
    spark: SparkSession, path: str, *, schema: StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """JSON lines; without an explicit schema Spark infers (the dynamic-
    schema ingestion path for the reference's schemaless records)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_orc(
    spark: SparkSession, path: str, *, schema: StructType | str | None = None
) -> DataFrame:
    """ORC scans get the same Catalyst treatment as parquet (vectorized
    reader, predicate pushdown, column pruning) — the interchange format
    when upstream systems are Hive/ORC-native."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_text(
    spark: SparkSession,
    path: str,
    *,
    whole_file: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw text ingestion (one column ``value``) — the front door for an
    LLM training corpus that arrives as plain files. ``whole_file=True``
    yields one row per file (document-per-file corpora; beware single-row
    skew for huge files — prefer line- or record-split layouts at scale).
    ``line_sep`` overrides the record delimiter for e.g. NUL-separated
    dumps."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    return reader.text(path, wholetext=whole_file)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
    files_per_partition: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Partition-aware write. ``files_per_partition`` repartitions by the
    partition keys first so each hive dir gets a bounded file count;
    ``sort_within_by`` orders rows inside each file so parquet row-group
    stats can prune on those columns later."""
    out = df
    if partition_by and files_per_partition:
        out = out.repartition(files_per_partition, *partition_by)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    writer = out.write.mode(mode).format(fmt)
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def compact(
    spark: SparkSession,
    path: str,
    *,
    target_files: int,
    fmt: str = "parquet",
) -> None:
    """Rewrite a fragmented dataset into ``target_files`` files (small-file
    maintenance). Reads and rewrites in place via an overwrite staging to a
    temp subdir is deliberately NOT done here — at production scale use a
    table format (Delta/Iceberg) for transactional compaction; this is the
    plain-directory best effort."""
    df = spark.read.format(fmt).load(path)
    df.coalesce(target_files).write.mode("overwrite").format(fmt).save(path + "_compacted")


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed catalog table: rows are hash-distributed into
    ``n_buckets`` files by ``bucket_by`` at WRITE time, so any later
    equi-join or aggregation on those keys between co-bucketed tables runs
    with ZERO shuffle exchanges — the write pays the shuffle once, every
    downstream join reuses it. The 100 TB pattern for fact-fact joins that
    repeat (orders⋈lineitem on orderkey, daily).

    Bucketing requires the session catalog (``saveAsTable``); plain
    ``.save(path)`` silently drops bucket metadata."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def ensure_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    *,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    path: str,
) -> str:
    """Build-ONCE bucketed external table: the shuffle-paying write runs
    only when no usable store exists; every later call — including from
    a FRESH session whose in-memory catalog has forgotten the table —
    is metadata-only. Returns which path was taken ('catalog',
    'reattached', 'written') so callers/tests can assert steady state;
    'written' carries the store's rebuild reason.

    The files live in a store at ``path`` under the shared store
    contract (:func:`etlutil_spark.operators.store.ensure_store`), keyed
    on the bucket spec (bucket_by, n_buckets, sort_by) and the source's
    content digest:

    1. the store is reused and the catalog's table already points at its
       current version -> nothing to do ('catalog').
    2. the store is reused but the catalog does not know the table (a
       fresh session, a rebuilt metastore) or knows an older location ->
       re-register an EXTERNAL table over the current version with the
       same CLUSTERED BY spec ('reattached'). Spark encodes the bucket id
       in each file name, so re-declaring the spec over the same files
       restores shuffle-free joins without rewriting a byte. A store is
       reused only when its recorded spec equals the caller's: reattaching
       from arguments that differ from the files on disk would declare a
       distribution the files don't have and silently mis-join.
    3. a new spec, new source data, or no complete store -> bucketBy
       write of a new version, paying the shuffle once, then register
       the table over it ('written').

    This is the fixture half of the r8 `orders_bucketed_join_stats`
    split (r8 verdict): the catalog query is read-only in steady state
    and the write lives here, reusable by any recurring-join pipeline.
    """
    import uuid

    from etlutil_spark.operators.store import StoreStatus, ensure_store, store_dir

    sort_by = list(sort_by or [])
    params = {"bucket_by": list(bucket_by), "n_buckets": int(n_buckets), "sort_by": sort_by}

    def build(tmp: str) -> None:
        # bucketBy writes only through saveAsTable: register a scratch
        # EXTERNAL table over the temp dir, then drop it (metadata only)
        scratch = f"{table}__build_{uuid.uuid4().hex[:8]}"
        writer = (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_by)
            .option("path", tmp)
        )
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.saveAsTable(scratch)
        spark.sql(f"DROP TABLE {scratch}")

    status = ensure_store(spark, path, "bucketed", params, df, build)
    loc = store_dir(spark, path, "bucketed")
    if status == "reused" and spark.catalog.tableExists(table):
        described = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        if any(
            r.col_name == "Location" and r.data_type.rstrip("/").endswith(loc)
            for r in described
        ):
            return StoreStatus("catalog")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sort = f" SORTED BY ({', '.join(sort_by)})" if sort_by else ""
    spark.sql(
        f"CREATE TABLE {table} ({df._jdf.schema().toDDL()}) USING PARQUET "
        f"CLUSTERED BY ({', '.join(bucket_by)}){sort} "
        f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
    )
    return StoreStatus("reattached" if status == "reused" else "written", status.reason)


def zorder_key(df: DataFrame, cols: list[str], *, bits: int = 12):
    """Morton (z-order) interleave of min/max-normalized columns.

    Returns (key Column, the min/max bounds used). Each column is scaled
    to a ``bits``-bit integer with its observed min/max (one small agg
    job), then the bits are interleaved so the sort key preserves
    LOCALITY IN EVERY COLUMN at once — the reason z-ordering beats
    lexicographic sort for multi-column filters: a plain sort gives
    perfect pruning on the leading column and none on the others.

    Min/max scaling is the cheap linearization; heavily skewed columns
    deserve a rank-based scale (one ntile pass per column) — same
    interleave downstream.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits < 1 or bits * len(cols) > 63:
        # the interleaved key lives in ONE signed bigint: bit i of column
        # j lands at position i*n_cols + j, so bits*n_cols must fit in 63
        # bits — past that the high bits silently wrap and files stop
        # covering compact hyper-rectangles (pruning quietly degrades)
        raise ValueError(
            f"zorder_key: bits*len(cols) = {bits * len(cols)} exceeds the "
            "63-bit key budget — lower bits or cluster fewer columns"
        )
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    scale = (1 << bits) - 1
    quantized = []
    for c in cols:
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        if mn is None or mx is None:
            raise ValueError(
                f"cannot z-order on {c!r}: no non-NULL values (empty input "
                "or all-NULL column)"
            )
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(scale),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * scale),
        ).cast("bigint")
        quantized.append(q)
    # interleave: bit i of column j lands at position i*n_cols + j
    n = len(cols)
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, q in enumerate(quantized):
            key = key + F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + j
            ).cast("bigint")
    return key, row


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 16,
    bits: int = 12,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the z-order of ``cols``: range-partition
    on the interleaved key, sort within each file, drop the key. Every
    file then covers a compact hyper-rectangle of the filter space, so
    parquet min/max stats prune scans on ANY of the clustered columns —
    the plain-directory version of Delta/Iceberg OPTIMIZE ZORDER."""
    key, _ = zorder_key(df, cols, bits=bits)
    (
        df.withColumn("_z", key)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def compaction_plan(
    spark,
    path: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    small_ratio: float = 0.5,
) -> DataFrame:
    """Size-aware small-file compaction plan: one row per file needing
    compaction — (file_path, file_size, bin) — where each bin is a
    rewrite group whose total size approaches ``target_bytes``.

    The small-file problem is THE parquet maintenance issue at scale
    (every file costs a task, an open, a footer parse; 10k tiny files
    turn a 1-second scan into a scheduler stall). The inventory comes
    from the ``_metadata`` hidden column — a distributed metadata read,
    no data pages touched. Files >= ``small_ratio * target_bytes`` are
    left alone (rewriting big files buys nothing and costs IO).

    Binning is a running-sum cut: files ordered (size desc, path) get
    ``bin = floor(cumulative_size / target)`` — deterministic, and each
    bin's total overshoots target by at most one file. The ordering
    window runs over FILE METADATA (one row per file), not data; if the
    inventory itself is huge (millions of files), range-partition it by
    size first (the exact_ntile pattern) — at that point the real fix
    is a transactional table format with automatic compaction.

    ``compact`` (above) is the blunt whole-dataset rewrite; this plan
    drives an incremental rewrite that touches only the fragmented
    subset and can run bin-by-bin under a maintenance budget.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if target_bytes <= 0 or not 0 < small_ratio <= 1:
        raise ValueError(
            f"target_bytes must be > 0 and small_ratio in (0, 1], got {target_bytes}, {small_ratio}"
        )
    inv = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.file_size").alias("file_size"),
        )
        .distinct()
    )
    small = inv.where(F.col("file_size") < int(target_bytes * small_ratio))
    w = Window.orderBy(F.col("file_size").desc(), F.col("file_path"))
    return small.select(
        "file_path",
        "file_size",
        F.floor((F.sum("file_size").over(w) - 1) / F.lit(int(target_bytes)))
        .cast("int")
        .alias("bin"),
    )


def compact_apply(spark, plan: DataFrame, out_dir: str, *, fmt: str = "parquet") -> int:
    """Execute a compaction plan bin by bin: each bin's files are read
    together and rewritten as ONE file under ``out_dir/bin=<n>/``.
    Returns the number of bins rewritten. Plain-directory semantics
    (no transaction): swap the originals for the compacted output in a
    metadata operation appropriate to your catalog."""
    rows = plan.collect()  # one row per SMALL file — metadata-scale
    bins: dict[int, list[str]] = {}
    for r in rows:
        bins.setdefault(int(r["bin"]), []).append(r["file_path"])
    for b, files in sorted(bins.items()):
        spark.read.parquet(*files).coalesce(1).write.mode("overwrite").format(fmt).save(
            f"{out_dir}/bin={b}"
        )
    return len(bins)
