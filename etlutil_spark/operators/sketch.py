"""KMV (k-minimum-values) distinct-count sketch.

COUNT(DISTINCT x) is one of the standard 100 TB pain points: exact
distinct needs a full shuffle of every distinct value, and Spark's
built-in approx (``approx_count_distinct`` / HyperLogLog) is
implementation-specific — two engines give two answers, so it can never
pass a cross-engine value-hash gate. The KMV estimator fills that gap:

  1. hash every value with the engine-portable ``md5_bigint`` (uniform in
     [0, 2^60)),
  2. per group, keep the k smallest DISTINCT hashes,
  3. estimate ``n_distinct ~ (k-1) * 2^60 / kth_smallest_hash`` (exact
     count when fewer than k distinct values exist).

Every step is deterministic integer/double arithmetic on a portable hash,
so the SAME formula runs in DuckDB and hash-matches — an *oracle-checkable
approximate* operator. Standard error is ~1/sqrt(k-2) (Beyer et al.,
"On Synopses for Distinct-Value Estimation Under Multiset Operations",
SIGMOD 2007): k=256 gives ~6%, k=1024 ~3%.

Plan shape (the scale story): distinct on (group, hash) — one shuffle with
map-side partial dedup — then a bottom-k window + final agg sharing ONE
group shuffle. Memory is O(k) per group at every stage; no collect_set of
unbounded distinct sets anywhere. Sketches MERGE: the bottom-k of a union
is the bottom-k of each side's bottom-k union — union sketch tables and
re-apply (``kmv_merge``) for incremental / per-partition rollups.

The reference has no sketch surface at all; this extends the clean/hash
family (reference ``data_structures.py:1336-1353``) to aggregate land.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from etlutil_spark.operators.store import (
    StoreStatus,
    apply_delta,
    commit_version,
    ensure_store,
    open_store,
    read_table,
)
from etlutil_spark.operators.util import pin
from pyspark.sql import functions as F

from etlutil_spark.functions.vectors import bigint_array_lit
from pyspark.sql.window import Window

from etlutil_spark.functions.hashing import md5_bigint

HASH_SPACE = float(2**60)  # md5_bigint range; exact as a double


def kmv_sketch(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    *,
    k: int = 256,
    seed: int | str = "",
) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct value hashes.

    Returns one row per (group, hash) with ``rn`` (1-based rank) — a
    "tall" sketch table rather than an array column, so downstream merge /
    estimate stages stay pure relational ops. At most k rows per group.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    # NULLs are excluded, matching COUNT(DISTINCT) semantics — and a NULL
    # hash would sort FIRST in Spark but LAST in DuckDB, stealing a
    # bottom-k slot on one side only and breaking the cross-engine match
    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(*groups, md5_bigint(F.col(value_col), seed=seed).alias("kmv_hash"))
        .distinct()
    )
    w = Window.partitionBy(*groups).orderBy("kmv_hash")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def kmv_merge(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    group_cols: str | list[str],
    *,
    k: int = 256,
) -> DataFrame:
    """Merge two sketch tables: bottom-k of the deduplicated union.

    The KMV closure property — bottom_k(A ∪ B) = bottom_k(bottom_k(A) ∪
    bottom_k(B)) — is what makes the sketch usable for incremental
    pipelines: sketch each day's partition, merge, never rescan history.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    u = sketch_a.select(*groups, "kmv_hash").unionByName(
        sketch_b.select(*groups, "kmv_hash")
    ).distinct()
    w = Window.partitionBy(*groups).orderBy("kmv_hash")
    return u.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def kmv_estimate(
    sketch: DataFrame,
    group_cols: str | list[str],
    *,
    k: int = 256,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Distinct-count estimate per group from a sketch table.

    Fewer than k hashes -> the sketch saw every distinct value: exact
    count. Otherwise (k-1) * 2^60 / kth_hash, floored (floor, not round:
    identical in every engine, no half-way convention to match).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    agg = sketch.groupBy(*groups).agg(
        F.count("*").alias("_n_seen"), F.max("kmv_hash").alias("_kth")
    )
    est = F.when(F.col("_n_seen") < k, F.col("_n_seen")).otherwise(
        F.floor(F.lit(float(k - 1)) * F.lit(HASH_SPACE) / F.col("_kth"))
    )
    return agg.select(*groups, est.cast("bigint").alias(out_col))


def kmv_distinct(
    df: DataFrame,
    group_cols: str | list[str],
    value_col: str,
    *,
    k: int = 256,
    seed: int | str = "",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Approximate COUNT(DISTINCT value) per group, oracle-checkable.

    sketch + estimate fused: the window and the final groupBy share one
    exchange on the group columns (distinct's (group, hash) shuffle is the
    only other exchange, with map-side partial dedup)."""
    return kmv_estimate(
        kmv_sketch(df, group_cols, value_col, k=k, seed=seed),
        group_cols,
        k=k,
        out_col=out_col,
    )


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable frequency estimates, same portability story
# as KMV (deterministic md5 hash family -> oracle-checkable).
# ---------------------------------------------------------------------------


def cms_sketch(
    df: DataFrame,
    value_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    seed: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch table: one row per (hash row j, bucket) with the
    collision-summed count. Size is depth*width regardless of input — the
    fixed-memory frequency summary (Cormode & Muthukrishnan 2005).
    Overestimates only: est(x) >= true(x), with error <= 2N/width at 95%
    for depth 4. Each input row explodes into ``depth`` (j, bucket) rows
    pre-aggregation; map-side partials collapse them immediately.

    ``weight_col``: treat each row as that many occurrences of its key.
    A cell is the sum of its keys' counts, so sketching a pre-collapsed
    (key, count) table with ``weight_col`` is BIT-IDENTICAL to sketching
    the raw rows — at ``depth`` hashes per ROW, collapsing first cuts
    the hash work from row count to distinct-key count (guide §2.3)."""
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2 and depth >= 1, got {width}x{depth}")
    # NULL values are not countable by hash (NULL bucket on one engine,
    # dropped join keys on the other) — excluded, like COUNT(value)
    df = df.where(F.col(value_col).isNotNull())
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.pmod(
                        md5_bigint(F.col(value_col), seed=f"{seed}cms{j}"),
                        F.lit(width),
                    ).alias("bucket"),
                )
                for j in range(depth)
            ]
        )
    )
    if weight_col is None:
        return (
            df.select(pairs.alias("p"))
            .select("p.j", "p.bucket")
            .groupBy("j", "bucket")
            .agg(F.count("*").alias("c"))
        )
    return (
        df.select(pairs.alias("p"), F.col(weight_col).alias("_w"))
        .select("p.j", "p.bucket", "_w")
        .groupBy("j", "bucket")
        .agg(F.sum("_w").cast("bigint").alias("c"))
    )


def cms_merge(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Counters add: the sketch of a union is the cellwise sum."""
    return (
        sketch_a.unionByName(sketch_b)
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    seed: str = "",
    out_col: str = "est_count",
) -> DataFrame:
    """Frequency estimate per probe value: min over the depth counters.

    The probe side is exploded into its (j, bucket) cells and joined to
    the sketch — the sketch is depth*width rows, so broadcast it; a probe
    value whose bucket has no row was never seen (count 0)."""
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.pmod(
                        md5_bigint(F.col(value_col), seed=f"{seed}cms{j}"),
                        F.lit(width),
                    ).alias("bucket"),
                )
                for j in range(depth)
            ]
        )
    )
    probe_cells = probes.select(value_col, cells.alias("p")).select(
        value_col, "p.j", "p.bucket"
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias(out_col))
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group distinct-count estimate via the native Datasketches HLL
    aggregate (``hll_sketch_agg``, Spark 3.5+) — the JVM-side,
    whole-stage-codegen path for the same job KMV does portably.

    Trade-off vs ``kmv_distinct``: HLL state is a fixed 2^lg_k registers
    (lg_k=12 -> ~2.5 KB, ~1.6% rel. err.) vs KMV's k hashes, and the
    binary sketch column is storable/mergeable across runs — but the
    estimate is implementation-specific, so it can never hash-match a
    cross-engine oracle (the driver records a rows-only check; pytest
    asserts relative error vs exact instead). Use HLL when speed and
    mergeability matter, KMV when cross-engine reproducibility does.

    One shuffle on the group keys; partial sketches merge map-side."""
    return (
        df.groupBy(*group_cols)
        .agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll_sketch"))
        .select(
            *group_cols,
            F.hll_sketch_estimate("hll_sketch").alias("est_distinct"),
            "hll_sketch",
        )
    )


def hll_rollup(
    sketches: DataFrame,
    rollup_cols: list[str],
    *,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Re-aggregate stored HLL sketches to a coarser grouping WITHOUT
    touching the raw data — the mergeable-summary pattern that makes
    per-day sketches answer any date-range distinct question at 100 TB:
    union the daily sketches instead of re-scanning the fact table."""
    return (
        sketches.groupBy(*rollup_cols)
        .agg(F.hll_union_agg(sketch_col).alias(sketch_col))
        .select(
            *rollup_cols,
            F.hll_sketch_estimate(sketch_col).alias("est_distinct"),
            sketch_col,
        )
    )


def countsketch_table(
    df: DataFrame,
    value_col: str,
    *,
    width: int = 512,
    depth: int = 5,
    seed: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """Count-sketch / Fast-AGMS table (Charikar-Chen-Farach-Colton;
    Cormode-Garofalakis): like the count-min table but each occurrence
    adds a +-1 SIGN drawn from a second hash, so collision noise
    cancels in expectation instead of accumulating — the estimator
    family is UNBIASED (median over the ``depth`` rows), where
    count-min only upper-bounds. The sketch of choice for inner-product
    work (join-size estimation, F2/self-join size) because the
    mean-zero cross terms make sum_b a[b]*b[b] an unbiased estimate of
    sum_k fA(k) fB(k) with variance ~ F2(A) F2(B) / width.

    One keyed aggregate collapsing the table to depth*width signed
    counters; both hashes ride the portable md5 family so every cell is
    engine-reproducible. ``depth`` should be odd (deterministic exact
    median). ``weight_col``: as in :func:`cms_sketch` — each row counts
    as that many signed occurrences of its key; sketching a
    pre-collapsed (key, count) table is bit-identical to raw rows and
    cuts the 2x``depth`` hashes per row to per distinct key."""
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2 and depth >= 1, got {width}x{depth}")
    df = df.where(F.col(value_col).isNotNull())
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.pmod(
                        md5_bigint(F.col(value_col), seed=f"{seed}cs{j}"),
                        F.lit(width),
                    ).alias("bucket"),
                    (
                        F.pmod(
                            md5_bigint(F.col(value_col), seed=f"{seed}sg{j}"),
                            F.lit(2),
                        )
                        * 2
                        - 1
                    ).alias("sgn"),
                )
                for j in range(depth)
            ]
        )
    )
    if weight_col is None:
        return (
            df.select(pairs.alias("p"))
            .select("p.j", "p.bucket", "p.sgn")
            .groupBy("j", "bucket")
            .agg(F.sum("sgn").cast("bigint").alias("c"))
        )
    return (
        df.select(pairs.alias("p"), F.col(weight_col).alias("_w"))
        .select("p.j", "p.bucket", (F.col("p.sgn") * F.col("_w")).alias("_sw"))
        .groupBy("j", "bucket")
        .agg(F.sum("_sw").cast("bigint").alias("c"))
    )


def countsketch_join_size(
    sketch_a: DataFrame, sketch_b: DataFrame
) -> DataFrame:
    """Unbiased join-size estimate from two count-sketches built with
    the SAME (width, depth, seed): per hash row the cellwise inner
    product, then the exact median over the rows that survive the cell
    join — lower median (n+1)//2 so an EVEN survivor count (a hash row
    whose cells never collide across the two sketches contributes no
    estimate) still selects exactly one rank. Depth is carried by the
    sketches' ``j`` column, not a parameter. Returns one row
    (est_size bigint)."""
    ip = (
        sketch_a.alias("a")
        .join(sketch_b.alias("b"), ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("bigint").alias("est"))
    )
    # exact lower median of <= depth values: order them, take rank
    # (n+1)//2 — integer floor, so even n (some hash rows share no
    # buckets and drop out of the join) still matches one row; Spark's
    # bare (n+1)/2 is double division and would match NOTHING on even n.
    # Mirrored in the oracle's integer (n+1)//2.
    from pyspark.sql.window import Window

    ranked = ip.select(
        "est",
        F.row_number().over(Window.orderBy("est", "j")).alias("rnk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return ranked.where(
        F.col("rnk") == F.floor((F.col("n") + 1) / 2).cast("bigint")
    ).select(F.col("est").alias("est_size"))


def geometric_bounds(max_value: int, rel_err: float = 0.05) -> list[int]:
    """Integer bucket boundaries growing geometrically by ``rel_err``
    (deduped ceils of (1+rel_err)^i, prepended 0) — the HdrHistogram
    idea with the mantissa table collapsed to one literal int array.
    Driver-side exact integer math; ~log(max)/log(1+e) entries (141
    boundaries cover 1e6 at 10%)."""
    if max_value < 1 or not 0 < rel_err < 1:
        raise ValueError(f"bad histogram params max={max_value} rel_err={rel_err}")
    bounds = [0]
    b = 1.0
    while bounds[-1] <= max_value:
        nxt = int(-(-b // 1))  # ceil without float .5 hazards
        if nxt > bounds[-1]:
            bounds.append(nxt)
        b *= 1.0 + rel_err
    return bounds


def _bucket_lo(blit, value_col: str):
    """Lower bound for a bucket index, with a NAMED failure for values
    below bounds[0] (bucket index 0): element_at(blit, 0) would raise an
    opaque 'SQL array indices start at 1' — this raises an error that
    names the offending column and the contract instead."""
    return F.when(
        F.col("bucket") < 1,
        F.raise_error(
            F.lit(
                f"log_histogram: column '{value_col}' has values below "
                "bounds[0]; filter or clamp them first, or extend the "
                "boundary table downward"
            )
        ),
    ).otherwise(F.element_at(blit, F.col("bucket").cast("int")))


def log_histogram(
    df: DataFrame, value_col: str, bounds: list[int]
) -> DataFrame:
    """Fixed-size log-bucketed histogram of a non-negative integer
    column: one row per occupied bucket (bucket index, lower bound,
    count). The deterministic, MERGEABLE quantile summary
    (HdrHistogram / Prometheus-native-histogram shape): counters add
    across shards/batches, state is bounded by the boundary table
    regardless of input size, and the bucket index is a pure integer
    comparison against a literal array — no floats, no cross-engine
    drift, map-side partial aggregation for free.

    Values above the last boundary clamp into the final bucket (the
    +Inf bucket); negative values raise at query time via the bucket-0
    underflow check being impossible (index >= 1 for v >= 0)."""
    blit = bigint_array_lit(bounds)
    v = F.col(value_col).cast("bigint")
    idx = F.aggregate(
        blit,
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + (v >= b).cast("bigint"),
    )
    return (
        df.where(v.isNotNull())
        .select(idx.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select("bucket", _bucket_lo(blit, value_col).alias("lo"), "c")
    )


def histogram_quantiles(
    hist: DataFrame, qs: list[float]
) -> DataFrame:
    """Nearest-rank quantile estimates from a log_histogram: for each
    q, the LOWER BOUND of the first bucket whose cumulative count
    reaches ceil(q * n) — deterministic, and within the boundary
    table's relative error of the true quantile by construction. The
    cumulative walk runs over the occupied-bucket table (<= |bounds|
    rows — scalar scale), so the window here is the 1-row-exemption
    kind, not a data funnel."""
    from pyspark.sql.window import Window

    # every q-leg filters this table; the lazy checkpoint materializes
    # the histogram + cumulative walk ONCE (<= |bounds| rows) instead of
    # re-deriving the data pass per quantile
    cum = hist.select(
        "bucket",
        "lo",
        F.sum("c").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    ).transform(pin)
    outs = None
    for q in qs:
        rank = F.ceil(F.lit(float(q)) * F.col("n")).cast("bigint")
        row = (
            cum.where(F.col("cum") >= rank)
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(float(q)).alias("q"),
                F.col("lo").cast("bigint").alias("est"),
            )
        )
        outs = row if outs is None else outs.unionByName(row)
    return outs


# ---------------------------------------------------------------------------
# Persisted mergeable-histogram store: the quantile twin of the postings /
# IVFADC serving stores. Because log_histogram state is MERGEABLE (counters
# add), incremental maintenance is trivial: each batch appends its OWN tiny
# delta partition (<= |bounds| rows) and readers SUM across deltas — the
# existing store is never read or rewritten, and quantiles served after an
# increment equal a from-scratch histogram over the union by construction.
# ---------------------------------------------------------------------------


def _hist_delta(
    df: DataFrame, value_col: str, bounds: list[int], key_col: str | None
) -> DataFrame:
    if key_col:
        return log_histogram_by(df, key_col, value_col, bounds)
    return log_histogram(df, value_col, bounds)


def _write_base(hist: DataFrame, out: str) -> None:
    hist.withColumn("delta", F.lit("base")).repartition(1).write.partitionBy(
        "delta"
    ).mode("overwrite").parquet(out)


def ensure_hist_store(
    spark,
    df: DataFrame,
    path: str,
    *,
    value_col: str,
    bounds: list[int],
    key_col: str | None = None,
) -> StoreStatus:
    """Build-ONCE persisted log-histogram store: bucket ``df[value_col]``
    with :func:`log_histogram` (or :func:`log_histogram_by` when
    ``key_col`` is given — the per-endpoint percentile store) and write
    the (key?, bucket, lo, c) histogram under ``delta=base``, with the
    boundary table in the store's sidecar. The lifecycle is the shared
    store contract (:func:`etlutil_spark.operators.store.ensure_store`).

    Rebuild granularity: a rebuild caused by new source DATA alone (same
    value_col/bounds/key_col, regenerated or in-memory base data) carries
    every incremental ``delta=<batch_id>`` partition and ``_applied_*``
    replay marker into the new version — those batches were committed by
    sources that will not redeliver them, so dropping them would silently
    lose their contributions. A PARAM change (different bounds/grain)
    starts empty: old deltas were bucketed under a different contract and
    cannot merge."""
    params = {
        "value_col": value_col,
        "bounds": [int(b) for b in bounds],
        "key_col": key_col,
    }
    return ensure_store(
        spark, path, "hist", params, df,
        lambda tmp: _write_base(_hist_delta(df, value_col, bounds, key_col), tmp),
    )


def update_hist_store(
    spark,
    new_rows: DataFrame,
    path: str,
    *,
    batch_id: str,
) -> str:
    """Incrementally merge a batch into an :func:`ensure_hist_store`
    store: the batch's OWN histogram (<= |bounds| rows) lands as
    partition ``delta=<batch_id>``; the existing store is never read.
    Replays are absorbed by :func:`etlutil_spark.operators.store.apply_delta`
    (per-batch overwrite + ``_applied_<batch_id>`` marker), so
    at-least-once delivery cannot double-count. Returns 'applied' or
    'skipped'."""

    def write(delta_dir: str, store) -> None:
        p = store.meta["params"]
        _hist_delta(new_rows, p["value_col"], p["bounds"], p.get("key_col")).repartition(
            1
        ).write.mode("overwrite").parquet(delta_dir)

    return apply_delta(spark, path, "hist", batch_id, write)


def read_hist_store(spark, path: str) -> DataFrame:
    """Aggregate the store's delta partitions back into one histogram:
    SUM of counters per (key?, bucket) — mergeability is the whole
    point; the grouping grain is META-driven (``key_col`` in the sidecar
    or not), so global and keyed stores (and compaction over either)
    share one reader while a schema surprise — a stray column in a
    delta, a store written by a newer layout — FAILS loudly instead of
    silently changing aggregation grain. The read is |deltas| x |keys| x
    |occupied buckets| rows — sketch-scale, never corpus-scale; compact
    periodically by folding old deltas into a new base if delta count
    ever matters."""
    store = open_store(spark, path, "hist", required=True)
    params = store.meta["params"]
    keys = (["key"] if params.get("key_col") else []) + ["bucket", "lo"]
    df = read_table(spark, store)
    expected = set(keys) | {"c", "delta"}
    unexpected = [c for c in df.columns if c not in expected]
    missing = [c for c in expected if c not in df.columns]
    if unexpected or missing:
        raise ValueError(
            f"histogram store at {path} does not match its metadata "
            f"(key_col={params.get('key_col')!r}): unexpected columns "
            f"{unexpected}, missing columns {missing}"
        )
    return df.groupBy(*keys).agg(F.sum("c").cast("bigint").alias("c"))


def hist_update_sink(path: str):
    """foreachBatch function for STREAMING quantile-sketch maintenance:
    each micro-batch folds into the histogram store via
    :func:`update_hist_store`, keyed by Spark's ``batch_id`` — the
    marker absorbs foreachBatch's at-least-once retries, the append is
    batch-sized, and any reader (``read_hist_store`` +
    ``histogram_quantiles``) sees every completed batch on its next
    query. The store must exist before the first batch
    (:func:`ensure_hist_store`, possibly on an empty frame)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_hist_store(
            batch_df.sparkSession, batch_df, path, batch_id=f"stream_{batch_id}"
        )

    return _apply


def compact_hist_store(spark, path: str) -> str:
    """Fold ALL delta partitions into a fresh ``delta=base`` — the
    maintenance that keeps the store read at O(|occupied buckets|) after
    many increments. The folded histogram is committed as a new store
    version, so readers never see a half-compacted store; the
    applied-batch markers are carried over so already-folded batch_ids
    stay absorbed on replay."""
    store = open_store(spark, path, "hist", required=True)
    folded = read_hist_store(spark, path)
    commit_version(
        spark, path, "hist", store.meta, lambda tmp: _write_base(folded, tmp),
        keep=(store.dir, lambda nm: nm.startswith("_applied_")),
    )
    return "compacted"


def log_histogram_by(
    df: DataFrame, key_col: str, value_col: str, bounds: list[int]
) -> DataFrame:
    """Per-KEY log-bucketed histogram: one row per (key, occupied
    bucket) — the per-endpoint/per-event-type latency-percentile
    structure. Same mergeable fixed-size-per-key state as
    :func:`log_histogram`; the single shuffle is keyed by
    (key, bucket), so partial aggregation happens map-side and state is
    |keys| x |bounds| regardless of input size."""
    blit = bigint_array_lit(bounds)
    v = F.col(value_col).cast("bigint")
    idx = F.aggregate(
        blit,
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + (v >= b).cast("bigint"),
    )
    return (
        df.where(v.isNotNull())
        .select(F.col(key_col).alias("key"), idx.alias("bucket"))
        .groupBy("key", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select("key", "bucket", _bucket_lo(blit, value_col).alias("lo"), "c")
    )


def histogram_quantiles_by(hist: DataFrame, qs: list[float]) -> DataFrame:
    """Per-key nearest-rank quantiles from a :func:`log_histogram_by`
    table: for each (key, q), the lower bound of the first bucket whose
    per-key cumulative count reaches ceil(q * n_key). The windows
    partition BY KEY over the occupied-bucket table (|keys| x |bounds|
    rows — sketch scale, bounded partitions), so unlike the global
    walk this needs no scalar exemption."""
    from pyspark.sql.window import Window

    cum = hist.select(
        "key",
        "bucket",
        "lo",
        F.sum("c")
        .over(
            Window.partitionBy("key")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum"),
        F.sum("c").over(Window.partitionBy("key")).alias("n"),
    ).transform(pin)
    outs = None
    for q in qs:
        rank = F.ceil(F.lit(float(q)) * F.col("n")).cast("bigint")
        w = Window.partitionBy("key").orderBy("bucket")
        row = (
            cum.where(F.col("cum") >= rank)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "key",
                F.lit(float(q)).alias("q"),
                F.col("lo").cast("bigint").alias("est"),
            )
        )
        outs = row if outs is None else outs.unionByName(row)
    return outs
