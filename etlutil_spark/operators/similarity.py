"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k — a single shuffle-free map + top-k,
fully JVM-side (``cosine_lit`` expands the query vector into a flat codegen
expression). On a 1000-executor cluster this scans the whole table once:
the right baseline, and often the right production answer too.

Scale path: random-hyperplane LSH (SimHash for vectors). Hyperplanes are
deterministic (seeded) driver-side constants; each vector gets a bit-bucket
map-side, so candidate generation is a bucket equality join. For IVF-style
search the same bucket column doubles as the partition/cluster key.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etlutil_spark.functions.vectors import cosine_lit, dot, norm
from etlutil_spark.operators.store import (
    StoreStatus,
    ensure_store,
    open_store,
    read_table,
)
from etlutil_spark.operators.util import ensure_min_partitions


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic gaussian hyperplanes (driver-side constants)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def adaptive_n_planes(
    n_rows: int,
    *,
    target_rows_per_bucket: int = 1024,
    min_planes: int = 2,
    max_planes: int = 24,
) -> int:
    """Plane count that keeps expected bucket occupancy bounded.

    A FIXED plane count is the quiet scale bug of hyperplane LSH: with B =
    2^n_planes buckets, per-bucket candidate pairs grow O(n^2 / B), so a
    corpus 100x larger needs ~log2(100) ~ 7 more planes to keep the join
    groups the same size. ceil(log2(n_rows / target)) targets ~`target`
    rows per bucket; the [min, max] clamp keeps tiny inputs from degrading
    to brute force and bounds the bucket-id width (24 planes = 16M buckets
    ~ 1e10 rows at the default target). Recall falls as planes grow —
    multiprobe (1-bit neighbors, already used by the join operators)
    compensates."""
    import math

    if n_rows <= target_rows_per_bucket:
        return min_planes
    return min(
        max_planes,
        max(min_planes, math.ceil(math.log2(n_rows / target_rows_per_bucket))),
    )


def lsh_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i = (v . plane_i) >= 0. Pure expression.

    The planes ship as ONE nested-array literal (``plane_dots``), so the
    bucket expression is a handful of higher-order-function nodes instead
    of ``n_planes * dim`` literal nodes — plan build, per-action Catalyst
    analysis, and generated-code size all stop scaling with the plane
    table. Bit values are identical to the expanded form (same cast-to-
    double, same left-fold order); 2^i is computed as ``pow(2.0, i)`` in
    double, exact for i < 53."""
    if not planes:
        return F.lit(0).cast("bigint")
    from etlutil_spark.functions.vectors import plane_dots

    dots = plane_dots(vec_col, planes)
    idx = F.sequence(F.lit(0), F.lit(len(planes) - 1))
    return F.aggregate(
        F.zip_with(
            dots,
            idx,
            lambda d, i: F.when(d >= 0, F.pow(F.lit(2.0), i)).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, b: acc + b,
    ).cast("bigint")


def probe_buckets(qbits: int, n_planes: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance ``radius`` of the query's
    bucket — the multiprobe candidate set. Driver-side combinatorics
    (sum of C(n_planes, r) ids, tiny for the radii that make sense);
    previously radius >= 2 was silently treated as 1."""
    from itertools import combinations

    probe = []
    for r in range(0, max(radius, 0) + 1):
        for bits in combinations(range(n_planes), r):
            b = qbits
            for i in bits:
                b ^= 1 << i
            probe.append(b)
    return probe


def _query_probes(
    query_vec: list[float], n_planes: int, seed: int, radius: int
) -> tuple[list[list[float]], list[int]]:
    """(planes, multiprobe bucket ids) of a literal query vector: its
    sign-bit bucket, computed driver-side, and every bucket within
    Hamming ``radius`` of it."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qbits = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) >= 0:
            qbits |= 1 << i
    return planes, probe_buckets(qbits, n_planes, radius)


def _cosine_rank(
    df: DataFrame, query_vec: list[float], k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Top-k rows of ``df`` by cosine to a literal query vector, rounded
    to 6 decimals, ties broken by id."""
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_lit(vec_col, query_vec), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk(
    docs: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector.

    orderBy+limit compiles to TakeOrderedAndProject: per-partition heap of
    size k, then a k-row merge on the driver — no full sort, no shuffle of
    the data. Ties broken by id for determinism."""
    return _cosine_rank(ensure_min_partitions(docs), query_vec, k, id_col, vec_col)


def ann_lsh_topk(
    docs: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``multiprobe_hamming`` bits of the query's bucket.

    With 8 planes + 1-bit multiprobe the candidate set is ~9/256 of the
    table — the scan prunes to the candidate buckets BEFORE any cosine is
    computed (the bucket predicate is an integer comparison on a derivable
    column; persist it as a physical column + partition key for true IVF
    pruning at scale)."""
    planes, probe = _query_probes(query_vec, n_planes, seed, multiprobe_hamming)
    cands = (
        ensure_min_partitions(docs)
        .withColumn("_bucket", lsh_bucket(vec_col, planes))
        .where(F.col("_bucket").isin(probe))
    )
    return _cosine_rank(cands, query_vec, k, id_col, vec_col)


def lsh_candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: Column,
    right_id: Column,
    *,
    vec_col: str,
    n_planes: int | None,
    seed: int,
) -> tuple[DataFrame, Column]:
    """The bucketed candidate-pair build shared by :func:`knn_join` and
    ``dedup.embedding_lsh_near_dup_pairs``: join each left row to the
    right rows whose LSH bucket is within Hamming distance 1 of its own.
    Returns ``(pairs, cos_sim)``: the joined frame (``_bucket``, both ids,
    vectors and norms) and its pair score, the cosine rounded to 6.

    ``n_planes=None`` sizes the planes from the right side's row count
    with a join-tight occupancy target (16, not the probe default 1024):
    candidate PAIRS per bucket grow with the square of occupancy, so a
    bucket that is fine to scan once is far too big to self-join. The
    vector dimension is probed from the left side.

    Only the right side is probe-exploded. Its probe buckets (rb,
    rb^bit_i) are pairwise-distinct, so a (left, right) pair matches the
    left row's single bucket at most once and needs no dedup — deduping
    would re-shuffle the full candidate-pair set, the largest
    intermediate of the query, for nothing."""
    if n_planes is None:
        n_planes = adaptive_n_planes(right.count(), target_rows_per_bucket=16)
    sample = left.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = sample[0].d if sample else 0
    planes = hyperplanes(dim, n_planes, seed)

    # norms are precomputed per side: per-pair cosine then needs ONE array
    # aggregate (the dot), not three — at B buckets * n^2/B pairs that is
    # the dominant cost of the join stage
    l_b = ensure_min_partitions(left).select(
        left_id,
        F.col(vec_col).alias("_lv"),
        norm(vec_col).alias("_ln"),
        lsh_bucket(vec_col, planes).alias("_bucket"),
    )
    probes = F.array(
        F.col("_rb"), *[F.col("_rb").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    )
    r_b = (
        ensure_min_partitions(right).select(
            right_id,
            F.col(vec_col).alias("_rv"),
            norm(vec_col).alias("_rn"),
            lsh_bucket(vec_col, planes).alias("_rb"),
        )
        .withColumn("_bucket", F.explode(probes))
        .drop("_rb")
    )
    denom = F.col("_ln") * F.col("_rn")
    cos_sim = F.when(denom != 0, dot(F.col("_lv"), F.col("_rv")) / denom)
    return l_b.join(r_b, "_bucket"), F.round(cos_sim, 6)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    *,
    left_id: str = "id_a",
    right_id: str = "id_b",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Bucketed k-NN join: for each left row, top-k right rows by cosine,
    candidates restricted to the same LSH bucket (plus right rows whose
    bucket differs in one bit, via explode of probe buckets).

    ``n_planes=None`` (default) sizes the bucket count from the RIGHT side's
    row count (see :func:`lsh_candidate_pairs`), so per-bucket candidate
    volume stays bounded as the corpus grows instead of scaling
    O(n^2/2^k) with a fixed k. The count is one metadata-cheap job; pass
    an explicit ``n_planes`` to skip it (e.g. when an oracle twin must
    share literals)."""
    from pyspark.sql.window import Window

    pairs, cos_sim = lsh_candidate_pairs(
        left, right, F.col(left_id), F.col(right_id),
        vec_col=vec_col, n_planes=n_planes, seed=seed,
    )
    scored = pairs.where(F.col(left_id) != F.col(right_id)).select(
        "_bucket", left_id, right_id, cos_sim.alias("cos_sim")
    )
    # rank within (_bucket, left_id) — identical to ranking within left_id
    # alone (the left side is NOT probe-exploded, so left_id -> _bucket is
    # functional: every candidate of a left row shares its one bucket), but
    # the window's ClusteredDistribution is then satisfiable by the bucket
    # join's existing hashpartitioning(_bucket): when the join is
    # shuffle-based (the 100 TB shape), the candidate-pair set — the
    # largest intermediate of the whole query — is NOT re-shuffled for the
    # top-k (guide §2.4: two operations keyed compatibly share one
    # exchange). Under a broadcast join the window shuffles either way.
    w = Window.partitionBy("_bucket", left_id).orderBy(
        F.col("cos_sim").desc(), F.col(right_id)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(left_id, right_id, "cos_sim", "rnk")
    )


def build_ivf_store(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
) -> None:
    """Persist embeddings hive-partitioned by their LSH bucket — the
    IVF-style layout: each bucket is a physical directory, so an ANN probe
    reads only the probed partitions (true partition pruning, enforced by
    the file listing, not just row-group stats).

    2^n_planes partitions: keep n_planes small enough that each partition
    still holds file-sized chunks (6 planes = 64 dirs; at 100 TB that is
    ~1.6 TB/dir — split further with a secondary hash subdir if needed)."""
    sample = docs.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = sample[0].d if sample else 0
    planes = hyperplanes(dim, n_planes, seed)
    # repartition BY BUCKET before the partitioned write: without it every
    # upstream task opens a writer per bucket dir it touches (tasks x 2^n
    # small files — listing/NameNode pressure and a slow build); with it
    # each bucket's rows land in one task -> ~1 well-sized file per dir.
    # At larger stores raise the partition count to a multiple of 2^n so
    # hot buckets split across several files of healthy size.
    (
        docs.withColumn("bucket", lsh_bucket(vec_col, planes))
        .repartition(1 << n_planes, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def ensure_ivf_store(
    spark,
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
) -> StoreStatus:
    """Build-once wrapper around :func:`build_ivf_store` under the shared
    store contract (:func:`etlutil_spark.operators.store.ensure_store`).
    build_ivf_store itself stays overwrite-always for callers that want
    the write path exercised per run."""
    params = {
        "id_col": id_col, "vec_col": vec_col,
        "n_planes": int(n_planes), "seed": int(seed),
    }
    return ensure_store(
        spark, path, "ivf", params, docs,
        lambda tmp: build_ivf_store(
            docs, tmp, id_col=id_col, vec_col=vec_col,
            n_planes=n_planes, seed=seed,
        ),
    )


def ivf_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k over a build_ivf_store layout. The bucket predicate is a
    partition filter — Spark's file index skips every non-probed directory
    before any byte is read (check PartitionFilters in .explain)."""
    _, probe = _query_probes(query_vec, n_planes, seed, multiprobe_hamming)
    cands = read_table(spark, open_store(spark, path, "ivf")).where(
        F.col("bucket").isin(probe)
    )
    return _cosine_rank(cands, query_vec, k, id_col, vec_col)


def quantize_rerank_topk(
    docs: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    rerank_k: int = 50,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage vector search: score candidates against int-quantized
    vectors first, then rerank the survivors with exact floats — the
    IVF/PQ-style architecture every large vector store uses, where stage
    one reads a 4x-smaller representation and stage two touches only
    ``rerank_k`` rows.

    Quantization follows operators/profile.py:quantization_error_profile
    exactly (per-dim min-max, floor codes, clamp to 2^bits - 1), decoded
    inline as a flat one-parse SQL expression so stage one stays in
    whole-stage codegen with zero array allocation. Per-dim stats come
    from one tiny aggregate job (O(dim) collect, like the query-vector
    probe). Both cutoffs order by (rounded score, id) — deterministic
    across engines.

    At this demo scale both stages read the same parquet; in a real
    deployment stage one reads the materialized code columns (store the
    codes with ``mn + code * scale`` reproducible from this rule) and the
    full-precision vectors live in a colder tier only the rerank
    touches."""
    import math

    from etlutil_spark.functions.vectors import _sql_double

    if k < 1 or rerank_k < k:
        raise ValueError(f"need 1 <= k <= rerank_k, got k={k} rerank_k={rerank_k}")
    if bits < 1 or bits > 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    levels = float(2**bits - 1)
    stats = (
        docs.select(F.posexplode(vec_col).alias("_dim", "_val"))
        .groupBy("_dim")
        .agg(
            F.min(F.col("_val").cast("double")).alias("mn"),
            F.max(F.col("_val").cast("double")).alias("mx"),
        )
        .collect()
    )
    by_dim = {r["_dim"]: (r["mn"], r["mx"]) for r in stats}
    dims = len(query_vec)
    if set(by_dim) != set(range(dims)):
        raise ValueError(
            f"query dim {dims} does not match corpus dims {sorted(by_dim)[:3]}..."
        )
    c = f"`{vec_col}`"
    terms = []
    for i in range(dims):
        mn, mx = by_dim[i]
        sc = (mx - mn) / levels if mx > mn else 0.0
        if sc > 0:
            terms.append(
                f"({_sql_double(mn)} + LEAST(CAST(FLOOR(({c}[{i}] - "
                f"{_sql_double(mn)}) / {_sql_double(sc)}) AS DOUBLE), "
                f"{_sql_double(levels)}) * {_sql_double(sc)})"
            )
        else:
            terms.append(_sql_double(mn))
    adot = "(" + " + ".join(
        f"{t} * {_sql_double(float(q))}" for t, q in zip(terms, query_vec)
    ) + ")"
    asq = "(" + " + ".join(f"{t} * {t}" for t in terms) + ")"
    qn = math.sqrt(sum(float(v) * float(v) for v in query_vec))
    approx = F.expr(adot) / (F.sqrt(F.expr(asq)) * F.lit(qn))
    cands = (
        ensure_min_partitions(docs)
        .select(F.col(id_col), F.round(approx, 6).alias("approx_sim"))
        .orderBy(F.col("approx_sim").desc(), F.col(id_col))
        .limit(rerank_k)
        .select(id_col)
    )
    return _cosine_rank(
        docs.join(F.broadcast(cands), id_col), query_vec, k, id_col, vec_col
    )
