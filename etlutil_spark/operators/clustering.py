"""Distributed k-means (Lloyd's) over embedding columns.

Scale posture (the 100 TB plan): the assignment step is map-side only —
the k centroids are embedded as literal arrays in the projection, so no
join, no broadcast exchange, no shuffle touches the data path. Each
update step is one keyed partial-aggregate shuffle whose reduced output
is k rows of (count, per-dim sums); the driver holds k*d integers
between iterations (the bounded-collect idiom used by mixture_rates).
That is exactly how Lloyd's runs on a 1000-executor cluster: broadcast
tiny centroids out, tree-aggregate tiny sums back.

Determinism contract (what makes an exact DuckDB oracle possible): all
arithmetic after a one-time quantization is 64-bit integer math.

* quantize: ``q_d = floor(double(x_d) * scale)`` — float->double is
  exact, the multiply and floor are IEEE-identical in every engine, and
  no decimal rounding mode is involved (empirically bit-identical
  between Spark and DuckDB across every test scale factor; the
  float->DECIMAL cast is NOT portable — the two engines round
  differently — which is why this path deliberately avoids decimals).
* init: centroid ``j`` is the vector with the (j+1)-th smallest id.
* assign: argmin_j of the exact integer squared-L2 distance, ties
  broken by smaller cluster id.
* update: ``c'_d = floor(double(sum_d) / n)``; an empty cluster keeps
  its previous centroid.

With inputs |x| < ~100 and d <= 128, distances stay far below 2^63 at
the default scale — no overflow, no floats, no cross-engine drift.

Reference parity note: the reference engine has no clustering operator;
this extends the curation family (SemDeDup-style corpus bucketing, IVF
coarse-quantizer training) the way SURVEY.md section 2.4 prescribes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from etlutil_spark.operators.store import (
    StoreStatus,
    apply_delta,
    ensure_store,
    open_store,
    read_table,
)
from etlutil_spark.operators.util import pin
from pyspark.sql import functions as F

from etlutil_spark.functions.vectors import bigint_array_lit, sq_l2

DEFAULT_SCALE = 1_000_000


def _quantize(vec_col: str, scale: int) -> Column:
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("bigint")
    )


def _quantized_corpus(
    df: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """(id, _qv) quantized corpus frame — the shared input shape every
    trainer and server below consumes. Callers that run MULTIPLE
    training/serving stages over the same corpus (ivfadc_topk) build
    this ONCE, localCheckpoint it, and thread it through, instead of
    each stage paying its own scan+quantize (the r9 bench regression:
    three materializations of the corpus per query)."""
    return df.where(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(F.col(id_col), _quantize(vec_col, scale).alias("_qv"))


def _best_cluster(centroids: list[list[int]], qv: Column | str = "_qv") -> Column:
    """struct(dist, cluster) of the nearest centroid; integer-exact,
    ties to the smaller cluster id via lexicographic struct min.

    The centroid table is ONE nested-array literal walked by an indexed
    ``transform``, not k unrolled distance expressions: identical
    (dist, id) struct-min semantics, but the expression tree stays O(1)
    in k — with k unrolled candidates Catalyst analysis/codegen time
    dominated small-k queries (the PQ query builds 8 codebooks x 16
    centroids = 128 candidates; unrolled, planning cost beat the actual
    2,000-row scan by an order of magnitude)."""
    cent = bigint_array_lit(centroids)
    dists = F.transform(
        cent,
        lambda c, i: F.struct(sq_l2(qv, c).alias("d"), i.cast("bigint").alias("c")),
    )
    return F.array_min(dists)


def _py_sq_l2(u: list[int], v: list[int]) -> int:
    """Driver-side twin of :func:`sq_l2` (Python ints are exact)."""
    return sum((x - y) * (x - y) for x, y in zip(u, v))


def _quantize_query(query_vec: list[float], scale: int) -> list[int]:
    """Driver-side twin of :func:`_quantize` for a literal query vector."""
    return [math.floor(float(x) * scale) for x in query_vec]


def _probe_cells(
    query_vec: list[float], centroids: list[list[int]], nprobe: int, scale: int
) -> tuple[list[int], list[int]]:
    """(quantized query, the ``nprobe`` cells nearest it), ties to the
    smaller cell id."""
    qv = _quantize_query(query_vec, scale)
    by_dist = sorted((_py_sq_l2(qv, c), j) for j, c in enumerate(centroids))
    return qv, [int(j) for _, j in by_dist[:nprobe]]


def _adc_tables(qv: list[int], codebooks: list[list[list[int]]]) -> list[list[int]]:
    """Per-subspace ADC lookup tables (m x ksub ints): the squared
    distance from each query subvector to each codebook centroid."""
    dsub = len(qv) // len(codebooks)
    return [
        [_py_sq_l2(qv[s * dsub : (s + 1) * dsub], c) for c in cb]
        for s, cb in enumerate(codebooks)
    ]


def _pq_code(codebooks: list[list[list[int]]], s: int, dsub: int) -> Column:
    """Subspace ``s``'s PQ code of the ``_qv`` column."""
    return _best_cluster(codebooks[s], F.slice("_qv", s * dsub + 1, dsub))["c"]


def _adc_sum(m: int, table, code) -> Column:
    """The ADC distance: the sum over subspaces ``s`` of
    ``table(s)[code(s)]``, both Column-valued, folded left to right."""
    adc = None
    for s in range(m):
        term = F.element_at(table(s), (code(s) + 1).cast("int"))
        adc = term if adc is None else adc + term
    return adc


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = DEFAULT_SCALE,
) -> list[list[int]]:
    """Train centroids (``iters - 1`` Lloyd's updates after the
    deterministic smallest-id seeding) and return them as quantized
    integer vectors — the coarse-quantizer training step an IVF index
    consumes. Each update is one k-row aggregate; the driver only ever
    holds k*d ints.

    Seeding scale note (r8 verdict follow-up): ``orderBy(id).limit(k)``
    is NOT a global sort — Spark plans it as TakeOrderedAndProject, a
    per-partition k-row heap merged on the driver (O(n) scan, O(k)
    state, zero exchanges), so the k-smallest-ids seed rule costs one
    pruned pass even at 1e9+ vectors. Pinned by
    tests/test_clustering.py::test_seed_stage_is_heap_not_sort."""
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1, got k={k} iters={iters}")
    q = (
        _quantized_corpus(df, id_col, vec_col, scale)
        # the seed collect and EVERY Lloyd round read this — cache the
        # quantized corpus once instead of re-scanning per round (the
        # standard iterative-training trade: memory for repeated scans)
        .transform(pin)
    )
    return _kmeans_fit_q(q, id_col, k=k, iters=iters)


def _kmeans_fit_q(
    q: DataFrame, id_col: str, *, k: int, iters: int
) -> list[list[int]]:
    """kmeans_fit over an ALREADY-quantized (id, _qv) corpus frame —
    the caller owns caching/checkpointing. Bit-identical to
    :func:`kmeans_fit` by construction (same seed rule, argmin
    tie-breaks, floor-div updates); split out so multi-stage consumers
    reuse one materialized corpus."""
    seed_rows = q.orderBy(id_col).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} rows to seed centroids, got {len(seed_rows)}")
    centroids = [list(r["_qv"]) for r in seed_rows]
    dim = len(centroids[0])

    for _ in range(iters - 1):
        assigned = q.select("_qv", _best_cluster(centroids)["c"].alias("cluster"))
        # per-dim sums via posexplode, not `dim` separate SUM columns: the
        # wide aggregate's expression tree made Catalyst planning dominate
        # the (tiny) data work at d=64; the exploded aggregate's plan is
        # O(1) in dim and reduces to the same k*d exact integer sums
        sums = (
            assigned.select("cluster", F.posexplode("_qv").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        )
        by: dict = {}
        n_of: dict = {}
        for r in sums.collect():  # k*dim rows, bounded
            by[(int(r["cluster"]), int(r["pos"]))] = r["s"]
            n_of[int(r["cluster"])] = r["n"]
        centroids = [
            [math.floor(float(by[(j, d)]) / n_of[j]) for d in range(dim)]
            if j in n_of
            else centroids[j]  # empty cluster keeps its previous centroid
            for j in range(k)
        ]
    return centroids


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """Run ``iters`` assignment rounds (``iters - 1`` centroid updates)
    and return the final assignment: (id, cluster, dist).

    ``dist`` is the exact integer squared-L2 distance in quantized
    space. The returned plan is scan -> project: the final centroids are
    literals, so a consumer pays zero shuffles.
    """
    centroids = kmeans_fit(df, id_col, vec_col, k=k, iters=iters, scale=scale)
    q = _quantized_corpus(df, id_col, vec_col, scale)
    best = _best_cluster(centroids)
    return q.select(F.col(id_col), best["c"].alias("cluster"), best["d"].alias("dist"))


def ivf_kmeans_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    *,
    k: int = 8,
    iters: int = 3,
    nprobe: int = 3,
    topk: int = 10,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """IVF search with a k-means-trained coarse quantizer: train k
    centroids (kmeans_fit), probe the ``nprobe`` cells nearest the
    query, and rank only those cells' vectors by exact integer squared
    L2 — the FAISS IVF-Flat architecture expressed as one DataFrame
    plan.

    Scale shape: the probe decision is pure driver arithmetic on k
    quantized centroids; the returned plan is scan -> project (cell
    assignment AND query distance both ride as literal-centroid
    expressions) -> filter (cell in probes) -> TakeOrderedAndProject.
    Zero shuffles, zero joins; with the assignment persisted as a
    partition column (sim_ivf_topk's store layout) the filter becomes
    directory pruning and the scan itself shrinks to nprobe/k of the
    corpus.

    Everything after quantization is exact integer math, so an unrolled
    SQL oracle reproduces the result bit for bit — including WHICH cells
    are probed (ties break to the smaller cluster id everywhere).
    """
    if not 1 <= nprobe <= k:
        raise ValueError(f"nprobe must be in [1, k], got nprobe={nprobe} k={k}")
    centroids = kmeans_fit(df, id_col, vec_col, k=k, iters=iters, scale=scale)
    if len(query_vec) != len(centroids[0]):
        # without this, zip() silently truncates the probe arithmetic and
        # zip_with pads with NULL — NULL distances sort first and the
        # "top-k" is garbage instead of an error
        raise ValueError(
            f"query dim {len(query_vec)} != corpus dim {len(centroids[0])}"
        )
    qv, probes = _probe_cells(query_vec, centroids, nprobe, scale)
    q = _quantized_corpus(df, id_col, vec_col, scale)
    return (
        q.withColumn("_cell", _best_cluster(centroids)["c"])
        .where(F.col("_cell").isin(probes))
        .select(F.col(id_col), sq_l2("_qv", bigint_array_lit(qv)).alias("dist"))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(topk)
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    iters: int = 3,
    radius: int,
    scale: int = DEFAULT_SCALE,
    max_cell_share: float | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the corpus with the
    trained quantizer, then drop every vector whose exact (quantized)
    squared-L2 distance to a SMALLER-id vector in the SAME cell is
    within ``radius`` — keep-first semantics, the deterministic survivor
    rule of the exact-dedup family. Returns one row per vector:
    (id, cluster, kept, n_near_smaller).

    Why cells: the all-pairs comparison is quadratic, but only WITHIN a
    cell — SemDeDup's contract is that k grows with the corpus so the
    cell size (and each cell's pair count) stays constant; the cluster
    sizes from embeddings_cluster_purity / kmeans_assign are the skew
    audit that validates that assumption before a big run. Cross-cell
    near-dups are deliberately invisible (the recall trade every
    cell-partitioned method makes; raise nprobe-style by merging cells
    if it matters).

    ``max_cell_share`` is the occupancy circuit-breaker for that
    contract: when set, a k-row cluster-size aggregate (reusing the
    checkpointed assignment — no extra data pass) runs BEFORE the
    quadratic stage, and the call raises if any cell holds more than
    that fraction of the corpus. A degenerate fit (collapsed centroids,
    near-identical embeddings, k too small for the corpus) would
    otherwise silently funnel everything into one cell and turn the
    within-cell join back into O(n^2) — at 100 TB that is a job you
    kill, not one you debug. Guarded by
    tests/test_skew_stress.py::TestSemDeDupDegenerateFit.

    Plan: assignment rides literal centroids (map-side); the pair stage
    is a cluster-keyed equi-join with the distance predicate as the join
    filter; the drop set left-joins back on id. Everything is exact
    integer math — the oracle reproduces the kept set bit for bit.
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    if max_cell_share is not None and not (0.0 < max_cell_share <= 1.0):
        raise ValueError(f"max_cell_share must be in (0, 1], got {max_cell_share}")
    centroids = kmeans_fit(df, id_col, vec_col, k=k, iters=iters, scale=scale)
    q = _quantized_corpus(df, id_col, vec_col, scale)
    assigned = q.select(
        F.col(id_col), F.col("_qv"), _best_cluster(centroids)["c"].alias("cluster")
    # both self-join sides and the final left join read this projection —
    # compute the quantize+assign pass once
    ).transform(pin)
    if max_cell_share is not None:
        sizes = (
            assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()
        )  # k rows — metadata-scale
        total = sum(r["n"] for r in sizes)
        hot = [
            (int(r["cluster"]), r["n"])
            for r in sizes
            if total and r["n"] > max_cell_share * total
        ]
        if hot:
            raise ValueError(
                "semdedup: degenerate cluster fit — cell(s) "
                f"{hot} exceed max_cell_share={max_cell_share} of {total} rows; "
                "the within-cell pair stage would be quadratic in the hot cell. "
                "Raise k, re-fit, or split the hot cell before deduping."
            )
    a, b = assigned.alias("a"), assigned.alias("b")
    near = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (sq_l2("a._qv", "b._qv") <= F.lit(int(radius))),
        )
        .groupBy(F.col(f"b.{id_col}").alias(id_col))
        .agg(F.count("*").alias("n_near_smaller"))
    )
    return (
        assigned.join(near, id_col, "left")
        .select(
            F.col(id_col),
            "cluster",
            F.col("n_near_smaller").isNull().cast("int").alias("kept"),
            F.coalesce("n_near_smaller", F.lit(0)).cast("bigint").alias("n_near_smaller"),
        )
    )


def pq_train_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int,
    ksub: int,
    iters: int,
    scale: int = DEFAULT_SCALE,
) -> list[list[list[int]]]:
    """Train all ``m`` per-subspace codebooks JOINTLY: one Spark job per
    Lloyd's round updates every subspace at once (assign each row's m
    subvectors to their codebooks, explode to (subspace, cluster,
    subvector), one m*ksub-group aggregate), instead of m independent
    kmeans_fit passes each re-scanning the corpus — m times fewer jobs
    and scans for identical output. Bit-identical to the per-subspace
    fits by construction: same smallest-id seeding (one collect seeds
    every subspace — the seed rows are the same rows sliced m ways),
    same integer argmin tie-breaks, same floor-div updates, and
    subspaces never interact (Lloyd's per subspace is independent, so
    batching the passes cannot change any sum)."""
    if m < 1 or ksub < 1 or iters < 1:
        raise ValueError(
            f"m, ksub and iters must be >= 1, got m={m} ksub={ksub} iters={iters}"
        )
    q = (
        _quantized_corpus(df, id_col, vec_col, scale)
        # seed collect + every joint round read this — cache the quantized
        # corpus once (the kmeans_fit trade)
        .transform(pin)
    )
    return _pq_train_q(q, id_col, m=m, ksub=ksub, iters=iters)


def _pq_train_q(
    q: DataFrame, id_col: str, *, m: int, ksub: int, iters: int
) -> list[list[list[int]]]:
    """pq_train_codebooks over an ALREADY-quantized (id, _qv) frame —
    caller owns caching. Lets ivfadc_topk train residual codebooks
    directly on a residual frame DERIVED from its one checkpointed
    corpus (a map over cached rows) instead of paying a second
    scan+quantize+checkpoint of the corpus."""
    seed_rows = q.orderBy(id_col).limit(ksub).collect()
    if len(seed_rows) < ksub:
        raise ValueError(
            f"need at least ksub={ksub} rows to seed codebooks, got {len(seed_rows)}"
        )
    d = len(seed_rows[0]["_qv"])
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    codebooks = [
        [list(r["_qv"][s * dsub : (s + 1) * dsub]) for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(iters - 1):
        entries = []
        for s in range(m):
            subv = F.slice("_qv", s * dsub + 1, dsub)
            entries.append(
                F.struct(
                    F.lit(s).alias("s"),
                    _best_cluster(codebooks[s], subv)["c"].alias("cluster"),
                    subv.alias("sub"),
                )
            )
        assigned = q.select(F.explode(F.array(*entries)).alias("e")).select(
            "e.s", "e.cluster", "e.sub"
        )
        sums = assigned.groupBy("s", "cluster").agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("sub", t + 1)).alias(f"s{t}") for t in range(dsub)],
        )
        by = {(int(r["s"]), int(r["cluster"])): r for r in sums.collect()}
        codebooks = [
            [
                [math.floor(float(r[f"s{t}"]) / r["n"]) for t in range(dsub)]
                if (r := by.get((s, j))) is not None
                else codebooks[s][j]  # empty cluster keeps its previous centroid
                for j in range(ksub)
            ]
            for s in range(m)
        ]
    return codebooks


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    *,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    topk: int = 10,
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """Product-quantization search with asymmetric distance computation
    (the FAISS PQ/ADC architecture): split each vector into ``m``
    subspaces, train a ``ksub``-centroid codebook per subspace
    (kmeans_fit on the slice), and score each database vector by the sum
    of per-subspace LOOKUPS — the distance from the (exact) query
    subvector to the centroid the database subvector quantizes to.

    Why this is the 100 TB vector-store architecture: database vectors
    compress to m codes (8 bytes here vs 256 for float32 d=64 — 32x),
    and serving is pure map-side arithmetic — the per-query distance
    tables (m * ksub ints, computed driver-side from the codebooks) and
    the codebooks themselves ride the plan as LITERALS, so the serving
    plan is scan -> project -> TakeOrderedAndProject with zero shuffles,
    zero joins. Training cost (m small k-means fits) is paid once and
    amortized over every query; in a real store the codes are
    precomputed at write time and serving reads 8-byte codes instead of
    raw vectors.

    Exactness contract: codebooks, code assignment, distance tables and
    the final ADC sums are all integer math in quantized space, so the
    unrolled-SQL oracle reproduces the ranking bit for bit. ADC is an
    APPROXIMATION of the true distance (that is the compression trade);
    pair with an exact rerank stage (quantize_rerank_topk's pattern)
    when recall at the top matters.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    first = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    if first is None:
        raise ValueError("pq_adc_topk: corpus has no non-null vectors")
    d = len(first[0])
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    if len(query_vec) != d:
        raise ValueError(f"query dim {len(query_vec)} != corpus dim {d}")

    codebooks = pq_train_codebooks(
        df, id_col, vec_col, m=m, ksub=ksub, iters=iters, scale=scale
    )

    tables = _adc_tables(_quantize_query(query_vec, scale), codebooks)
    adc = _adc_sum(
        m, lambda s: bigint_array_lit(tables[s]), lambda s: _pq_code(codebooks, s, dsub)
    )
    return (
        _quantized_corpus(df, id_col, vec_col, scale)
        .select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(topk)
    )


def ivfadc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    *,
    k: int = 8,
    iters: int = 3,
    nprobe: int = 3,
    m: int = 8,
    ksub: int = 16,
    pq_iters: int = 2,
    topk: int = 10,
    scale: int = DEFAULT_SCALE,
    residual: bool = True,
) -> DataFrame:
    """IVFADC — the full FAISS billion-scale serving architecture:
    a k-means coarse quantizer prunes the corpus to the ``nprobe``
    cells nearest the query, and only those cells' vectors are scored,
    by PQ asymmetric distance (per-query lookup tables against
    ``m x ksub`` codebooks) instead of full-precision L2. Combines
    ivf_kmeans_topk's pruning with pq_adc_topk's compressed scoring:
    at 1e9+ vectors the scan touches nprobe/k of the corpus AND reads
    m-byte codes instead of raw floats.

    ``residual=True`` (the FAISS default, and ours since r9): PQ
    codebooks train on and encode RESIDUALS x - centroid(cell(x)), and
    the per-query distance tables are computed PER PROBED CELL from the
    query's residual against that cell's centroid. Raw-vector
    codebooks (``residual=False``, the r8 behavior, kept for the
    recall A/B in tests/test_ann_quality.py) waste code entropy
    re-describing the coarse structure the cell id already encodes;
    residual PQ spends all m*log2(ksub) bits on the within-cell offset
    — the property that keeps ADC accurate at high compression.

    Serving plan is unchanged by the residual step: scan -> project
    (cell, residual, codes — centroids AND codebooks AND the k-cell
    query tables all ride as literals) -> filter (cell in probes) ->
    TakeOrderedAndProject; zero shuffles, zero joins. Training adds one
    map-side subtraction before the codebook fits. Everything after
    quantization is exact integer math (residuals are differences of
    quantized integers) — the unrolled SQL oracle reproduces probes,
    codes, and ranking bit for bit, including retraining every codebook
    on the residual corpus."""
    if not 1 <= nprobe <= k:
        raise ValueError(f"nprobe must be in [1, k], got nprobe={nprobe} k={k}")
    # ONE scan+quantize of the corpus, checkpointed; the coarse fit,
    # the residual codebook fit, and the serving scan all read it (r9
    # bench fix: each stage previously materialized its own copy,
    # tripling the corpus cost per query).
    q = _quantized_corpus(df, id_col, vec_col, scale).transform(pin)
    centroids = _kmeans_fit_q(q, id_col, k=k, iters=iters)
    d = len(centroids[0])
    if len(query_vec) != d:
        raise ValueError(f"query dim {len(query_vec)} != corpus dim {d}")
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    qv, probes = _probe_cells(query_vec, centroids, nprobe, scale)

    # Encode ONCE into a checkpointed (id, cell, vector-to-code) frame.
    # Referencing `cell`/`_qv` as plain columns afterwards keeps every
    # downstream expression tree small: inlining the cell argmin + the
    # residual zip_with into each of the m ADC terms (the r9 shape)
    # re-embedded the full k x d centroid literal 8+ times per plan and
    # Catalyst analysis dominated the 2,000-row execution. This is also
    # the production write-time shape — codes are derived from the
    # encoded frame, not re-derived per expression.
    if residual:
        # residuals are already exact integers — differences of
        # quantized bigints; no second quantization happens
        enc = _residuals(q, id_col, centroids).transform(pin)
        codebooks = _pq_train_q(enc, id_col, m=m, ksub=ksub, iters=pq_iters)
        # per-probed-cell query tables: the query's residual against
        # cell j scores against the shared codebooks; non-probed cells
        # keep zero rows (they are filtered before the lookup)
        tables = _ivfadc_query_tables(qv, centroids, codebooks, probes)
    else:
        cell = _best_cluster(centroids)["c"].cast("int")
        enc = q.select(F.col(id_col), cell.alias("cell"), F.col("_qv")).transform(pin)
        codebooks = _pq_train_q(enc, id_col, m=m, ksub=ksub, iters=pq_iters)
        tables = [_adc_tables(qv, codebooks)] * k  # cell-independent tables

    cell_tbl = F.element_at(bigint_array_lit(tables), (F.col("cell") + 1).cast("int"))
    adc = _adc_sum(
        m, lambda s: F.element_at(cell_tbl, s + 1), lambda s: _pq_code(codebooks, s, dsub)
    )
    return (
        enc.where(F.col("cell").isin(probes))
        .select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(topk)
    )


def _ivfadc_query_tables(
    qv: list[int],
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    probes: list[int],
) -> list[list[list[int]]]:
    """Per-probed-cell ADC lookup tables of the quantized query's residual
    (k x m x ksub ints; non-probed cells stay zero — they are filtered
    before any lookup). Shared by ivfadc_topk and the serving paths so
    train-time and serve-time tables cannot drift."""
    m, ksub = len(codebooks), len(codebooks[0])
    tables = [[[0] * ksub for _ in range(m)] for _ in centroids]
    for j in probes:
        tables[j] = _adc_tables([a - b for a, b in zip(qv, centroids[j])], codebooks)
    return tables


def _residuals(q: DataFrame, id_col: str, centroids: list[list[int]]) -> DataFrame:
    """(id, cell, _qv residual) of a quantized corpus against a trained
    coarse quantizer — the write-time integer argmin."""
    cell = _best_cluster(centroids)["c"]
    rv = F.zip_with(
        "_qv",
        F.element_at(bigint_array_lit(centroids), (cell + 1).cast("int")),
        lambda a, b: a - b,
    )
    return q.select(F.col(id_col), cell.cast("int").alias("cell"), rv.alias("_qv"))


def _write_codes(
    enc: DataFrame, id_col: str, codebooks, dsub: int, k: int, out: str
) -> None:
    """Encode residuals to m PQ codes and write them cell-partitioned.
    Repartitioning by cell first gives each cell dir one well-sized file
    per shuffle partition (the build_ivf_store writer-explosion guard)."""
    codes = F.array(
        *[_pq_code(codebooks, s, dsub).cast("int") for s in range(len(codebooks))]
    )
    (
        enc.select(F.col(id_col), F.col("cell"), codes.alias("codes"))
        .repartition(k, "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out)
    )


def ensure_ivfadc_index(
    spark,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    k: int = 8,
    iters: int = 3,
    m: int = 8,
    ksub: int = 16,
    pq_iters: int = 2,
    scale: int = DEFAULT_SCALE,
) -> StoreStatus:
    """Build-ONCE IVFADC index store — the production half the
    ivfadc_topk docstring promises ("in a real store the codes are
    precomputed at write time"): train the coarse quantizer and the
    residual codebooks, encode every vector to (id, cell, m codes),
    and persist the codes CELL-PARTITIONED under ``delta=base`` with the
    model (centroids + codebooks) in the store's sidecar. Every later
    call with the same params is metadata-only; the lifecycle is the
    shared store contract (:func:`etlutil_spark.operators.store.ensure_store`).
    At 1e9+ vectors raise the write's partition count to a multiple of k
    so hot cells split across healthy files."""
    params = {
        "id_col": id_col, "vec_col": vec_col, "k": int(k),
        "iters": int(iters), "m": int(m), "ksub": int(ksub),
        "pq_iters": int(pq_iters), "scale": int(scale),
    }

    def build(tmp: str) -> dict:
        q = _quantized_corpus(df, id_col, vec_col, scale).transform(pin)
        centroids = _kmeans_fit_q(q, id_col, k=k, iters=iters)
        d = len(centroids[0])
        if d % m != 0:
            raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
        enc = _residuals(q, id_col, centroids).transform(pin)
        codebooks = _pq_train_q(enc, id_col, m=m, ksub=ksub, iters=pq_iters)
        _write_codes(enc, id_col, codebooks, d // m, k, tmp + "/delta=base")
        return {"centroids": centroids, "codebooks": codebooks}

    return ensure_store(spark, path, "ivfadc", params, df, build)


def ivfadc_serve(
    spark,
    path: str,
    query_vec: list[float],
    *,
    nprobe: int = 3,
    topk: int = 10,
) -> DataFrame:
    """Read-only IVFADC serving over an :func:`ensure_ivfadc_index`
    store: load the model sidecar driver-side (k*d + m*ksub*dsub ints —
    corpus-size-independent), pick the ``nprobe`` cells nearest the
    query, compute the per-probed-cell ADC tables, and scan ONLY those
    cells' directories. The plan is the billion-scale serving shape the
    IVFADC docstring promises: partition-PRUNED scan (the cell
    predicate is a PartitionFilter — unprobed dirs are never listed) ->
    literal table lookup on the stored m-byte codes -> TakeOrdered.
    Zero shuffles, zero joins, zero training jobs per query.

    Bit-identical to :func:`ivfadc_topk` with the same params by
    construction: codes are assigned by the same integer argmin at
    write time, and the tables come from the shared helper."""
    store = _open_ivfadc(spark, path, nprobe)
    id_col = store.meta["params"]["id_col"]
    probes, tables = _serve_tables(store.meta, query_vec, nprobe, "query")
    cell_tbl = F.element_at(bigint_array_lit(tables), (F.col("cell") + 1).cast("int"))
    return (
        read_table(spark, store)
        .where(F.col("cell").isin(probes))
        .select(F.col(id_col), _stored_adc(store.meta, cell_tbl).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(topk)
    )


def _open_ivfadc(spark, path: str, nprobe: int):
    """The serving preamble: open the store and check ``nprobe``."""
    store = open_store(spark, path, "ivfadc", required=True)
    k = store.meta["params"]["k"]
    if not 1 <= nprobe <= k:
        raise ValueError(f"nprobe must be in [1, k], got nprobe={nprobe} k={k}")
    return store


def _serve_tables(model: dict, query_vec: list[float], nprobe: int, what: str):
    """(probed cells, per-cell ADC tables) of one query against a stored
    model; ``what`` names the query in the dimension error."""
    centroids = model["centroids"]
    d = len(centroids[0])
    if len(query_vec) != d:
        raise ValueError(f"{what} dim {len(query_vec)} != index dim {d}")
    qv, probes = _probe_cells(query_vec, centroids, nprobe, model["params"]["scale"])
    return probes, _ivfadc_query_tables(qv, centroids, model["codebooks"], probes)


def _stored_adc(model: dict, cell_tbl: Column) -> Column:
    """ADC distance of a stored ``codes`` row against its cell's tables."""
    return _adc_sum(
        model["params"]["m"],
        lambda s: F.element_at(cell_tbl, s + 1),
        lambda s: F.element_at("codes", s + 1),
    )


def update_ivfadc_index(
    spark,
    new_docs: DataFrame,
    path: str,
    *,
    batch_id: str,
) -> str:
    """Incrementally encode a NEW vector batch into an
    :func:`ensure_ivfadc_index` store with the FROZEN model — the
    maintenance half of the ANN serving stack (FAISS `add` after
    `train`): the sidecar's centroids and codebooks are read back,
    the batch is assigned+encoded with exactly the write-time integer
    argmins, and the (id, cell, codes) rows append into the existing
    cell directories — one batch-sized job, the index is never read or
    rewritten, and the model (being corpus-constant-free at serve
    time) needs no sidecar update. Serving after the increment is
    bit-identical to encode-everything-with-the-same-model (pinned by
    the catalog oracle, which retrains on the base slice only and
    encodes the full corpus).

    Crash-safe replay (the update_hist_store / update_postings_store
    contract, upgraded in r12 from append-then-marker, whose crash
    window duplicated a replayed batch's code rows — duplicate ids in
    the serving top-k): the batch's codes OVERWRITE their own
    ``delta=<batch_id>`` partition (idempotent per batch_id), and the
    ``_applied_<batch_id>`` marker (written LAST) commits them: serving
    reads only marked deltas, and a replay of a marked one is a no-op.
    Model drift is the caveat frozen-model adds grow
    into — re-train (rebuild) when the batch distribution departs from
    the training corpus; the recall eval harness
    (dedup_minhash_recall's pattern) is the gate for that decision."""

    def write(delta_dir: str, store) -> None:
        model = store.meta
        params = model["params"]
        centroids, codebooks = model["centroids"], model["codebooks"]
        id_col = params["id_col"]
        q = _quantized_corpus(new_docs, id_col, params["vec_col"], params["scale"])
        enc = _residuals(q, id_col, centroids)
        dsub = len(centroids[0]) // params["m"]
        _write_codes(enc, id_col, codebooks, dsub, len(centroids), delta_dir)

    return apply_delta(spark, path, "ivfadc", batch_id, write)


def ivfadc_serve_many(
    spark,
    path: str,
    queries: dict[int, list[float]],
    *,
    nprobe: int = 3,
    topk: int = 10,
) -> DataFrame:
    """Batched IVFADC serving: score MANY queries against the code
    store in ONE partition-pruned scan (the bm25_serve_many shape for
    vectors): the scanned cell set is the UNION of every query's
    probes, a literal (query, cell) probe map broadcast-joins each
    candidate row to exactly the queries probing its cell, and the ADC
    lookup indexes a per-query table literal (|Q| x k x m x ksub ints —
    driver-side constants). Per-query top-k is a query-partitioned
    window over the scored candidates; at extreme corpus scale swap it
    for per-query TakeOrdered fan-out — the scan amortization is the
    point either way. Returns (query_id, id, adc_dist, rank <= topk),
    bit-identical per query to :func:`ivfadc_serve`."""
    from pyspark.sql.window import Window

    store = _open_ivfadc(spark, path, nprobe)
    id_col = store.meta["params"]["id_col"]
    qids = sorted(queries)
    probe_pairs = []           # (qid, cell)
    all_tables = []            # per qid: k x m x ksub
    for qid in qids:
        probes, tables = _serve_tables(store.meta, queries[qid], nprobe, f"query {qid}:")
        probe_pairs += [(qid, j) for j in probes]
        all_tables.append(tables)
    union_cells = sorted({c for _, c in probe_pairs})
    pm = spark.createDataFrame(
        [(qid, c, qi + 1) for qi, qid in enumerate(qids)
         for (q2, c) in probe_pairs if q2 == qid],
        "query_id long, cell int, qidx int",
    )
    cell_tbl = F.element_at(
        F.element_at(bigint_array_lit(all_tables), F.col("qidx")),
        (F.col("cell") + 1).cast("int"),
    )
    scored = (
        read_table(spark, store)
        .where(F.col("cell").isin(union_cells))
        .join(F.broadcast(pm), "cell")
        .select("query_id", F.col(id_col), _stored_adc(store.meta, cell_tbl).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= topk)
        .select("query_id", id_col, "adc_dist", "rank")
    )


def gram_matrix(
    df: DataFrame,
    vec_col: str,
    *,
    scale: int = 1_000,
    center: bool = True,
) -> tuple[list[list[int]], int]:
    """Exact integer Gram (scatter) matrix of a quantized embedding
    column: G[i][j] = sum_rows c_i * c_j with c = quantize(x) - mean
    (mean-centered when ``center``, integer floor mean — mirrored in
    the oracle). Returns (G as d x d ints, n_rows).

    Distribution shape: ONE pass computing per-dim integer sums (the
    kmeans posexplode idiom) for the mean, then ONE pass exploding each
    row's UPPER-TRIANGLE outer-product cells (d(d+1)/2 — the matrix is
    symmetric, the driver mirrors the lower half) into a (i, j)-keyed
    partial-sum aggregate — map-side combine collapses every partition
    to at most d(d+1)/2 cells, so the shuffle carries O(partitions *
    d^2) regardless of row count. At d in the hundreds switch the cell explode for a
    per-partition mapInPandas Gram (same exact sums); at d = 64 the
    explode stays in whole-stage codegen and is simpler to oracle.
    Driver state is the d^2 integer matrix — bounded."""
    q = df.where(F.col(vec_col).isNotNull()).select(
        _quantize(vec_col, scale).alias("_qv")
    ).transform(pin)
    first = q.first()
    if first is None:
        raise ValueError("gram_matrix: no non-null vectors")
    d = len(first["_qv"])
    n_row = q.count()
    if center:
        sums = (
            q.select(F.posexplode("_qv").alias("pos", "val"))
            .groupBy("pos")
            .agg(F.sum("val").alias("s"))
            .collect()
        )
        mean = [0] * d
        for r in sums:
            mean[int(r["pos"])] = math.floor(float(r["s"]) / n_row)
        mlit = bigint_array_lit(mean)
        c = F.zip_with("_qv", mlit, lambda a, b: a - b)
    else:
        c = F.col("_qv").cast("array<bigint>")
    # the matrix is symmetric (vi*vj == vj*vi, exact integers): emit only
    # the upper triangle — d(d+1)/2 cells per row instead of d^2 — and
    # mirror on the driver. Halves the dominant explode+aggregate pass.
    cells = F.flatten(
        F.transform(
            c,
            lambda vi, i: F.transform(
                F.slice(c, i + 1, F.lit(d)),
                lambda vj, k: F.struct(
                    i.alias("i"), (i + k).alias("j"), (vi * vj).alias("p")
                ),
            ),
        )
    )
    agg = (
        q.select(F.explode(cells).alias("c"))
        .groupBy("c.i", "c.j")
        .agg(F.sum("c.p").alias("g"))
        .collect()
    )
    G = [[0] * d for _ in range(d)]
    for r in agg:
        i, j, g = int(r["i"]), int(r["j"]), int(r["g"])
        G[i][j] = g
        G[j][i] = g
    return G, n_row


def power_iteration_top_pc(
    G: list[list[int]], *, rounds: int = 15, vscale: int = 1_000_000
) -> tuple[list[int], float]:
    """Top eigenvector of an integer Gram matrix by INTEGER-EXACT power
    iteration: G is pre-scaled to <= vscale per entry (floor division),
    v starts as the all-ones vector at vscale, and each round computes
    w = G'v exactly in int64 range then renormalizes v' = floor(w *
    vscale / max|w|) — no floats anywhere until the final Rayleigh
    quotient, so every round (and the returned vector) is reproducible
    bit for bit in any engine, including the unrolled-SQL oracle.
    Returns (v at vscale, rayleigh = v'Gv / (v'v) in the PRE-scaled
    G's units — the top explained scatter).

    Fixed round count, no convergence test: the result is defined as
    "rounds steps of this exact recurrence" (the kmeans determinism
    contract), which is as close to the eigenvector as power iteration
    gets with the dominant-eigenvalue gap — callers needing certified
    convergence compare successive rounds themselves. Driver-side only:
    G is d x d ints (bounded collect from gram_matrix)."""
    d = len(G)
    gmax = max((abs(x) for row in G for x in row), default=0)
    if gmax == 0:
        raise ValueError("power_iteration_top_pc: zero Gram matrix")
    Gs = [[(x * vscale) // gmax for x in row] for row in G]
    v = [vscale] * d
    for _ in range(rounds):
        w = [sum(Gs[i][j] * v[j] for j in range(d)) for i in range(d)]
        wmax = max(abs(x) for x in w)
        if wmax == 0:
            raise ValueError("power_iteration_top_pc: iterate vanished")
        v = [(x * vscale) // wmax for x in w]
    num = sum(
        v[i] * sum(Gs[i][j] * v[j] for j in range(d)) for i in range(d)
    )
    den = sum(x * x for x in v)
    rayleigh = (float(num) / float(den)) * (float(gmax) / float(vscale))
    return v, rayleigh
