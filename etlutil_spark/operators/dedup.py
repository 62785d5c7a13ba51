"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup — all
pure DataFrame ops (no Python UDFs), designed so the only shuffles are the
ones the algorithm fundamentally needs:

  exact        1 shuffle (groupBy hash of the key)
  ngram        explode -> self-join on shingle -> pair agg (skew-prone on
               stop-shingles; ``max_shingle_freq`` drops the head of the
               frequency distribution, the standard trick at corpus scale)
  minhash-lsh  signatures are one groupBy; banding turns all-pairs into
               per-bucket joins — candidates only, verified by exact Jaccard
  simhash      per-doc fingerprint map-side; banded hamming join
  embedding    cosine over array columns; banded by LSH in similarity.py

Hashing is the portable md5-based family from functions.hashing so every
deterministic stage can carry a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etlutil_spark.functions.vectors import bigint_array_lit
from etlutil_spark.functions.hashing import md5_bigint
from etlutil_spark.functions.text import tokens, word_shingles
from etlutil_spark.operators.store import (
    StoreStatus,
    ensure_store,
    open_store,
    read_table,
)
from etlutil_spark.operators.util import ensure_min_partitions, pin
from etlutil_spark.functions.vectors import cosine

# 2^31-ish prime for universal hashing; products stay < 2^63
_MERSENNE31 = 2147483647


def exact_dedup(df: DataFrame, subset: list[str], id_col: str) -> DataFrame:
    """Keep one row per distinct ``subset`` (the min ``id_col`` wins —
    deterministic, unlike dropDuplicates' partition-order winner).

    One shuffle on the dedup key; at 100 TB prefer this over
    ``dropDuplicates`` exactly because the survivor is reproducible."""
    w_cols = [F.col(c) for c in subset]
    return (
        df.groupBy(*w_cols)
        .agg(F.min(F.col(id_col)).alias(id_col))
        .select(id_col, *subset)
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep_regex: str = r"\n{2,}",
    segment_tokens: int | None = None,
    joiner: str | None = None,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the Gopher/MassiveText
    curation stage between doc-level fingerprint dedup and near-dup):
    split every document into paragraphs, keep the FIRST occurrence of
    each distinct paragraph corpus-wide (lowest ``(id, position)`` —
    deterministic, so reruns and engines agree), and reassemble each
    document from its surviving paragraphs in original order.

    Two segmentation modes:
      - ``sep_regex`` (default blank-line): real paragraph markers;
      - ``segment_tokens=k``: fixed k-token pseudo-paragraphs for text
        whose structure markers were stripped upstream (also the
        standard cap for pathologically long paragraphs).

    Returns ``(id_col, text_col, n_paras, n_kept)``; a fully-duplicate
    document stays visible with ``n_kept = 0`` and empty text.

    Scale notes: the survivor is ``min(struct(id, pos))`` per paragraph
    — a hash aggregate with MAP-SIDE partial combine, so a boilerplate
    paragraph duplicated a billion times costs each task one row, where
    the equivalent ``row_number`` window would funnel every copy through
    a single hot reducer. Reassembly and totals are both keyed by id,
    and AQE aligns their partitioning for the final join. The exploded
    frame feeds both aggregates, so it is checkpointed to plan the
    explode once."""
    if segment_tokens is not None:
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        k = int(segment_tokens)
        nseg = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
        paras = F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
        )
        joiner = " " if joiner is None else joiner
    else:
        paras = F.split(F.col(text_col), sep_regex)
        joiner = "\n\n" if joiner is None else joiner
    exploded = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.posexplode(paras).alias("para_idx", "para"))
        .withColumn("para", F.trim("para"))
        .where(F.length("para") > 0)
        .transform(pin)
    )
    winners = exploded.groupBy("para").agg(
        F.min(F.struct(F.col(id_col), F.col("para_idx"))).alias("_w")
    )
    rebuilt = (
        winners.select(
            F.col(f"_w.{id_col}").alias(id_col),
            F.col("_w.para_idx").alias("para_idx"),
            "para",
        )
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
                    lambda s: s["para"],
                ),
                joiner,
            ).alias("_text_kept"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
    )
    totals = exploded.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_paras")
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("_text_kept", F.lit("")).alias(text_col),
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) distinct pairs — the input of the Jaccard family.

    The tokenize+shingle+hash chain is CPU-bound per row, so the input is
    spread to at least defaultParallelism partitions first (no-op when the
    scan already has enough)."""
    return _tokenized(ensure_min_partitions(df), id_col, text_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(text_col, n, pre_tokens="_tk"))
        ).alias("shingle"),
    )


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _tk): each doc tokenized ONCE in a child projection.
    :func:`word_shingles` reads the token array at every n-gram position
    inside its ``transform`` lambda, and common-subexpression elimination
    does not reach lambda bodies, so an inline tokenizer would re-tokenize
    the document once per position."""
    return df.select(F.col(id_col), tokens(text_col).alias("_tk"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, sim >= threshold).

    ``max_shingle_freq`` drops shingles shared by more than that many docs
    before the self-join — at corpus scale the head of the shingle frequency
    distribution is what makes the join quadratic; dropping it bounds each
    join group. (Documents sharing ONLY ultra-common shingles then can't
    pair — acceptable for near-dup detection.) When the cap is set, Jaccard
    is computed over the SURVIVING shingle universe: per-doc set sizes are
    counted from the filtered table so numerator and denominator describe
    the same sets (an unfiltered denominator would systematically
    underestimate similarity and silently drop near-threshold pairs).
    """
    return (
        _capped_pair_stats(df, id_col, text_col, n, max_shingle_freq)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _capped_pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """The Jaccard/containment family's shared pair stage: every
    unordered pair (id_a < id_b) sharing at least one surviving shingle,
    with (n_common, n_a, n_b) counted over the capped shingle universe.
    Both similarity measures (and the cluster store's persisted pairs
    table, schema v2) derive from these three integers."""
    sh = shingle_table(df, id_col, text_col, n)

    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .where(F.col("df_") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, "shingle")

    # ONE materialization of the (capped) shingle table serves the
    # self-join's both sides AND the per-doc size aggregate: without it
    # Catalyst plans each consumer as its own scan->explode->cap subtree
    # (measured: 6 parquet scans + 6 Generate nodes per query, zero
    # ReusedExchange) — at corpus scale that is five redundant full
    # passes. Lazy pin: materializes inside the first consumer's
    # job; storage is one copy of the capped shingle stream, the thing
    # the self-join must hold for its shuffle anyway.
    sh = sh.transform(pin)

    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def _perm_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i odd, b_i golden-ratio
    stepped); the base hash is folded to 31 bits so a*h+b fits signed 64."""
    return [
        (2 * i + 1, (i * 0x9E3779B1) % _MERSENNE31) for i in range(n_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Per-doc MinHash signature: array<bigint> of length num_hashes.

    One explode + one groupBy (see :func:`signatures_from_shingles`)."""
    return signatures_from_shingles(
        shingle_table(df, id_col, text_col, n), id_col, num_hashes=num_hashes
    )


def signatures_from_shingles(
    sh: DataFrame, id_col: str, *, num_hashes: int = 32
) -> DataFrame:
    """Sketch an (id, shingle) frame into (id, signature) — the hashing
    half of :func:`minhash_signatures`, split out so a caller holding
    shingles already (the streaming screen's pinned shingle sets) sketches
    without re-tokenizing.

    The md5 base hash is computed ONCE per shingle in the aggregate's
    child projection; each permutation is the cheap ``(a_i*h + b_i) mod
    p`` INSIDE its min() — inlining the md5 into all num_hashes columns
    would both recompute it and push the generated code past janino's
    64 KB method limit (whole-stage codegen falls back to the interpreted
    path)."""
    hashed = sh.select(
        id_col, (md5_bigint(F.col("shingle")) % F.lit(_MERSENNE31)).alias("h31")
    )
    # one F.expr per permutation (not a Column tree): integer math parses to
    # the identical expression, and single-string parsing avoids the ~8 py4j
    # round-trips per column that made plan construction the visible cost of
    # this operator at interactive scale
    mins = hashed.groupBy(id_col).agg(
        *[
            F.expr(f"min((h31 * {a}L + {b}L) % {_MERSENNE31}L)").alias(f"h{i}")
            for i, (a, b) in enumerate(_perm_coeffs(num_hashes))
        ]
    )
    return mins.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def bands_from_signatures(
    sig: DataFrame, id_col: str, *, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Band an existing (id, signature) frame into (id, band_idx,
    band_hash) rows — the banding half of :func:`minhash_band_index`,
    split out so a PERSISTED signature table (the MinHash family store)
    can be banded without re-sketching the corpus."""
    band_structs = F.expr(
        "array(" + ", ".join(
            f"named_struct('band_idx', {i}, 'band_hash', {h})"
            for i, h in enumerate(_band_hash_sql(num_hashes, bands))
        ) + ")"
    )
    return sig.select(id_col, F.explode(band_structs).alias("band")).select(
        id_col, "band.band_idx", "band.band_hash"
    )


def band_hashes(*, num_hashes: int = 32, bands: int = 8) -> Column:
    """A ``signature`` column's band hashes, one array<bigint> indexed by
    band_idx: the per-doc form of :func:`bands_from_signatures`."""
    return F.expr(f"array({', '.join(_band_hash_sql(num_hashes, bands))})")


def _band_hash_sql(num_hashes: int, bands: int) -> list[str]:
    """Each band's hash: xxhash64 over its consecutive signature entries."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows = num_hashes // bands
    return [f"xxhash64({', '.join(f'signature[{i * rows + j}]' for j in range(rows))})" for i in range(bands)]


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The STORABLE LSH index: (id, band_idx, band_hash), one row per
    band per doc. Write it partitioned by band_idx once per corpus
    snapshot and every future batch screens against it without
    re-sketching the corpus (see ``screen_against_corpus``)."""
    sig = minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes)
    return bands_from_signatures(sig, id_col, num_hashes=num_hashes, bands=bands)


def band_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs (id_a < id_b) of an (id, band_idx, band_hash)
    frame: two docs collide when any band of their signatures is
    identical — the banding half of :func:`minhash_lsh_pairs`, split out
    so stored or pinned band rows are joined without re-sketching. The
    join groups by (band_idx, band_hash): no all-pairs stage anywhere,
    which is the whole point at 100 TB."""
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def probe_band_index(
    new_bands: DataFrame, corpus_index: DataFrame, id_col: str
) -> DataFrame:
    """Candidate (new_id, corpus_id) pairs: the new docs' band rows
    BROADCAST against the corpus band index, so the probe is a map-side
    hash-join over the index scan with no corpus shuffle — the banding
    half of :func:`screen_against_corpus`. Both inputs are (id, band_idx,
    band_hash) frames."""
    new = new_bands.select(F.col(id_col).alias("new_id"), "band_idx", "band_hash")
    corpus = corpus_index.select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_hash"
    )
    return (
        corpus.join(F.broadcast(new), ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, s): each doc's distinct word n-gram shingles as one array —
    the per-doc form of :func:`shingle_table`, intersected pairwise by
    :func:`jaccard_verify`."""
    return _tokenized(df, id_col, text_col).select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, n, pre_tokens="_tk")).alias("s"),
    )


def candidate_sets(
    docs: DataFrame,
    ids: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    *,
    spread: bool = True,
) -> DataFrame:
    """Shingle sets of only the docs whose id is in ``ids`` (a small
    candidate-id frame, broadcast as a semi-join filter), so verification
    re-shingles candidate docs, never the corpus. ``spread`` first
    round-robins the kept docs to defaultParallelism partitions
    (:func:`ensure_min_partitions`); a caller that knows the candidates
    are few passes False and skips that call's partition-count probe.

    NO size(s) > 0 guard here: a doc with zero shingles has no signature
    and can never be a candidate, so the predicate is redundant — and
    worse, Catalyst pushes it below the semi-join, evaluating the entire
    shingle pipeline against every corpus doc (the exact cost the
    semi-join exists to avoid)."""
    keep = docs.join(F.broadcast(ids), id_col, "left_semi")
    if spread:
        keep = ensure_min_partitions(keep)
    return shingle_sets(keep, id_col, text_col, n)


def jaccard_verify(
    cands: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_col: str,
    a: str = "id_a",
    b: str = "id_b",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Exact Jaccard (rounded to 6 places) of each candidate pair (a, b),
    from the two sides' (id, s) shingle sets — the one verify step of the
    MinHash family: per-pair array_intersect, so only |cands| pairs pay
    for it, never every overlapping pair of the corpus. ``keys``: more
    columns of ``cands`` and ``sets_b`` that key a b-side set with ``b``.
    NO threshold filter; callers filter ``jaccard >= t``."""
    sa = sets_a.select(F.col(id_col).alias(a), F.col("s").alias(f"s_{a}"))
    sb = sets_b.select(F.col(id_col).alias(b), *keys, F.col("s").alias(f"s_{b}"))
    inter = F.size(F.array_intersect(F.col(f"s_{a}"), F.col(f"s_{b}")))
    jac = F.round(inter / (F.size(f"s_{a}") + F.size(f"s_{b}") - inter), 6)
    return (
        cands.join(sa, a)
        .join(sb, [b, *keys])
        .withColumn("jaccard", jac)
        .select(a, b, *keys, "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float | None = 0.7,
) -> DataFrame:
    """LSH candidate pairs via banding, optionally verified by exact Jaccard.

    rows = num_hashes/bands per band; two docs collide when any band of
    their signatures is identical (:func:`band_pairs`). Returns
    (id_a, id_b[, jaccard])."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    banded = minhash_band_index(
        df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    cands = band_pairs(banded, id_col)
    if verify_threshold is None:
        return cands
    return verify_candidate_pairs(df, cands, id_col, text_col, n=n).where(
        F.col("jaccard") >= verify_threshold
    )


def verify_candidate_pairs(
    df: DataFrame,
    cands: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard for each candidate pair (id_a, id_b) — the verify
    stage of :func:`minhash_lsh_pairs`, split out so the MinHash family
    store can persist verified candidates once. NO threshold filter here;
    callers filter ``jaccard >= t`` (the predicate pushes to a store
    scan).

    The candidate set is MATERIALIZED LAZILY (localCheckpoint(eager=False)
    — it is tiny after banding) and its id set broadcast as a semi-join
    filter on the doc table, so re-shingling touches ONLY candidate docs
    (:func:`candidate_sets`). cands is referenced twice (broadcast-id
    side + pair-join probe side); the checkpoint computes banding once
    and — critically — truncates the LOGICAL plan immediately: the
    banding subtree (32 signature exprs + band structs) otherwise
    re-enters every downstream DataFrame op and each one pays multi-second
    re-analysis (measured 6.7 s of pure plan build at sf0.1). eager=False
    defers the actual job to the first action. The verify joins are then
    small-table joins instead of two full-corpus shuffles of array<string>
    payloads — the difference between sf0.1 and 100 TB survivability."""
    cands = cands.transform(pin)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_ = candidate_sets(df, cand_ids, id_col, text_col, n)
    return jaccard_verify(cands, sets_, sets_, id_col)


def screen_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float | None = 0.7,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: which NEW docs are near-dups of the EXISTING
    corpus? Returns (new_id, corpus_id[, jaccard]).

    This is the production shape of LSH dedup at 100 TB — corpora are
    curated incrementally, and re-deduping the whole corpus per batch
    (minhash_lsh_pairs over the union) redoes O(corpus) work for an
    O(batch) question. Here the corpus contributes only its stored band
    INDEX (pass ``corpus_index`` from ``minhash_band_index``, written
    partitioned by band_idx at snapshot time; computed on the fly when
    omitted, e.g. in oracle twins), and the batch's bands — thousands of
    rows, not billions — are BROADCAST against it
    (:func:`probe_band_index`). Verification then re-shingles only the
    (batch x matched-corpus) candidate docs via broadcast semi-joins,
    exactly the minhash_lsh_pairs candidate-only discipline.

    Identity collisions are the caller's concern: ids must be unique
    across both frames (output pairs are (new, corpus), not ordered)."""
    new_bands = minhash_band_index(
        new_docs, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    if corpus_index is None:
        corpus_index = minhash_band_index(
            corpus_docs, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
        )
    cands = probe_band_index(new_bands, corpus_index, id_col)
    if verify_threshold is None:
        return cands
    # lazy checkpoint for the same two reasons as minhash_lsh_pairs:
    # cands is referenced by both verify sides, and truncating the plan
    # stops the banding subtree re-entering every downstream op
    cands = cands.transform(pin)

    def side_sets(docs: DataFrame, side: str) -> DataFrame:
        ids = cands.select(F.col(side).alias(id_col))
        return candidate_sets(docs, ids, id_col, text_col, n)

    return jaccard_verify(
        cands,
        side_sets(new_docs, "new_id"),
        side_sets(corpus_docs, "corpus_id"),
        id_col,
        "new_id",
        "corpus_id",
    ).where(F.col("jaccard") >= verify_threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 32) -> DataFrame:
    """Per-doc SimHash fingerprint (bigint of ``bits`` bits).

    Token -> portable 60-bit hash -> per-bit +/-1 votes summed across the
    doc via one array-accumulator aggregate (flat codegen, zero shuffle);
    sign of each counter becomes the fingerprint bit."""
    tok = F.array_distinct(tokens(text_col))
    zero = F.array_repeat(F.lit(0), bits)
    # shiftleft/shiftright need literal shift amounts, so carry the bit
    # positions as a literal powers-of-two array and test bits via AND
    # (one parsed SQL literal — F.lit per element costs a py4j trip each)
    pows = bigint_array_lit([1 << j for j in range(bits)])
    # materialize one hash PER TOKEN before folding, so a single md5 per
    # token is guaranteed by construction (not left to whether the engine
    # CSEs the md5 subtree across the ``bits`` per-bit lambda elements —
    # measured: current Catalyst does, so this is shape-insurance, not a
    # speedup; the operator's cost at sf0.1 is the ~1M-pair banding join
    # output, which is output-bound, not fingerprint-bound)
    hashes = F.transform(tok, lambda t: md5_bigint(t))

    def bit_votes(h: Column) -> Column:
        return F.transform(
            pows,
            lambda p: F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )

    counters = F.aggregate(
        hashes, zero, lambda acc, h: F.zip_with(acc, bit_votes(h), lambda x, y: x + y)
    )
    fingerprint = F.aggregate(
        F.zip_with(
            counters,
            pows,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return ensure_min_partitions(df).select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding: split the fingerprint into ``bands`` slices; any
    pair within max_hamming < bands distance agrees on >= 1 slice, so the
    join is per-slice equality, never all-pairs. Verified with bit_count."""
    if bits % bands:
        raise ValueError("bands must divide bits")
    if max_hamming >= bands:
        # the pigeonhole guarantee (>= 1 identical band) only holds for
        # distances strictly below the band count — beyond it the banding
        # join silently misses qualifying pairs
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}); "
            "raise bands (or bits) to search larger hamming radii"
        )
    width = bits // bands
    # the fingerprint table feeds BOTH self-join sides: pinned so the
    # md5-per-token fingerprint pass (the expensive part) runs once, not
    # once per side — one (id, simhash) row per doc, the cheapest frame
    # in the pipeline to hold
    sh = simhash(df, id_col, text_col, bits=bits).transform(pin)
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                (F.shiftright(F.col("simhash"), i * width) % F.lit(mask + 1)).alias(
                    "band_val"
                ),
            )
            for i in range(bands)
        ]
    )
    banded = sh.select(id_col, "simhash", F.explode(slices).alias("b")).select(
        id_col, "simhash", "b.band_idx", "b.band_val"
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band_idx", "band_val"
    )
    # hamming filter BEFORE the dedup `distinct`: the filter is a cheap
    # map-side expression and drops the overwhelming share of band
    # collisions (random collisions sit near bits/2 hamming, far above
    # max_hamming), so the distinct's exchange carries only qualifying
    # pairs instead of the full ~n^2/2^width candidate volume (guide
    # §2.3: shuffle fewer bytes). Identical rows out: simhash is
    # functionally determined by id (one fingerprint per doc), so
    # distinct over (id_a, id_b, hamming) equals the old
    # distinct-then-filter over (id_a, id_b, sh_a, sh_b).
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs cosine near-dup (id_a < id_b, sim >= threshold, rounded).

    This is the EXACT baseline: O(n^2) dot products, fine for verification
    scale. The scale path is similarity.ann_lsh_pairs (hyperplane LSH)."""
    docs = ensure_min_partitions(docs)
    a = docs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = docs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_lsh_near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via hyperplane LSH — the scale path for
    ``embedding_near_dup_pairs``: candidates are restricted to bucket pairs
    within hamming distance 1 (same probe-explode as similarity.knn_join),
    so the join is per-bucket equi, never all-pairs. Approximate by design:
    pairs whose buckets differ in >1 bit are not considered.

    ``n_planes=None`` (default) sizes the bucket count from the corpus row
    count (similarity.adaptive_n_planes) so per-bucket pair volume stays
    bounded as the corpus grows; pass an explicit value when an oracle twin
    must share the plane literals.

    ``id_a < id_b`` canonicalizes each unordered pair exactly once (each
    pair is seen from both sides of the self-join; the probe buckets of one
    row are pairwise-distinct so no per-side duplicates arise either)."""
    from etlutil_spark.operators.similarity import lsh_candidate_pairs

    pairs, cos_sim = lsh_candidate_pairs(
        docs, docs, F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
        vec_col=vec_col, n_planes=n_planes, seed=seed,
    )
    return (
        pairs.where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos_sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def duplicate_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list: (member_id,
    cluster_id) where cluster_id = min id reachable through pairs.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — replacing r1-r8's min-label
    propagation, whose O(component diameter) round count dies on
    chain-shaped components (template drift: page A ≈ B ≈ C ≈ ... with
    only consecutive-pair edges; a 500-doc chain needed 500 rounds under
    the old algorithm and hit the cap). Star rounds HALVE path lengths
    (pointer doubling through each neighborhood's minimum), so the
    round count is O(log n) REGARDLESS of diameter:

    * large-star: for every node u, attach each STRICTLY LARGER
      neighbor to m = min(N(u) ∪ {u}) — one groupBy-min + one keyed
      join per round.
    * small-star: orient every edge (max, min); attach each neighbor
      (all ≤ u) and u itself to m — same two shuffles.

    Both operations preserve connectivity exactly (each replaced edge
    (u,v) is bridged by the new edges through m), so the fixpoint —
    every component a star centered on its minimum id — yields the same
    min-reachable labeling as the recursive-CTE oracle. Convergence is
    detected by an order-insensitive edge-set checksum (count + sum of
    per-edge hashes); localCheckpoint() per round truncates the lineage
    so round N never replays rounds 1..N-1 (the classic iterative-Spark
    trap). The driver only ever holds two scalars per round.

    The driver-side loop makes this the one operator family that is NOT
    a single declarative plan — matched in the oracle by a recursive
    CTE. Guarded by tests/test_skew_stress.py (chain corpus: converges
    in ≤ 2 log2(n) star rounds where min-label propagation provably
    could not).
    """
    # all checkpoints in this loop are LAZY (eager=False): each round's
    # convergence-checksum collect is the first action on the new edge
    # set, so materialization rides that job instead of scheduling a
    # separate one per round — at O(log n) rounds this halves the
    # operator's job count without changing what is computed or when
    # lineage is truncated.
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(pin)
    )
    # every input node, kept aside so isolated-after-star-contraction
    # roots still emit a row (a component's min labels itself)
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .transform(pin)
    )

    def _large_star(e: DataFrame) -> DataFrame:
        nbrs = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        return (
            nbrs.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        nbrs = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        att = nbrs.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        return (
            att.union(m.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _checksum(e: DataFrame):
        # count + XOR of per-edge hashes: order-insensitive, exact on
        # the post-distinct edge set, and (unlike SUM) cannot overflow
        # under ANSI mode on a billion-edge graph
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev_sum = _checksum(edges)
    converged = False
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).transform(pin)
        cur_sum = _checksum(edges)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # silent unconverged labels would diverge from exact transitive
        # closure; with O(log n) convergence this cap only trips on a
        # genuinely pathological input — fail loudly, never mislabel
        raise RuntimeError(
            f"duplicate_clusters did not converge within {max_iterations} "
            "star rounds — raise max_iterations"
        )
    # fixpoint: edges are stars (non-root -> component min); roots
    # appear only on the v side and label themselves
    return nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("label")),
        "node",
        "left",
    ).select(
        F.col("node").alias("member_id"),
        F.coalesce("label", F.col("node")).alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# Persisted near-dup cluster-map store: the dedup twin of the postings /
# IVF / histogram serving stores. The audit family (agreement, impact,
# cluster sizes, cross-source matrix, threshold sweep, split leakage)
# reads the SAME two primitives — the capped candidate-pair table and the
# connected-components cluster map — so materializing them once turns five
# full pair-stage + CC recomputations into five partition-pruned parquet
# scans. Layout:
#
#   pairs/     id_a, id_b, jaccard   (threshold 0.0 over the capped
#                                     shingle universe — every candidate
#                                     pair, so any downstream threshold
#                                     filters)
#   clusters/  member_id, cluster_id (CC over pairs >= threshold)
#
# inside each version of the store (operators/store.py).
# ---------------------------------------------------------------------------


def build_cluster_store(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 50,
) -> None:
    """Materialize the candidate-pair table and the near-dup cluster map
    under ``path`` (overwrite-always; see :func:`ensure_cluster_store`
    for the build-once wrapper). The pair stage runs ONCE at threshold
    0.0 — every candidate pair surviving the stop-shingle cap — and the
    CC stage reads the PERSISTED pairs back, so the expensive capped
    self-join is never executed twice.

    Pairs schema v2 (r12 verdict item 3): alongside the rounded jaccard,
    the table carries the raw set statistics (n_common, n_a, n_b), so
    BOTH similarity measures of the family are pure column arithmetic
    over the stored ints — dedup_containment reads the same store the
    jaccard-threshold family does instead of re-running the capped
    self-join live."""
    base = path.rstrip("/")
    pairs = _capped_pair_stats(
        docs, id_col, text_col, n, max_shingle_freq
    ).withColumn(
        "jaccard",
        F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            6,
        ),
    )
    pairs.write.mode("overwrite").parquet(base + "/pairs")
    spark = docs.sparkSession
    verified = spark.read.parquet(base + "/pairs").where(
        F.col("jaccard") >= F.lit(float(threshold))
    )
    duplicate_clusters(verified).write.mode("overwrite").parquet(
        base + "/clusters"
    )


def ensure_cluster_store(
    spark,
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 50,
) -> StoreStatus:
    """Build-once wrapper around :func:`build_cluster_store` under the
    shared store contract (:func:`etlutil_spark.operators.store.ensure_store`):
    reused while the params and the docs' content digest match, rebuilt
    into a new version otherwise."""
    params = {
        "id_col": id_col,
        "text_col": text_col,
        "n": int(n),
        "threshold": float(threshold),
        "max_shingle_freq": (
            int(max_shingle_freq) if max_shingle_freq is not None else None
        ),
        # layout version: v2 pairs carry (n_common, n_a, n_b) next to
        # jaccard (r12 verdict item 3) — bumping this forces any v1 store
        # to read as a param mismatch and rebuild
        "pairs_schema": 2,
    }
    return ensure_store(
        spark, path, "cluster", params, docs,
        lambda tmp: build_cluster_store(
            docs, tmp, id_col=id_col, text_col=text_col, n=n,
            threshold=threshold, max_shingle_freq=max_shingle_freq,
        ),
    )


def read_cluster_pairs(spark, path: str) -> DataFrame:
    """The store's candidate-pair table (id_a, id_b, n_common, n_a, n_b,
    jaccard; schema v2) — every capped candidate pair at threshold 0.0;
    filter ``jaccard >= t`` (or derive containment from the raw stats)
    for any downstream threshold (the predicate pushes to the scan)."""
    return read_table(spark, open_store(spark, path, "cluster"), "pairs")


def read_cluster_map(spark, path: str) -> DataFrame:
    """The store's cluster map (member_id, cluster_id) — the connected
    components of the verified pairs at the store's build threshold."""
    return read_table(spark, open_store(spark, path, "cluster"), "clusters")


# ---------------------------------------------------------------------------
# MinHash family store: one signature materialization + one banded-candidate
# verification serving the whole MinHash acceptance family (production pairs,
# recall, S-curve bins, estimator calibration, ARI's LSH leg). Before this
# store, each of those five queries re-sketched the corpus — the pattern,
# not the seconds, is what matters at 100 TB, where a signature pass is a
# full corpus scan.
# ---------------------------------------------------------------------------


def build_minhash_store(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Materialize the MinHash family store at ``path``:

    - ``signatures/`` — (id, signature array<bigint>): ONE sketch pass
      over the corpus; every consumer that needs signatures reads this
      instead of re-hashing shingles.
    - ``cands/`` — (id_a, id_b, jaccard): ALL banding candidate pairs
      (band collision at the store's (num_hashes, bands) config) with
      their EXACT verified Jaccard, no threshold — readers bind
      ``jaccard >= t`` as a pushed filter for any downstream threshold,
      the same all-thresholds-one-store contract as the cluster store's
      pairs table.

    Candidacy and Jaccard are PER-PAIR properties (a band collision
    depends only on the two signatures; Jaccard only on the two shingle
    sets), so any id-predicate restriction of ``cands/`` equals the
    pipeline run on that restricted corpus — which is what lets the
    sampled eval queries (recall, S-curve bins) read the same store the
    production pair query reads. Banding runs over the PERSISTED
    signatures (one corpus sketch total); verification touches candidate
    docs only."""
    base = path.rstrip("/")
    spark = docs.sparkSession
    minhash_signatures(
        docs, id_col, text_col, n=n, num_hashes=num_hashes
    ).write.mode("overwrite").parquet(base + "/signatures")
    sig = spark.read.parquet(base + "/signatures")
    banded = bands_from_signatures(
        sig, id_col, num_hashes=num_hashes, bands=bands
    )
    verify_candidate_pairs(
        docs, band_pairs(banded, id_col), id_col, text_col, n=n
    ).write.mode("overwrite").parquet(base + "/cands")


def ensure_minhash_store(
    spark,
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> StoreStatus:
    """Build-once wrapper around :func:`build_minhash_store` under the
    shared store contract (see :func:`ensure_cluster_store`)."""
    params = {
        "id_col": id_col,
        "text_col": text_col,
        "n": int(n),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
    }
    return ensure_store(
        spark, path, "minhash", params, docs,
        lambda tmp: build_minhash_store(
            docs, tmp, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, bands=bands,
        ),
    )


def read_minhash_signatures(spark, path: str) -> DataFrame:
    """The store's signature table (id, signature array<bigint>)."""
    return read_table(spark, open_store(spark, path, "minhash"), "signatures")


def read_minhash_cands(spark, path: str) -> DataFrame:
    """The store's verified candidate pairs (id_a, id_b, jaccard) — every
    banding candidate at the store's config; filter ``jaccard >= t`` for
    any downstream verify threshold (the predicate pushes to the scan)."""
    return read_table(spark, open_store(spark, path, "minhash"), "cands")


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs — the excerpt/quote detector
    Jaccard structurally misses: a 50-token passage copied into a
    5000-token page has Jaccard ~0.01 but containment ~1.0 from the
    short side. For each unordered pair (id_a < id_b) sharing shingles,
    emit both directions — ``containment(X in Y) = |shingles(X) n
    shingles(Y)| / |shingles(X)|`` — and keep pairs where either
    direction reaches ``threshold``.

    Same scale posture as ngram_jaccard_pairs (same shingle equi-join,
    same quadratic-group risk): ``max_shingle_freq`` drops the
    stop-shingle head to bound every join group, and containment is then
    measured over the surviving shingle universe on both sides so the
    numerator and denominators describe the same sets. Shares the
    :func:`_capped_pair_stats` stage with ngram_jaccard_pairs — both
    measures are pure column arithmetic over (n_common, n_a, n_b), which
    is also why the cluster store's v2 pairs table can serve either
    (see :func:`containment_from_pair_stats`).
    """
    return containment_from_pair_stats(
        _capped_pair_stats(df, id_col, text_col, n, max_shingle_freq),
        threshold=threshold,
    )


def containment_from_pair_stats(
    stats: DataFrame, *, threshold: float
) -> DataFrame:
    """Containment columns + threshold filter over a (id_a, id_b,
    n_common, n_a, n_b) pair-stats frame — live (:func:`containment_pairs`)
    or persisted (the cluster store's v2 pairs table)."""
    cont_ab = F.round(F.col("n_common") / F.col("n_a"), 6)
    cont_ba = F.round(F.col("n_common") / F.col("n_b"), 6)
    return (
        stats.withColumn("cont_a_in_b", cont_ab)
        .withColumn("cont_b_in_a", cont_ba)
        .where(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= F.lit(float(threshold))
        )
        .select("id_a", "id_b", "n_common", "cont_a_in_b", "cont_b_in_a")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_len: int = 12,
    max_gram_freq: int = 50,
) -> DataFrame:
    """MAXIMAL cross-document duplicated token spans — exact-substring
    dedup at finer-than-shingle grain (the Lee et al. 2022 suffix-array
    primitive, re-expressed as seed-and-chain so it distributes):
    docs_dup_span_fraction answers "how much of this doc is duplicated
    somewhere"; this answers "WHICH exact spans are shared with WHOM
    and how long are they" — the span list an exact-substring cut stage
    consumes.

    Returns one row per maximal duplicated span instance:
    (id_a, id_b, a_start, b_start, span_tokens), id_a < id_b, spans of
    at least ``min_len`` tokens (>= ``k``, the seed width).

    How it distributes (vs. a suffix array, which needs a global sorted
    order no cluster shuffle provides cheaply):
    1. per-doc k-gram seed table (position, hash) built MAP-SIDE from
       each doc's token array (one transform, no token-level explode);
    2. seeds join cross-doc on hash — a duplicated span of length L
       yields L-k+1 seed matches on ONE (id_a, id_b, a_pos - b_pos)
       diagonal; ``max_gram_freq`` drops boilerplate grams before the
       join so pair volume is bounded by duplicate mass, not by the
       quadratic blowup of hot shingles (the stop-shingle cap);
    3. consecutive seeds on a diagonal merge into maximal runs with the
       gaps-and-islands window (pos - row_number is constant within a
       run), giving span_tokens = run_length + k - 1 exactly.

    Everything after the seed join is bounded by duplicate volume. All
    arithmetic is integer; the portable md5 gram hash makes the span
    list engine-reproducible bit for bit."""
    if k < 2 or min_len < k:
        raise ValueError(f"need k >= 2 and min_len >= k, got k={k} min_len={min_len}")
    t = ensure_min_partitions(df).select(
        F.col(id_col), tokens(text_col).alias("_tk")
    )
    return _seed_spans(t, id_col, k=k, min_len=min_len, max_gram_freq=max_gram_freq)


def _seed_spans(
    t: DataFrame,
    id_col: str,
    *,
    k: int,
    min_len: int,
    max_gram_freq: int,
) -> DataFrame:
    """Seed-and-chain span mining over a prebuilt (id, _tk) token table
    (shared with :func:`cut_duplicate_spans`, which also needs the token
    counts — one tokenization pass serves both)."""
    sh = t.where(F.size("_tk") >= k).select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_tk) - {k - 1}), i -> struct("
                "cast(i as bigint) as p, "
                f"cast(conv(substring(md5(concat_ws(' ', slice(_tk, i, {k}))), 1, 15), 16, 10) as bigint) as h))"
            )
        ).alias("_s"),
    ).select("_id", "_s.p", "_s.h").transform(pin)
    keep = (
        sh.groupBy("h")
        .agg(
            F.count("*").alias("c"),
            F.count_distinct("_id").alias("nd"),
        )
        .where((F.col("nd") >= 2) & (F.col("c") <= max_gram_freq))
        .select("h")
    )
    # the cap-filtered seed table feeds BOTH self-join sides: pin it so
    # the frequency aggregate + semi-join run once, not once per side
    flt = sh.join(keep, "h", "left_semi").transform(pin)
    seeds = (
        flt.alias("a")
        .join(flt.alias("b"), "h")
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.p").alias("pa"),
            F.col("b.p").alias("pb"),
            (F.col("a.p") - F.col("b.p")).alias("diag"),
        )
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        seeds.withColumn("isl", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).cast("bigint").alias("span_tokens"),
        )
    )
    return runs.where(F.col("span_tokens") >= min_len).select(
        "id_a", "id_b", "a_start", "b_start", "span_tokens"
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_len: int = 12,
    max_gram_freq: int = 50,
) -> DataFrame:
    """The CUT half of exact-substring dedup (Lee et al. 2022: find the
    duplicated spans, then REMOVE one copy and keep the other):
    :func:`duplicate_spans` supplies the span list; this stage cuts each
    span from the HIGHER doc id — keep-first-occurrence, the same
    deterministic survivor rule the exact/minhash families use — merges
    overlapping or touching cut intervals per doc (a doc duplicated
    against many partners gets ONE union mask, not double-counted
    cuts), and reports per-doc cut accounting:

        (id, n_tokens, cut_tokens, kept_fraction)

    kept_fraction = (n_tokens - |interval union|) / n_tokens; docs with
    no duplicated span pass through with cut_tokens = 0.

    Interval union is the gaps-and-islands sweep: per doc, intervals
    sorted by start, an island opens where start > max(previous ends)
    (running-max window over only the CUT intervals — bounded by
    duplicate volume, never by token count). A production rewrite stage
    maps the union back onto the original characters (the
    strip_boilerplate_prefixes anchoring trick); the accounting here is
    what the curation decision (drop vs cut vs keep) consumes."""
    if k < 2 or min_len < k:
        raise ValueError(f"need k >= 2 and min_len >= k, got k={k} min_len={min_len}")
    # ONE tokenization pass serves the span search AND the per-doc token
    # counts (the old form re-tokenized the corpus for the base table)
    t = ensure_min_partitions(df).select(
        F.col(id_col), tokens(text_col).alias("_tk")
    ).transform(pin)
    spans = _seed_spans(
        t, id_col, k=k, min_len=min_len, max_gram_freq=max_gram_freq
    )
    cuts = spans.select(
        F.col("id_b").alias("_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_tokens")).alias("e"),
    )
    w = Window.partitionBy("_id").orderBy("s", "e")
    pme = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = F.sum(
        F.when(pme.isNull() | (F.col("s") > pme), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (
        cuts.withColumn("isl", isl)
        .groupBy("_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    cut = iv.groupBy("_id").agg(
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("cut_tokens")
    )
    base = t.select(
        F.col(id_col), F.size("_tk").cast("bigint").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    return base.join(
        cut.withColumnRenamed("_id", id_col), id_col, "left"
    ).select(
        id_col,
        "n_tokens",
        F.coalesce("cut_tokens", F.lit(0)).cast("bigint").alias("cut_tokens"),
        F.round(
            (F.col("n_tokens") - F.coalesce("cut_tokens", F.lit(0)))
            / F.col("n_tokens"),
            6,
        ).alias("kept_fraction"),
    )


def self_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_len: int = 12,
    max_gram_freq: int = 50,
) -> DataFrame:
    """Maximal WITHIN-document repeated token spans — the intra-doc
    case of exact-substring dedup (:func:`duplicate_spans` covers
    cross-doc): a span that appears twice in the same document is the
    fingerprint of template boilerplate, scraper loops, or model
    generation cycles, and token-ratio signals (quality_score's ``dup``)
    only say THAT a doc repeats, not which span or how long. Same
    seed-and-chain shape: per-doc k-gram table, self-join on (id, hash)
    with p_a < p_b (each repeated pair appears once), consecutive seeds
    on an (id, offset) diagonal merge via gaps-and-islands into maximal
    runs of span run+k-1. ``max_gram_freq`` caps a gram's PER-DOC
    occurrences before the self-join (a doc of one token repeated n
    times would otherwise seed n^2/2 pairs).

    Returns one row per repeated-span instance:
    (id, first_start, second_start, offset, span_tokens), spans >=
    min_len, offset = second_start - first_start > 0."""
    if k < 2 or min_len < k:
        raise ValueError(f"need k >= 2 and min_len >= k, got k={k} min_len={min_len}")
    t = ensure_min_partitions(df).select(
        F.col(id_col), tokens(text_col).alias("_tk")
    )
    sh = t.where(F.size("_tk") >= k).select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_tk) - {k - 1}), i -> struct("
                "cast(i as bigint) as p, "
                f"cast(conv(substring(md5(concat_ws(' ', slice(_tk, i, {k}))), 1, {15}), 16, 10) as bigint) as h))"
            )
        ).alias("_s"),
    ).select("_id", "_s.p", "_s.h").transform(pin)
    keep = (
        sh.groupBy("_id", "h")
        .agg(F.count("*").alias("c"))
        .where((F.col("c") >= 2) & (F.col("c") <= max_gram_freq))
        .select("_id", "h")
    )
    # the cap-filtered seed table feeds BOTH self-join sides: pin it so
    # the frequency aggregate + semi-join run once, not once per side
    fs = sh.join(keep, ["_id", "h"], "left_semi").transform(pin)
    seeds = (
        fs.alias("a")
        .join(fs.alias("b"), ["_id", "h"])
        .where(F.col("a.p") < F.col("b.p"))
        .select(
            F.col("_id"),
            F.col("a.p").alias("pa"),
            (F.col("b.p") - F.col("a.p")).alias("off"),
        )
    )
    w = Window.partitionBy("_id", "off").orderBy("pa")
    runs = (
        seeds.withColumn("isl", F.col("pa") - F.row_number().over(w))
        .groupBy("_id", "off", "isl")
        .agg(
            F.min("pa").alias("first_start"),
            (F.count("*") + F.lit(k - 1)).cast("bigint").alias("span_tokens"),
        )
    )
    return runs.where(F.col("span_tokens") >= min_len).select(
        F.col("_id").alias(id_col),
        "first_start",
        (F.col("first_start") + F.col("off")).alias("second_start"),
        F.col("off").alias("offset"),
        "span_tokens",
    )


def lsh_banding_plan(
    threshold: float, num_hashes: int = 32
) -> dict[str, float | int]:
    """Pick the banding (bands, rows) for a target Jaccard threshold —
    the driver-side planner for minhash_lsh_pairs: among divisors of
    ``num_hashes``, choose the banding whose S-curve midpoint
    s50 = (1/bands)^(1/rows) sits closest to ``threshold`` (the
    classic MMDS rule). Returns bands/rows/s50; pair with the
    dedup_lsh_scurve catalog query (the full theoretical curve) and
    dedup_minhash_recall (the measured curve) to close the loop:
    plan -> predict -> measure."""
    if not 0 < threshold < 1:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        s50 = (1.0 / bands) ** (1.0 / rows)
        gap = abs(s50 - threshold)
        if best is None or gap < best[0]:
            best = (gap, bands, rows, s50)
    return {"bands": best[1], "rows": best[2], "s50": round(best[3], 6)}
