"""Document-level text analysis for training-data pipelines.

Profiles a text column in ONE projection (no shuffle): token stats,
quality heuristics, language ID, content fingerprint. All built on the
SQL-portable column functions in functions.text, so the whole profile
carries a DuckDB oracle.
"""

from __future__ import annotations

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

from etlutil_spark.functions import text as X


def profile_documents(
    df: DataFrame, text_col: str = "text", *, lang_hint_col: str | None = None
) -> DataFrame:
    """Append the full text-analysis profile to each row.

    Columns added: n_tokens, n_chars_text, est_bpe_tokens, alpha_ratio,
    mean_word_len, stopword_ratio_en, quality, lang_pred, fingerprint.

    Tokenization happens ONCE (shared ``pre_tokens`` column): codegen size
    scales with the expression tree, and nine statistics each carrying
    their own tokenizer copy made compile time, not row work, the cost."""
    tk = df.withColumn("__tk", X.tokens(text_col))
    out = tk.withColumns(
        {
            "n_tokens": X.token_count(text_col, pre_tokens="__tk"),
            "n_chars_text": X.char_count(text_col),
            "est_bpe_tokens": X.bpe_ish_token_count(text_col, pre_tokens="__tk"),
            "alpha_ratio": F.round(X.alpha_ratio(text_col), 6),
            "mean_word_len": F.round(
                X.mean_word_len(text_col, pre_tokens="__tk"), 6
            ),
            "stopword_ratio_en": F.round(
                X.stopword_ratio(text_col, "en", pre_tokens="__tk"), 6
            ),
            "quality": X.quality_score(text_col, pre_tokens="__tk"),
            "lang_pred": X.lang_id(text_col, pre_tokens="__tk"),
            "fingerprint": X.doc_fingerprint(text_col),
        }
    )
    return out.drop("__tk")


def language_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predicted-language distribution (lang_pred, n_docs)."""
    return (
        df.select(X.lang_id(text_col).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 10,
    min_quality: float = 0.3,
) -> DataFrame:
    """Keep documents passing the quality gate — the canonical pre-training
    corpus filter; a pure pushdown-friendly predicate."""
    return df.where(
        (X.token_count(text_col) >= min_tokens)
        & (X.quality_score(text_col) >= min_quality)
    )


def term_doc_freq(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_freq) over distinct (doc, term) pairs.

    The inverted-index cardinality table TF-IDF/BM25 need. explode is
    map-side; the distinct + count is one shuffle on term. At 100 TB the
    term dictionary after aggregation is tiny relative to the corpus
    (Heaps' law), so downstream joins against it broadcast."""
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(X.tokens(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (score = tf * ln(N/df)).

    Plan shape: one explode->groupBy(doc,term) shuffle for term
    frequencies, one groupBy(term) shuffle for document frequencies, then
    a BROADCAST join of the small df dictionary back onto the tf pairs and
    a per-doc window for top-k — no quadratic stage anywhere. N (corpus
    size) rides along as a broadcast scalar via crossJoin of a 1-row
    aggregate, which AQE turns into a BroadcastNestedLoopJoin of one row.

    Scores are rounded to 6 decimals; ties break on term ASC so the
    selection is total-ordered and engine-independent."""
    tf = (
        df.select(F.col(id_col), F.explode(X.tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        # tf feeds BOTH the df dictionary and the scoring branch; a lazy
        # local checkpoint computes the explode+aggregate once instead of
        # per-branch (the minhash-LSH pattern — see dedup.py)
        .transform(pin)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("doc_freq")), 6),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "doc_freq", "tfidf", "rnk")
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    *,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by BM25 score against a bag of query terms.

    Retrieval-shaped corpus search (dataset curation: "find docs about
    X"): idf = ln(1 + (N - df + 0.5)/(df + 0.5)), per-term contribution
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    Plan shape: the query-term filter lands BEFORE the tf aggregation
    (explode -> filter isin -> groupBy), so only postings for the query
    terms ever shuffle — at 100 TB that is the difference between
    shuffling the whole inverted index and shuffling a few million
    postings. N/avgdl are one broadcast scalar row; df comes from the
    filtered postings themselves. Per-term contributions are quantized to
    9 decimals and summed EXACTLY as DECIMAL so the final score does not
    depend on partition addition order; final score rounds to 6. Ties
    break on doc ASC."""
    terms = [t.lower() for t in query_terms]
    postings = (
        df.select(
            F.col(id_col),
            X.token_count(text_col).alias("dl"),
            F.explode(X.tokens(text_col)).alias("term"),
        )
        .where(F.col("term").isin(terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
        # postings feed both dfreq and scoring — compute once (see
        # tfidf_top_terms)
        .transform(pin)
    )
    stats = df.select(
        F.count("*").alias("n_docs"),
        (
            F.sum(X.token_count(text_col).cast("decimal(38,9)")).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    scored = _bm25_scores(
        postings.join(F.broadcast(_doc_freq(postings)), "term").crossJoin(
            F.broadcast(stats)
        ),
        [id_col], F.col("n_docs"), F.col("avgdl"), k1, b,
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


def _doc_freq(postings: DataFrame) -> DataFrame:
    """(term, doc_freq) of a query-term-filtered postings frame."""
    return postings.groupBy("term").agg(F.count("*").alias("doc_freq"))


def _bm25_scores(
    cands: DataFrame, keys: list[str], n_docs: Column, avgdl: Column, k1: float, b: float
) -> DataFrame:
    """The BM25 score, defined once for search and serving: per ``keys``
    group, the sum of idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    over ``cands`` rows (term, tf, dl, doc_freq), each term's contribution
    quantized to 9 decimals and summed exactly as DECIMAL so the score
    does not depend on partition addition order; rounded to 6. Also
    counts the matched terms."""
    idf = F.log(
        1.0 + (n_docs - F.col("doc_freq") + 0.5) / (F.col("doc_freq") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    return (
        cands.withColumn("contrib", F.round(contrib, 9).cast("decimal(38,9)"))
        .groupBy(*keys)
        .agg(
            F.round(F.sum("contrib").cast("double"), 6).alias("bm25"),
            F.count("*").alias("n_matched_terms"),
        )
    )


def bigram_counts(
    df: DataFrame,
    k: int = 50,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` corpus-wide bigrams (n-gram language-model counts).

    Bigrams are formed map-side with zip_with over two shifted slices of
    the token array — no self-join, no UDF; the only shuffle is the
    groupBy(bigram) count. Ties break on bigram ASC for a total order."""
    tk = df.select(X.tokens(text_col).alias("tk")).where(F.size("tk") >= 2)
    bigrams = tk.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.size("tk") - 1),
                F.slice(F.col("tk"), 2, F.size("tk") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(k)
    )


def token_drift(
    df: DataFrame,
    base_pred,
    *,
    text_col: str = "text",
) -> DataFrame:
    """KL-divergence decomposition of token-distribution drift between two
    document cohorts (``base_pred`` boolean column splits base vs test).
    One row per vocabulary term: (term, n_base, n_test, p_base, p_test,
    kl_term) with kl_term = p_base * ln(p_base / p_test); total
    KL(base || test) = SUM(kl_term). The token-level sibling of the
    value-level PSI monitor (operators/profile.py:psi_drift): PSI says
    THAT a numeric distribution moved, this says WHICH tokens moved.

    Plan shape: explode -> ONE groupBy(term) with conditional counts
    covering both cohorts in a single pass; vocabulary size and cohort
    totals ride along as a 1-row broadcast scalar. Proportions are
    Laplace-smoothed ((n + 0.5) / (N + V/2)) so a term absent from one
    cohort contributes a finite, engine-portable value."""
    counted = (
        df.select(
            base_pred.cast("int").alias("_is_base"),
            F.explode(X.tokens(text_col)).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.count(F.when(F.col("_is_base") == 1, 1)).alias("n_base"),
            F.count(F.when(F.col("_is_base") == 0, 1)).alias("n_test"),
        )
        # counted feeds the totals scalar AND the final select — compute
        # the corpus explode + term shuffle once (the tf/postings idiom)
        .transform(pin)
    )
    totals = counted.select(
        F.sum("n_base").alias("t_base"),
        F.sum("n_test").alias("t_test"),
        F.count("*").alias("vocab"),
    )
    p = (F.col("n_base") + 0.5) / (F.col("t_base") + F.col("vocab") * 0.5)
    q = (F.col("n_test") + 0.5) / (F.col("t_test") + F.col("vocab") * 0.5)
    return counted.crossJoin(F.broadcast(totals)).select(
        "term",
        "n_base",
        "n_test",
        F.round(p, 9).alias("p_base"),
        F.round(q, 9).alias("p_test"),
        # 6 decimals, not 9: the ln is the one step where engines may
        # differ in the last ulp — keep the quantization coarse enough to
        # absorb it (p/q themselves are exact-int ratios, safe at 9)
        F.round(p * F.log(p / q), 6).alias("kl_term"),
    )


def strip_boilerplate_prefixes(
    df: DataFrame,
    text_col: str,
    group_col: str,
    *,
    probe_tokens: int = 8,
    min_count: int = 2,
    min_share: float = 0.0,
) -> DataFrame:
    """Template/boilerplate prefix removal (the header-stripping stage of
    web-corpus curation): find token prefixes repeated verbatim across
    documents of the same ``group_col`` (site, source, crawl) and strip
    them, keeping the distinctive remainder. A prefix is boilerplate
    when at least ``min_count`` docs of the group share it and its group
    share is >= ``min_share``.

    Adds ``_prefix_stripped`` (bool) and rewrites ``text_col`` for
    flagged docs by cutting the ORIGINAL characters spanning the first
    ``probe_tokens`` token runs (anchored regex), so the kept remainder
    preserves its casing, punctuation, and spacing — a token-rejoin
    would silently lowercase and de-punctuate every stripped document.
    Docs shorter than ``probe_tokens`` are exempt.

    Scale shape: the prefix census is ONE (group, prefix) aggregate with
    map-side combine; the boilerplate set that survives the thresholds
    is tiny (it is the point of the thresholds) and broadcasts back, so
    the corpus itself is never shuffled."""
    d = df.withColumn("_tk", X.tokens(text_col)).withColumn(
        "_pfx",
        F.when(
            F.size("_tk") >= probe_tokens,
            F.concat_ws(" ", F.slice("_tk", 1, probe_tokens)),
        ),
    )
    census = (
        d.where(F.col("_pfx").isNotNull())
        .groupBy(group_col, "_pfx")
        .agg(F.count("*").alias("_n"))
        # census feeds the totals aggregate AND the boiler join — compute
        # the corpus-wide prefix aggregate once
        .transform(pin)
    )
    totals = census.groupBy(group_col).agg(
        F.sum("_n").cast("double").alias("_nt")
    )
    boiler = (
        census.join(totals, group_col)
        .where(
            (F.col("_n") >= min_count)
            & (F.col("_n") / F.col("_nt") >= min_share)
        )
        .select(
            F.col(group_col).alias("_boiler_grp"),
            F.col("_pfx").alias("_boiler_pfx"),
        )
    )
    out = d.join(
        F.broadcast(boiler),
        (F.col(group_col) == F.col("_boiler_grp"))
        & (F.col("_pfx") == F.col("_boiler_pfx")),
        "left",
    ).drop("_boiler_grp")
    # cut the original characters of the first probe_tokens token runs:
    # each (separators)(token-run) group consumes exactly one token, so
    # the anchored count removes precisely the flagged prefix span
    strip_pat = (
        r"^(?:[^\p{L}\p{N}]*[\p{L}\p{N}]+)"
        + f"{{{probe_tokens}}}"
        + r"[^\p{L}\p{N}]*"
    )
    stripped_text = F.regexp_replace(F.col(text_col), strip_pat, "")
    return (
        out.withColumn("_prefix_stripped", F.col("_boiler_pfx").isNotNull())
        .withColumn(
            text_col,
            F.when(F.col("_prefix_stripped"), stripped_text).otherwise(
                F.col(text_col)
            ),
        )
        .drop("_tk", "_pfx", "_boiler_pfx")
    )


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_tokens: int = 30,
    max_tokens: int = 10000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopword_ratio: float = 0.03,
    max_dup_token_ratio: float = 0.6,
    stopword_lang: str = "en",
) -> DataFrame:
    """Rule-based document filter (Gopher/MassiveText-style), the
    complement of :func:`quality_model_score`: instead of one learned
    score, each doc gets an explicit, auditable list of WHICH rules it
    failed — the form a curation pipeline needs to report drop reasons
    and tune thresholds per-rule.

    Rules (fixed order, names are the contract): ``too_short`` /
    ``too_long`` (token count), ``word_len_low`` / ``word_len_high``
    (mean word length — gibberish and minified-code signals),
    ``low_stopwords`` (natural language has function words),
    ``repetitive`` (repeated-token ratio). NULL/token-free text is
    ``empty``. Adds ``n_tokens``, ``reasons`` (comma-joined, '' = clean)
    and ``keep``. The stopword rule is lexicon-based and per-language
    (``stopword_lang``, default English — the Gopher setting); for a
    multilingual corpus, partition by detected language and run with
    each language's lexicon, or lower the floor.

    Pure map-side column expressions over a single tokenize — zero
    shuffles at any corpus size, and every ratio is an exact-integer
    quotient so the verdicts are engine-reproducible."""
    d = df.withColumn("_tk", X.tokens(text_col))
    n = F.size("_tk")
    mwl = X.mean_word_len(text_col, pre_tokens="_tk")
    swr = X.stopword_ratio(text_col, stopword_lang, pre_tokens="_tk")
    dup = X.dup_token_ratio(text_col, pre_tokens="_tk")
    rules = F.array(
        F.when(n < min_tokens, F.lit("too_short")),
        F.when(n > max_tokens, F.lit("too_long")),
        F.when(mwl < min_mean_word_len, F.lit("word_len_low")),
        F.when(mwl > max_mean_word_len, F.lit("word_len_high")),
        F.when(swr < min_stopword_ratio, F.lit("low_stopwords")),
        F.when(dup > max_dup_token_ratio, F.lit("repetitive")),
    )
    reasons = F.when(n.isNull() | (n == 0), F.lit("empty")).otherwise(
        F.array_join(F.filter(rules, lambda x: x.isNotNull()), ",")
    )
    return (
        d.withColumn("n_tokens", F.coalesce(n, F.lit(0)).cast("bigint"))
        .withColumn("reasons", reasons)
        .withColumn("keep", F.col("reasons") == "")
        .drop("_tk")
    )


DEFAULT_QUALITY_WEIGHTS: dict[str, float] = {
    "bias": 0.0,
    "len_norm": 1.2,
    "alpha": 1.0,
    "stop_sat": 0.8,
    "dup": -1.5,
}


def gopher_defaults() -> list:
    """The default thresholds of :func:`gopher_quality_filter`, in
    signature order — read from the signature itself, so the quality
    store's params (``ensure_quality_store``) can never drift from the
    rule set they describe."""
    import inspect

    return [
        p.default
        for p in inspect.signature(gopher_quality_filter).parameters.values()
        if p.kind is inspect.Parameter.KEYWORD_ONLY
    ]


def quality_model_score(
    df: DataFrame,
    text_col: str = "text",
    *,
    weights: dict[str, float] | None = None,
    threshold: float = 0.55,
) -> DataFrame:
    """Linear quality-model scoring — the engine-side twin of running a
    trained quality classifier (fastText / logreg) over the corpus, with
    the model expressed as a weighted sum of engineered features so the
    whole thing stays inside whole-stage codegen (no UDF, no model
    server round-trip).

    Features (each an exact ratio, rounded to 6 decimals BEFORE weighting
    so the logit is bit-identical across engines): ``len_norm`` =
    min(tokens/50, 1); ``alpha`` = alphabetic-char ratio; ``stop_sat`` =
    min(5 * stopword ratio, 1); ``dup`` = repeated-token ratio. The logit
    is NOT squashed — a sigmoid's ``exp`` can differ across engines in the
    last ulp, and monotone decisions only need the linear score.

    Adds ``model_score`` (rounded logit) and ``kept`` (0/1 int for
    ``model_score >= threshold``). NULL text gets a NULL score and NULL
    kept — NOT a passing score: ``least`` silently skips NULL operands,
    so an unguarded logit would hand unscoreable rows full length credit
    and wave them through the filter (the assign_split NULL philosophy:
    never silently route junk into the kept set). One shuffle-free
    projection; swap ``weights`` to deploy a retrained model without
    touching the plan."""
    w = {**DEFAULT_QUALITY_WEIGHTS, **(weights or {})}
    unknown = set(w) - {"bias", "len_norm", "alpha", "stop_sat", "dup"}
    if unknown:
        raise ValueError(f"unknown feature weights: {sorted(unknown)}")
    tk = X.tokens(text_col)
    out = df.withColumn("_tk", tk)
    n = F.size(F.col("_tk"))
    len_norm = F.round(F.least(n / F.lit(50.0), F.lit(1.0)), 6)
    alpha = F.round(F.coalesce(X.alpha_ratio(text_col), F.lit(0.0)), 6)
    swr = X.stopword_ratio(text_col, pre_tokens="_tk")
    stop_sat = F.round(
        F.least(F.coalesce(swr, F.lit(0.0)) * F.lit(5.0), F.lit(1.0)), 6
    )
    dup = F.coalesce(X.dup_token_ratio(text_col, pre_tokens="_tk"), F.lit(0.0))
    logit = (
        F.lit(w["bias"])
        + F.lit(w["len_norm"]) * len_norm
        + F.lit(w["alpha"]) * alpha
        + F.lit(w["stop_sat"]) * stop_sat
        + F.lit(w["dup"]) * dup
    )
    guarded = F.when(F.col(text_col).isNotNull(), F.round(logit, 6))
    return (
        out.withColumn("model_score", guarded)
        .withColumn(
            "kept", (F.col("model_score") >= F.lit(threshold)).cast("int")
        )
        .drop("_tk")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks — the
    context-window preparation step between corpus curation and
    tokenization (long documents become training sequences; the overlap
    preserves cross-boundary context).

    Chunks start every ``chunk_tokens - overlap`` tokens; each carries
    its 0-based ``chunk_idx``, its reassembled ``chunk_text``, and its
    exact ``n_chunk_tokens`` (the final chunk may be short — a partial
    tail is kept, never dropped, because dropping it silently loses
    corpus). Starts stop at ``n - overlap``: a later chunk would contain
    ONLY overlap tokens already present in its predecessor — pure
    duplication in the training set. Empty documents yield zero chunks;
    documents shorter than ``chunk_tokens`` yield exactly one.

    Plan shape: tokenize once, generate the start offsets as a
    ``sequence`` column, and ``posexplode`` — all map-side expression
    work; output rows ~= total_tokens / stride, with no shuffle at all.
    At 100 TB this is the embarrassingly parallel stage it should be."""
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got overlap={overlap}"
        )
    stride = chunk_tokens - overlap
    tk = df.withColumn("_tk", X.tokens(text_col))
    n = F.size(F.col("_tk"))
    # last useful start is < n - overlap (a start beyond that emits only
    # tokens the previous chunk already carried); greatest(..., 0) keeps
    # exactly one chunk for docs shorter than the overlap
    starts = F.when(
        n > 0,
        F.sequence(
            F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride)
        ),
    ).otherwise(F.array().cast("array<int>"))
    exploded = tk.withColumn("_starts", starts).select(
        "*", F.posexplode("_starts").alias("chunk_idx", "_start")
    )
    piece = F.slice(F.col("_tk"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        *[c for c in df.columns if c != text_col],
        F.col("chunk_idx"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def lm_score(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean bigram log-likelihood under a Laplace-smoothed
    LM estimated from the SAME corpus — the CCNet-style language-model
    quality signal (fluent text scores near the corpus mode; gibberish
    and boilerplate score far below it).

    ``p(b|a) = (C(a,b) + alpha) / (C(a,.) + alpha * V)`` with V the
    corpus vocabulary; the score is the mean of ``ln p`` over a doc's
    bigrams (docs with fewer than 2 tokens have no bigrams and are
    absent from the output — score them via :func:`quality_model_score`
    instead). Each ``ln`` term is rounded to 6 decimals (the one
    cross-engine ulp hazard) and summed as DECIMAL, so scores are
    partition-order-independent and engine-exact.

    Plan shape: one map-side bigram explode (checkpointed — it feeds the
    count tables AND the scoring join), two count aggregates, keyed
    joins back on the bigram/prefix, a 1-row vocabulary broadcast, and
    the per-doc mean. Count tables are corpus-level aggregates (Heaps'
    law small relative to the corpus); nothing is quadratic."""
    # tk feeds BOTH the bigram explode and the vocabulary scalar — the
    # checkpoint makes them share one tokenization pass instead of
    # re-scanning and re-tokenizing the corpus per consumer
    tk = df.select(
        F.col(id_col), X.tokens(text_col).alias("_tk")
    ).transform(pin)
    n = F.size(F.col("_tk"))
    db = (
        tk.where(n >= 2)
        .select(
            F.col(id_col),
            F.posexplode(F.slice(F.col("_tk"), 1, n - 1)).alias("_i", "w1"),
            F.col("_tk"),
        )
        .select(
            F.col(id_col),
            "w1",
            F.element_at(F.col("_tk"), F.col("_i") + 2).alias("w2"),
        )
        .transform(pin)
    )
    cab = db.groupBy("w1", "w2").agg(F.count("*").alias("_c_ab"))
    # prefix counts fold over the (Heaps'-law small) bigram-count table —
    # C(a,.) = sum_b C(a,b) — instead of a second aggregate over the full
    # bigram stream, and the two model tables merge BEFORE touching db so
    # the corpus-sized stream is shuffled once (one (w1,w2) exchange,
    # reused between the cab aggregate and the scoring join), not twice
    ca = cab.groupBy("w1").agg(F.sum("_c_ab").alias("_c_a")).withColumnRenamed(
        "w1", "_pw1"
    )
    model = cab.join(ca, F.col("w1") == F.col("_pw1")).select(
        "w1", "w2", "_c_ab", "_c_a"
    )
    v = tk.select(F.explode("_tk").alias("_t")).agg(
        F.countDistinct("_t").alias("_vocab")
    )
    p = (F.col("_c_ab") + F.lit(alpha)) / (
        F.col("_c_a") + F.lit(alpha) * F.col("_vocab")
    )
    scored = (
        db.join(model, ["w1", "w2"])
        .join(F.broadcast(v))
        .withColumn("_lp", F.round(F.log(p), 6))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.sum(F.col("_lp").cast("decimal(38,9)")).cast("double")
            / F.count("*"),
            6,
        ).alias("lm_score"),
    )


def pii_scan_report(
    df: DataFrame,
    text_col: str,
    group_col: str,
    *,
    kinds: tuple[str, ...] = ("email", "phone", "ipv4"),
) -> DataFrame:
    """Corpus PII-prevalence audit: per group, how many documents carry
    each PII kind and at what rate — the release-gate report a corpus
    publisher runs BEFORE redact_pii rewrites anything (redaction is a
    policy decision; this measures the exposure that motivates it).

    One scan, per-kind regexp_count columns (the same engine-portable
    patterns redact_pii rewrites, so the report predicts exactly what
    redaction will touch), one group-keyed aggregate of exact integer
    counts. NULL text counts as zero matches, not NULL-poisoned sums.
    """
    from etlutil_spark.functions.text import PII_PATTERNS

    unknown = set(kinds) - set(PII_PATTERNS)
    if unknown:
        raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    counts = {
        k: F.coalesce(F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k])), F.lit(0))
        for k in kinds
    }
    any_pii = sum(counts.values(), F.lit(0)) > 0
    aggs = [F.count("*").alias("n_docs")]
    for k in kinds:
        aggs.append(F.sum(counts[k]).cast("bigint").alias(f"n_{k}"))
    aggs.append(F.sum(any_pii.cast("int")).cast("bigint").alias("docs_with_pii"))
    out = df.groupBy(group_col).agg(*aggs)
    return out.withColumn(
        "pii_rate", F.round(F.col("docs_with_pii") / F.col("n_docs"), 6)
    )


def dsir_log_weights(
    df: DataFrame,
    target_filter,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much its hashed-unigram distribution looks like a
    TARGET slice of the corpus versus the corpus as a whole. Sampling
    proportionally to ``exp(dsir_logw)`` importance-reweights raw data
    toward the target domain — the standard pretraining-mixture move
    when high-quality target text is scarce.

    Model: tokens hash into ``n_buckets`` buckets (portable 60-bit md5
    hash, same formula in any engine); bucket unigram probabilities are
    add-one smoothed; a document's weight is the mean per-token log
    probability ratio ln(p_target / p_raw).

    Scale shape: ONE tokenize+hash projection (map-side, lazily
    checkpointed) feeds all three aggregates — per-(doc, bucket) counts,
    target bucket counts, raw bucket counts. The two grand totals are
    bounded driver scalars (the closed-form-rates idiom); the
    ``n_buckets``-row log-ratio table broadcasts into the per-doc pass.
    Nothing after the first aggregate scales with token volume.

    Determinism: the per-bucket log-ratio is rounded to 6 decimals then
    quantized to integer micro-units (``floor(x * 1e6 + 0.5)``), so each
    doc's score is a ratio of exact 64-bit integer sums — bit-identical
    across engines and partition orders (the module's float policy)."""
    from etlutil_spark.functions.hashing import md5_bigint

    tb = (
        df.select(
            F.col(id_col),
            target_filter.alias("_is_target"),
            F.explode(X.tokens(text_col)).alias("_tk"),
        )
        .select(
            id_col,
            "_is_target",
            F.pmod(md5_bigint("_tk"), F.lit(n_buckets)).alias("_b"),
        )
        .transform(pin)
    )
    db = tb.groupBy(id_col, "_b").agg(F.count("*").alias("_n"))
    tc = tb.where(F.col("_is_target")).groupBy("_b").agg(F.count("*").alias("_ct"))
    rc = tb.groupBy("_b").agg(F.count("*").alias("_cr"))
    # grand totals: ONE bounded 1-row collect over the checkpointed
    # token table (r9 advice: this was two sequential driver jobs)
    tot = tb.agg(
        F.count(F.when(F.col("_is_target"), F.lit(1))).alias("_tt"),
        F.count("*").alias("_tr"),
    ).collect()[0]
    tt, tr = tot["_tt"] or 0, tot["_tr"] or 0
    if tr == 0:
        raise ValueError("dsir_log_weights: corpus has no tokens")
    if tt == 0:
        raise ValueError("dsir_log_weights: target slice has no tokens")
    lw = F.round(
        F.log((F.coalesce("_ct", F.lit(0)) + 1) / F.lit(float(tt + n_buckets)))
        - F.log((F.col("_cr") + 1) / F.lit(float(tr + n_buckets))),
        6,
    )
    w = rc.join(tc, "_b", "left").select(
        "_b",
        F.floor(lw * 1000000 + F.lit(0.5)).cast("bigint").alias("_lwq"),
    )
    return (
        db.join(F.broadcast(w), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_n").cast("bigint").alias("n_tokens"),
            F.sum(F.col("_n") * F.col("_lwq")).cast("bigint").alias("_s"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(
                F.col("_s") / (F.col("n_tokens") * F.lit(1000000.0)), 6
            ).alias("dsir_logw"),
        )
    )


def _write_postings(
    df: DataFrame, out: str, id_col: str, text_col: str, n_buckets: int
) -> dict:
    """Write ``df``'s postings (term, doc, tf, dl) bucket-partitioned to
    ``out`` and return its exact corpus counts {n_docs, sum_dl}."""
    from etlutil_spark.functions.hashing import md5_bigint

    stats = df.select(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(X.token_count(text_col).cast("bigint"))
        .cast("bigint")
        .alias("sum_dl"),
    ).collect()[0]
    (
        df.select(
            F.col(id_col),
            X.token_count(text_col).alias("dl"),
            F.explode(X.tokens(text_col)).alias("term"),
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .withColumn(
            "bucket",
            F.pmod(md5_bigint("term"), F.lit(n_buckets)).cast("int"),
        )
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )
    return {"n_docs": int(stats["n_docs"]), "sum_dl": int(stats["sum_dl"] or 0)}


def ensure_postings_store(
    spark,
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> StoreStatus:
    """Build-ONCE inverted-index store — the lexical twin of
    ensure_ivfadc_index: tokenize the corpus once, persist the postings
    (term, doc, tf, dl) hive-partitioned by a portable term-hash bucket
    under ``delta=base/bucket=*/``, and keep the corpus constants BM25
    needs (n_docs, exact total token count) in the store's sidecar. The
    lifecycle is the shared store contract
    (:func:`etlutil_spark.operators.store.ensure_store`).

    Why bucket-partitioned: a query touches a handful of terms, and
    each term lives in exactly one bucket directory — serving lists
    only the probed buckets (PartitionFilters), so a search reads
    ~|query terms| / n_buckets of the index no matter how large the
    corpus grows. The write repartitions by bucket first so each dir
    gets well-sized files, not one file per upstream task. Each
    increment lands under its own ``delta=<batch_id>/bucket=*/``
    (:func:`update_postings_store`); bucket stays a partition column at
    every delta level, so the bucket predicate still prunes."""
    params = {"id_col": id_col, "text_col": text_col, "n_buckets": int(n_buckets)}

    def build(tmp: str) -> dict:
        stats = _write_postings(df, tmp + "/delta=base", id_col, text_col, n_buckets)
        # per-batch corpus-count contributions, keyed by batch_id so a
        # replayed increment OVERWRITES its own entry instead of adding
        # a second one (idempotent, like its delta partition)
        return {**stats, "deltas": {}}

    return ensure_store(spark, path, "postings", params, df, build)


def _term_bucket(t: str, n_buckets: int) -> int:
    """The postings bucket of term ``t``, computed driver-side: the same
    value as the writer's JVM ``pmod(md5_bigint(term), n_buckets)`` (the
    60-bit md5 prefix of the UTF-8 bytes is non-negative, so ``%`` and
    ``pmod`` agree)."""
    import hashlib

    return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % n_buckets


def _postings_scan(spark, path: str, terms: list[str], who: str):
    """The serving preamble of a postings store: ``(postings, id_col,
    n_docs, avgdl)``, where ``postings`` scans only the buckets of
    ``terms`` and only their rows, and the corpus counts are the base
    build's plus every committed increment's (idempotent per batch_id —
    see update_postings_store)."""
    store = open_store(spark, path, "postings", required=True)
    meta = store.meta
    n_buckets = meta["params"]["n_buckets"]
    n_docs, sum_dl = int(meta["n_docs"]), int(meta["sum_dl"])
    # only committed increments count, as only their postings are read
    for bid, d in meta.get("deltas", {}).items():
        if bid in store.applied:
            n_docs += int(d["n_docs"])
            sum_dl += int(d["sum_dl"])
    if n_docs == 0:
        raise ValueError(f"{who}: empty postings store")
    probes = sorted({_term_bucket(t, n_buckets) for t in terms})
    # NO checkpoint here (unlike bm25_search): both consumers re-scan,
    # but each scan is partition-pruned to the probed buckets and
    # term-filtered at the row-group level — trivially cheap, and the
    # pruning stays VISIBLE in the executed plan (a checkpoint would
    # hide the FileScan behind an RDD scan; plan test pins the filter)
    postings = (
        read_table(spark, store)
        .where(F.col("bucket").isin(probes))
        .where(F.col("term").isin(terms))
    )
    # same IEEE division bm25_search's stats row performs: double(sum
    # of exact decimal dl) / bigint count
    return postings, meta["params"]["id_col"], n_docs, float(sum_dl) / n_docs


def bm25_serve(
    spark,
    path: str,
    query_terms: list[str],
    *,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Read-only BM25 over an :func:`ensure_postings_store` index:
    corpus constants come from the sidecar (driver-side, two ints),
    the probed bucket set is computed in Python with the SAME portable
    md5 hash the writer used, and the scan lists ONLY those bucket
    directories (the term predicate additionally pushes into parquet
    row groups). doc_freq derives from the probed postings themselves
    — one aggregate bounded by the query terms' posting lists, never
    corpus-scale. Scoring is bit-identical to :func:`bm25_search`
    (same idf/contribution expressions, 9-decimal quantized DECIMAL
    sum, 6-decimal final round, doc-id tiebreak), so the same oracle
    verifies both the search math AND the store roundtrip."""
    terms = [t.lower() for t in query_terms]
    postings, id_col, n_docs, avgdl = _postings_scan(spark, path, terms, "bm25_serve")
    scored = _bm25_scores(
        postings.join(F.broadcast(_doc_freq(postings)), "term"),
        [id_col], F.lit(n_docs), F.lit(avgdl), k1, b,
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


def update_postings_store(
    spark,
    new_docs: DataFrame,
    path: str,
    *,
    batch_id: str,
) -> str:
    """Incrementally merge a NEW batch of documents into an
    :func:`ensure_postings_store` index — the maintenance half of the
    lexical serving stack (an index that must be fully rebuilt per
    batch is not a production index): the batch's postings land in
    their OWN ``delta=<batch_id>/bucket=*/`` partition (one
    bucket-keyed shuffle sized by the BATCH, the existing index is
    never read or rewritten), and the batch's exact corpus counts land
    under the sidecar's ``deltas[batch_id]`` entry. bm25_serve derives
    every score input from postings + sidecar, so
    serve-after-increment is BIT-IDENTICAL to a full rebuild over the
    union corpus (pinned in tests and by the catalog oracle).

    Crash-safe replay (the update_hist_store contract, upgraded from
    the r11 append-then-marker design whose crash window double-counted
    a replayed batch): every step is IDEMPOTENT per batch_id — the
    delta write OVERWRITES its own partition directory, the sidecar
    entry is keyed by batch_id (rewritten, never added twice), and the
    ``_applied_<batch_id>`` marker (written LAST) commits both: serving
    reads neither the postings nor the counts of an unmarked batch, and
    a replay of a marked one is a no-op. A crash at any point leaves a
    retry that converges to exactly one application."""

    def write(delta_dir: str, store) -> dict:
        meta = store.meta
        p = meta["params"]
        meta["deltas"][str(batch_id)] = _write_postings(
            new_docs, delta_dir, p["id_col"], p["text_col"], p["n_buckets"]
        )
        return meta

    return apply_delta(spark, path, "postings", batch_id, write)


def bm25_serve_many(
    spark,
    path: str,
    queries: dict[str, list[str]],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batched BM25 serving: score MANY queries against the postings
    store in ONE pruned scan — the throughput shape of production
    retrieval (and of offline query-set evaluation): per-query scans
    would re-list and re-read shared buckets once per query; here the
    probed-bucket set is the UNION over all queries' terms, the
    (query_id, term) map rides in as a broadcast literal table, and
    the per-query top-k is a window over only the scored candidates,
    partitioned by query — no single-partition funnel, cost amortized
    across the batch. Scoring math is bm25_serve's bit for bit; returns
    (query_id, doc_id, bm25, n_matched_terms, rank<=k), ranked ties
    broken by doc id."""
    from pyspark.sql.window import Window

    pairs = sorted(
        {(qid, t.lower()) for qid, ts in queries.items() for t in ts}
    )
    terms = sorted({t for _, t in pairs})
    postings, id_col, n_docs, avgdl = _postings_scan(
        spark, path, terms, "bm25_serve_many"
    )
    qmap = spark.createDataFrame(pairs, "query_id string, term string")
    scored = _bm25_scores(
        postings.join(F.broadcast(qmap), "term").join(
            F.broadcast(_doc_freq(postings)), "term"
        ),
        ["query_id", id_col], F.lit(n_docs), F.lit(avgdl), k1, b,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "bm25", "n_matched_terms", "rank")
    )


def postings_update_sink(index_path: str):
    """foreachBatch function for STREAMING inverted-index maintenance:
    each micro-batch of new documents merges into the postings store
    with :func:`update_postings_store`, keyed by Spark's monotonically
    increasing ``batch_id`` — so the sink inherits both halves of the
    contract for free: the append is batch-sized (the index is never
    read or rewritten), and a foreachBatch RETRY of the same batch_id
    hits the ``_applied_<id>`` marker and no-ops instead of
    double-counting postings (exactly the at-least-once guarantee
    foreachBatch provides and the dedup-screen sink taught us to
    absorb). The serving side (bm25_serve / bm25_serve_many) sees every
    completed batch on its next query — no restart, no reindex.

    Usage::

        q = (docs_stream.writeStream
             .foreachBatch(postings_update_sink(index_path))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())

    The store must exist before the first batch (ensure_postings_store
    on the initial corpus, possibly empty)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        update_postings_store(
            batch_df.sparkSession, batch_df, index_path,
            batch_id=f"stream_{batch_id}",
        )

    return _apply


def ensure_quality_store(
    spark,
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    threshold: float = 0.55,
) -> str:
    """Build-ONCE per-document quality-score table — the "score once,
    audit many" serving pattern (the postings/IVFADC ensure_* contract
    applied to the quality family): ONE corpus text pass materializes
    (id, source, lang, n_chars, model_score, kept, gopher_keep) and
    every downstream calibration/normalization/concentration audit is
    a pruned parquet scan instead of its own regex-heavy re-scoring
    pass. At 100 TB the text pass is a full corpus scan; the audits
    read a narrow corpus-rows table.

    Columns are exact deterministic projections (the rounded-6 linear
    logit + the Gopher rule verdict at the DEFAULT rule thresholds), so
    serving from the store is bit-identical to recomputing — pinned by
    tests/test_text_quality_store.py and by every consumer's DuckDB
    oracle, which recomputes from raw text. The lifecycle is the shared
    store contract (:func:`etlutil_spark.operators.store.ensure_store`)."""
    w = {**DEFAULT_QUALITY_WEIGHTS, **(weights or {})}
    params = {
        "id_col": id_col,
        "text_col": text_col,
        "weights": {k: float(v) for k, v in sorted(w.items())},
        "threshold": float(threshold),
        # gopher verdict at the operator's default thresholds — part of
        # the contract so a default change rebuilds instead of serving
        # verdicts from an older rule set
        "gopher_defaults": gopher_defaults(),
        "schema": 1,
    }
    return ensure_store(
        spark, path, "quality", params, df,
        lambda tmp: gopher_quality_filter(
            quality_model_score(df, text_col, weights=weights, threshold=threshold),
            text_col,
        ).select(
            F.col(id_col),
            "source",
            "lang",
            "n_chars",
            "model_score",
            "kept",
            F.col("keep").alias("gopher_keep"),
        ).write.mode("overwrite").parquet(tmp),
    )


def read_quality_scores(spark, path: str) -> DataFrame:
    """The quality store's per-document score table (id, source, lang,
    n_chars, model_score, kept, gopher_keep) — filters on score/verdict
    push down to the parquet scan."""
    return read_table(spark, open_store(spark, path, "quality"))
