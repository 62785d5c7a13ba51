"""Text-analysis column functions for training-data pipelines.

All pure Column expressions (regex + higher-order array functions) chosen to
be reproducible in ANSI SQL so each operator carries a DuckDB oracle:
tokenization is lowercase + split on non-alphanumeric runs.

  - tokens / token_count — whitespace-and-punct tokenizer
  - word_shingles       — n-gram word shingles (dedup/Jaccard input)
  - quality metrics     — length, alpha ratio, stopword ratio, mean word len
  - lang_id             — stopword-hit heuristic over a small per-language
                          lexicon (n-gram-free so it stays SQL-expressible)
  - fingerprint         — order-invariant document fingerprint (portable md5)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etlutil_spark.functions.hashing import md5_bigint

# unicode-aware: split on runs of non-letter/non-digit (any script), so
# non-Latin text survives tokenization. \p{L}\p{N} behave identically in
# Java regex (Spark) and RE2 (DuckDB oracle) — parity-tested.
TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"

# tiny per-language stopword lexicons (public common-word lists), enough for
# a deterministic heuristic over the synthetic `documents` table
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"),
    "es": ("el", "la", "de", "que", "y", "los", "un", "una", "es", "para"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _t(col: Column | str, pre_tokens: Column | str | None) -> Column:
    """Token source: the pre-tokenized array column when given, else
    tokenize inline. Pass ``pre_tokens`` (computed once per row in a child
    projection) whenever the tokens are read more than once: CSE shares a
    repeated tokenizer among a projection's top-level expressions, but not
    inside higher-order-function lambdas (:func:`word_shingles` re-reads
    the tokens at every n-gram position), and codegen size — janino compile
    time — scales with the expression TREE either way."""
    return _c(pre_tokens) if pre_tokens is not None else tokens(col)


def tokens(col: Column | str) -> Column:
    """lowercase tokens, empty strings removed."""
    arr = F.split(F.lower(_c(col)), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != "")


def token_count(col: Column | str, *, pre_tokens: Column | str | None = None) -> Column:
    return F.size(_t(col, pre_tokens))


def bpe_ish_token_count(
    col: Column | str, *, pre_tokens: Column | str | None = None
) -> Column:
    """Rough subword-token estimate: regex pieces of <=4 chars.

    Counts alphanumeric runs split into 4-char pieces plus standalone
    punctuation — a deterministic, engine-portable stand-in for a BPE
    tokenizer's token count (ceil(len(run)/4) per word + punct marks).
    The punctuation class excludes UNICODE letters/digits (``\\p{L}``,
    ``\\p{N}``), not just ASCII ``\\w`` — ASCII-only would double-count
    every non-ASCII letter (a CJK doc's characters are already word
    pieces AND would all re-count as "punctuation", inverting the
    per-language fertility signal).
    """
    word_pieces = F.aggregate(
        _t(col, pre_tokens),
        F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("int"),
    )
    punct = F.length(F.regexp_replace(_c(col), r"[\p{L}\p{N}_\s]", ""))
    return word_pieces + punct


def char_count(col: Column | str) -> Column:
    return F.length(_c(col))


def alpha_ratio(col: Column | str) -> Column:
    """fraction of characters that are ASCII letters or space."""
    c = _c(col)
    kept = F.length(F.regexp_replace(c, "[^A-Za-z ]", ""))
    return F.when(F.length(c) > 0, kept / F.length(c)).otherwise(F.lit(None))


def mean_word_len(col: Column | str, *, pre_tokens: Column | str | None = None) -> Column:
    t = _t(col, pre_tokens)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total / F.size(t))


def stopword_ratio(
    col: Column | str, lang: str = "en", *, pre_tokens: Column | str | None = None
) -> Column:
    t = _t(col, pre_tokens)
    stop = F.array(*[F.lit(w) for w in LANG_LEXICON[lang]])
    hits = F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
    return F.when(F.size(t) > 0, hits / F.size(t))


def quality_score(col: Column | str, *, pre_tokens: Column | str | None = None) -> Column:
    """Composite [0,1] quality heuristic: long enough, alphabetic, not
    stopword-free (gibberish) and not stopword-saturated (boilerplate)."""
    n = token_count(col, pre_tokens=pre_tokens)
    length_ok = F.least(n / F.lit(50.0), F.lit(1.0))
    alpha = F.coalesce(alpha_ratio(col), F.lit(0.0))
    swr = F.coalesce(stopword_ratio(col, pre_tokens=pre_tokens), F.lit(0.0))
    sw_component = F.least(swr * F.lit(5.0), F.lit(1.0))
    return F.round((length_ok + alpha + sw_component) / F.lit(3.0), 6)


def lang_id(col: Column | str, *, pre_tokens: Column | str | None = None) -> Column:
    """argmax over per-language stopword hit counts; NULL when no hits.

    greatest()-based argmax keeps it a flat codegen expression and makes the
    identical formulation expressible in the DuckDB oracle.
    """
    t = _t(col, pre_tokens)
    hit_cols: dict[str, Column] = {}
    for lang, words in LANG_LEXICON.items():
        lex = F.array(*[F.lit(w) for w in words])
        hit_cols[lang] = F.size(F.filter(t, lambda x: F.array_contains(lex, x)))
    best = F.greatest(*hit_cols.values())
    # first language (lexicon insertion order) wins ties — mirror in oracle SQL
    expr = F.when(best <= 0, F.lit(None).cast("string"))
    for lang in LANG_LEXICON:
        expr = expr.when(hit_cols[lang] == best, F.lit(lang))
    return expr


def word_shingles(
    col: Column | str, n: int = 3, *, pre_tokens: Column | str | None = None
) -> Column:
    """n-word shingles (space-joined), [] when fewer than n tokens.

    The sequence is only evaluated when size(t) >= n: an unguarded
    sequence(1, size-(n-1)) yields a *descending* [1, 0] for short docs and
    slice(t, 0, n) then throws INVALID_PARAMETER_VALUE.START at runtime.
    """
    t = _t(col, pre_tokens)
    idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
    return F.when(
        F.size(t) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def dup_token_ratio(col: Column | str, *, pre_tokens: Column | str | None = None) -> Column:
    """Fraction of tokens that are repeats of an earlier token — the
    cheapest repetition signal (Gopher-style quality filters cut docs
    where it is high). NULL for empty docs."""
    t = _t(col, pre_tokens)
    return F.when(
        F.size(t) > 0,
        F.round(1.0 - F.size(F.array_distinct(t)) / F.size(t), 6),
    )


def dup_ngram_ratio(
    col: Column | str, n: int = 2, *, pre_tokens: Column | str | None = None
) -> Column:
    """Fraction of word n-grams that are duplicates of an earlier n-gram
    (phrase-level repetition: loops, boilerplate, degenerate generations).
    NULL for docs with fewer than n tokens."""
    g = word_shingles(col, n, pre_tokens=pre_tokens)
    return F.when(
        F.size(g) > 0,
        F.round(1.0 - F.size(F.array_distinct(g)) / F.size(g), 6),
    )


# deliberately simple, engine-portable patterns: identical semantics in
# Java regex (Spark) and RE2 (DuckDB oracle) — no lookaround, no backrefs
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(
    col: Column | str,
    *,
    kinds: tuple[str, ...] = ("email", "phone", "ipv4"),
    marker: str = "[PII]",
) -> Column:
    """Replace every match of the selected PII patterns with ``marker``.

    A chain of regexp_replace calls — pure codegen, no UDF; order is the
    ``kinds`` tuple order (emails before phones so a phone-looking local
    part can't bite a half-redacted email)."""
    out = _c(col)
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], marker)
    return out


def doc_fingerprint(col: Column | str) -> Column:
    """Order-invariant 60-bit content fingerprint: xor-free additive mix of
    distinct-token hashes (portable: same formula runs in DuckDB).

    Token-free text (empty/punctuation-only) fingerprints to NULL, not 0:
    a shared fp=0 would collide every contentless doc into one "identical
    content" bucket (false dedup/leakage hits), and DuckDB's
    ``list_aggregate([], 'sum')`` is NULL — so NULL is also the
    engine-portable value."""
    t = F.array_distinct(tokens(col))
    return F.when(
        F.size(t) > 0,
        F.aggregate(
            t,
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc + md5_bigint(x)) % F.lit(2**60).cast("bigint"),
        ),
    )
