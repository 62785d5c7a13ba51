"""Vector math over ``array<float|double>`` columns — pure Column expressions.

Used by the similarity-search and embedding-dedup operators. Everything is
``F.zip_with`` / ``F.aggregate`` (JVM higher-order functions): no Python UDF,
no serialization of vectors to the driver — the hot path stays inside
whole-stage codegen, which is what lets brute-force cosine top-k scale to a
100 TB embedding table (it becomes one shuffle-free map + a top-k).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Elementwise dot product of two array columns (double)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_l2(u: Column | str, v: Column | str) -> Column:
    """Exact squared L2 distance of two bigint arrays: a left-to-right
    integer fold, so any engine that folds the same way matches bit for
    bit (the k-means, IVF and SemDeDup distance)."""
    return F.aggregate(
        F.zip_with(_c(u), _c(v), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _sql_double(v: float) -> str:
    """Round-trip double literal for Spark SQL (D suffix = DoubleType)."""
    return f"{float(v)!r}D"


def bigint_array_lit(data) -> Column:
    """Arbitrarily nested list of ints → ONE parsed SQL array literal.

    ``F.lit(nested_list)`` recurses into one py4j round-trip per element
    (PySpark implements ``lit(list)`` as ``array(*[lit(x) ...])``), so a
    k-means centroid table (8x64) or an IVFADC code table (8x8x16) costs
    500-1,000 driver calls per plan build — the measured dominator of the
    clustering-family queries at sf0.1 (same pathology as ``plane_dots``).
    Rendering the whole structure as one SQL string with ``L``-suffixed
    bigint literals parses JVM-side in a single call; integer literals
    round-trip exactly, so the resulting Literal values are bit-identical
    and the type (``array<...array<bigint>>``) matches the old
    ``.cast("array<bigint>")`` path. Empty lists fall back to ``F.lit``
    (SQL ``array()`` types as array<void>); no current caller passes one."""

    def _render(n) -> str:
        if isinstance(n, (list, tuple)):
            return "array(" + ", ".join(_render(e) for e in n) + ")"
        return f"{int(n)}L"

    def _has_empty(n) -> bool:
        if isinstance(n, (list, tuple)):
            return len(n) == 0 or any(_has_empty(e) for e in n)
        return False

    if _has_empty(data):
        depth, probe = 0, data
        while isinstance(probe, (list, tuple)):
            depth += 1
            probe = probe[0] if probe else None
        return F.lit(data).cast("array<" * depth + "bigint" + ">" * depth)
    return F.expr(_render(data))


def double_array_lit(vals) -> Column:
    """Flat list of floats → ONE parsed SQL array literal (the
    ``bigint_array_lit`` treatment for doubles; ``_sql_double`` repr
    round-trips each value exactly, so the Literal array is
    bit-identical to ``F.array(*[F.lit(v) ...])`` at 1/2N the py4j
    round-trips). Non-finite values (NaN/Inf have no SQL literal
    spelling) and empty input fall back to the per-element path."""
    import math

    vals = [float(v) for v in vals]
    if not vals or not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ", ".join(_sql_double(v) for v in vals) + ")")


def dot_lit_sql(col_name: str, vec: list[float]) -> str:
    """SQL text of the expanded literal dot product — built as ONE string and
    parsed JVM-side in a single call. Building the same tree out of Python
    Column objects costs ~2 py4j round-trips per vector element; for a
    64-dim query that is ~150 driver calls per expression, which dominated
    plan-construction time in the k-NN join. Term order matches the old
    left-fold, so results are bit-identical."""
    if not vec:
        return "CAST(0.0 AS DOUBLE)"
    c = f"`{col_name}`"
    return "(" + " + ".join(
        f"{c}[{i}] * {_sql_double(v)}" for i, v in enumerate(vec)
    ) + ")"


def dot_lit(a: Column | str, vec: list[float]) -> Column:
    """Dot product against a driver-side literal query vector.

    Expands to sum(a[i] * vec_i) — a flat codegen expression with zero array
    allocation, measurably faster than zip_with for a constant query vector.
    String column names take the single-parse SQL fast path (see
    ``dot_lit_sql``); Column inputs fall back to the tree builder.
    """
    if isinstance(a, str):
        return F.expr(dot_lit_sql(a, vec))
    expr = F.lit(0.0)
    for i, v in enumerate(vec):
        expr = expr + a.getItem(i).cast("double") * F.lit(float(v))
    return expr


def plane_dots(a: Column | str, planes: list[list[float]]) -> Column:
    """Dot products against a list of literal hyperplanes, as one array.

    The planes ship as a SINGLE nested-array ``Literal`` node
    (``F.lit(list[list[float]])``), so the expression tree stays O(1) in
    ``n_planes * dim`` instead of one node per coefficient. For the k-NN
    join's 8-plane/64-dim bucket expression that cuts plan build, Catalyst
    analysis, and generated-code size by ~500 nodes per side while the
    per-element arithmetic (cast to double, left-fold sum) stays
    bit-identical to :func:`dot` / :func:`dot_lit_sql`."""
    # one parsed SQL string instead of F.lit(nested list): PySpark's lit()
    # recurses into one py4j call PER ELEMENT (8 planes x 64 dims = ~1,000
    # driver round-trips, ~2 s of every knn_join/LSH query's build time —
    # measured via cProfile: 5.8k send_commands, 3.2 s socket wait). The
    # array literal parses JVM-side in a single call; repr() round-trips
    # each double exactly, so the Literal values are bit-identical.
    pl = F.expr(
        "array(" + ", ".join(
            "array(" + ", ".join(_sql_double(v) for v in p) + ")" for p in planes
        ) + ")"
    )
    v = _c(a).cast("array<double>")
    return F.transform(
        pl,
        lambda p: F.aggregate(
            F.zip_with(v, p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either norm is zero."""
    d = dot(a, b)
    denom = norm(a) * norm(b)
    return F.when(denom != 0, d / denom)


def cosine_lit(a: Column | str, vec: list[float]) -> Column:
    import math

    qn = math.sqrt(sum(float(v) * float(v) for v in vec))
    denom = norm(a) * F.lit(qn)
    return F.when(denom != 0, dot_lit(a, vec) / denom)
