"""Result check against the catalog's DuckDB oracles.

The comparison is the one ``tests/helpers.py`` applies for the catalog's
correctness tests: same column names, same row count, and an
order-insensitive value match with its float tolerance. Its helpers are
imported, not copied; this module only canonicalises each oracle result
once, so that a query run many times is compared without re-running its
oracle.
"""

from __future__ import annotations

from tests.helpers import _norm, _sort_key, _values_equal, run_oracle


def _canon(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key)


class Expected:
    """One oracle result, canonicalised once and matched many times."""

    def __init__(self, sql: str, data_dir: str):
        cols, rows = run_oracle(sql, data_dir)
        self.cols = sorted(cols)
        self.rows = _canon(cols, rows)

    def mismatch(self, cols: list[str], rows: list) -> str | None:
        """None when ``rows`` (Spark Rows or tuples) match, else why not."""
        if sorted(cols) != self.cols:
            return f"columns {sorted(cols)} != {self.cols}"
        got = _canon(cols, rows)
        if len(got) != len(self.rows):
            return f"{len(got)} rows != {len(self.rows)}"
        for i, (g, e) in enumerate(zip(got, self.rows)):
            if not _values_equal(g, e):
                return f"row {i}: {g} != {e}"
        return None
