"""Local mirror of the driver's correctness gate.

Runs a Spark query and its DuckDB oracle SQL side by side and compares:
row count, column names (sorted), and an order-insensitive value
comparison with float tolerance. Keeping this in-repo means every
``queries()``/``oracle_sql()`` pair is validated in pytest before the
driver ever sees it.
"""

from __future__ import annotations

import math
import os
import shutil
from datetime import date, datetime
from decimal import Decimal

import duckdb

from etlutil_spark.sources.testdata import TABLES

FLOAT_REL_TOL = 1e-9
FLOAT_ABS_TOL = 1e-9


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple(
        (v is None, str(type(v).__name__), str(v)) for v in row
    )


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return math.isclose(af, bf, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_values_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare_query(spark_df, oracle_sql_text: str, sf_dir: str) -> None:
    """Assert spark result == duckdb oracle result (order-insensitive,
    columns sorted by name — same contract as the driver)."""
    o_cols, o_rows = run_oracle(oracle_sql_text, sf_dir)

    s_cols = spark_df.columns
    assert sorted(s_cols) == sorted(o_cols), (
        f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    o_order = sorted(range(len(o_cols)), key=lambda i: o_cols[i])

    s_rows = [tuple(_norm(r[i]) for i in order) for r in spark_df.collect()]
    o_rows_n = [tuple(_norm(r[i]) for i in o_order) for r in o_rows]

    assert len(s_rows) == len(o_rows_n), (
        f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows_n)}"
    )

    s_sorted = sorted(s_rows, key=_sort_key)
    o_sorted = sorted(o_rows_n, key=_sort_key)
    mismatches = []
    for i, (sr, orow) in enumerate(zip(s_sorted, o_sorted)):
        if not _values_equal(sr, orow):
            mismatches.append((i, sr, orow))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"value mismatches (spark vs oracle): {mismatches}"


def crash_mid_build(path: str) -> None:
    """Leave at ``path`` what a sink batch that dies mid-commit leaves: a
    half-written builder dir next to the state, and a version dir inside
    it whose sidecar never landed (an object store's non-atomic rename
    copies file by file). Both copy the current version's data files."""
    newest = sorted(n for n in os.listdir(path) if n.startswith("v_"))[-1]
    for scratch in (path + "__build_0badc0ffee00", os.path.join(path, "v_9999999999_0badc0de")):
        shutil.copytree(os.path.join(path, newest), scratch)
        for n in os.listdir(scratch):
            if n.startswith(("_", "._")) and not os.path.isdir(os.path.join(scratch, n)):
                os.remove(os.path.join(scratch, n))


def crash_mid_delta(path: str, batch_id, like) -> None:
    """Leave in the current version at ``path`` what a batch that dies
    before its ``_applied_`` marker leaves: a complete
    ``delta=<batch_id>`` dir without a marker. It copies the committed
    delta of batch ``like``, so a reader that sees it shows it."""
    newest = sorted(n for n in os.listdir(path) if n.startswith("v_"))[-1]
    shutil.copytree(
        os.path.join(path, newest, f"delta={like}"),
        os.path.join(path, newest, f"delta={batch_id}"),
    )
