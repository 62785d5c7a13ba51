"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 (plus
the scale-out extensions) for the DuckDB correctness gate. The catalog lives
in ``etlutil_spark/queries.py``; this file stays a thin adapter.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etlutil_spark import queries as Q
from etlutil_spark.session import READ_CONF


def _adopt(spark: SparkSession) -> None:
    """Give a session the engine did not build the read confs its loaders
    check: the caller of this contract may hand a plain one."""
    for key, value in READ_CONF.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def _adopting(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _adopt(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _adopt(spark)
    return Q.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _adopting(fn) for name, fn in Q.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLES)
