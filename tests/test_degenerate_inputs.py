"""Catalog queries on degenerate inputs, against their DuckDB oracles:
the tables of the smoke fixture with one of them emptied (same schema,
no rows)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from etlutil_spark import queries as Q
from tests.conftest import SF_SMOKE
from tests.helpers import compare_query


@pytest.fixture(scope="module")
def empty_lineitem_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("empty_lineitem")
    for name in os.listdir(SF_SMOKE):
        src = os.path.join(SF_SMOKE, name)
        if name == "lineitem.parquet":
            table = pq.read_table(src)
            pq.write_table(table.schema.empty_table(), str(d / name))
        else:
            os.symlink(src, d / name)
    return str(d)


@pytest.mark.parametrize("name", ["pricing_cube"])
def test_query_on_empty_lineitem_matches_oracle(spark, empty_lineitem_dir, name):
    compare_query(Q.QUERIES[name](spark, empty_lineitem_dir), Q.ORACLES[name], empty_lineitem_dir)
