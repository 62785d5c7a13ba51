"""Seeded generator of the engine's ten input tables.

The catalog's correctness tests and its DuckDB oracles run on the seed-42
testdata tables that TESTDATA.md describes, which are not part of the
repository. This module writes tables of the same schema, row counts and
value domains, so the benchmark can run from a checkout alone. Every domain
below was measured on those tables at sf0.001, sf0.01 and sf0.1, and
``WORKLOADS.md`` lists the measured figures next to this generator's:

- keys uniform over their parent's key range; row counts scale with ``sf``
  (documents and embeddings have a floor of 500 rows);
- prices with two decimals in the testdata's ranges, dates at
  midnight in the same spans, five market segments, priorities and so on;
- events: ``1,000,000 x sf`` rows, timestamps uniform over 30 days from
  2024-01-01 and sorted, ``max(15, 15,000 x sf)`` users, ``props`` a JSON
  object with one key of 100 values;
- documents: 10-99 tokens drawn uniformly from a 30-word vocabulary, and
  exactly 5% of rows replaced by another row's text plus the token "dup" (the
  other row may itself be a duplicate, and may come later in the table);
- embeddings: 64-d isotropic Gaussian vectors scaled to unit norm, with a
  uniform label 0-9 that carries no cluster structure.

Everything is drawn from one ``numpy`` generator seeded by the caller, so
the same (sf, seed) always writes byte-identical tables. Only pyarrow is
used: staging never touches the engine under test.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMB_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _dates(rng, start: str, end: str, n: int) -> pa.Array:
    d0 = datetime.fromisoformat(start)
    span = (datetime.fromisoformat(end) - d0).days
    days = rng.integers(0, span + 1, n)
    us = (np.datetime64(d0, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values, n: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def documents(rng, n: int, dups: bool = True, first_id: int = 0) -> pa.Table:
    """``n`` documents with ids from ``first_id``; 5% of them repeat another
    row's text plus " dup" (none with ``dups`` false)."""
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(_pick(rng, VOCAB, int(k))) for k in lengths]
    for i in np.sort(rng.choice(n, n // 20 if dups else 0, replace=False)):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def lineitem(rng, sf: float) -> pa.Table:
    n_supp, n_part = max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_line),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
    noun = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    out["lineitem"] = lineitem(rng, sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = documents(rng, max(500, int(50_000 * sf)))
    out["embeddings"] = embeddings(rng, max(500, int(20_000 * sf)))
    return out


def stage(out_dir: str, sf: float, seed: int) -> dict[str, dict[str, int]]:
    """Write every table as ``<out_dir>/<name>.parquet``; return their
    row counts and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def stage_burst_files(out_dir: str, docs: pa.Table, per_burst: int, per_file: int,
                      seed: int, prefix: str) -> list[str]:
    """Split each burst of ``per_burst`` consecutive documents into files of
    ``per_file`` documents with a seeded assignment; return the file paths
    in arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths = []
    for lo in range(0, docs.num_rows, per_burst):
        order = lo + rng.permutation(per_burst)
        for k in range(0, per_burst, per_file):
            path = os.path.join(out_dir, f"{prefix}-{len(paths):04d}.parquet")
            pq.write_table(docs.take(pa.array(np.sort(order[k:k + per_file]))), path)
            paths.append(path)
    return paths
