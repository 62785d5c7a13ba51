"""Loaders for the driver-generated synthetic parquet tables.

TPC-H-ish star schema + ``events`` (stream-shaped) + ``documents`` /
``embeddings`` (training-data pipeline tables). See /root/repo/TESTDATA.md.

All loads are plain ``spark.read.parquet`` so Catalyst keeps full pushdown
and pruning rights; no caching here — callers decide what to persist.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etlutil_spark.session import check_read_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at every scale factor the
# schema supports (region/nation are fixed-size in TPC-H).
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Schema cache keyed by the files' identity (path, size, mtime of every
# file under the path): re-reading the same parquet table re-runs schema
# inference (a footer read + py4j round trips, ~100-150 ms per call) for
# a schema that cannot have changed while the files haven't. The catalog
# runs hundreds of load_table calls per bench/parity sweep, so inference
# was a measurable fixed cost of EVERY query (guide §6: metadata work is
# driver-side, single-threaded). The key folds in each file's
# (relpath, size, mtime_ns), so a regenerated dataset misses the cache
# and re-infers — this is metadata caching, never data or result caching.
_SCHEMA_CACHE: dict = {}


def _path_identity(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None  # non-local or vanished path: skip caching
    if not os.path.isdir(path):
        return (path, st.st_size, st.st_mtime_ns)
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            try:
                fst = os.stat(fp)
            except OSError:
                return None
            entries.append((os.path.relpath(fp, path), fst.st_size, fst.st_mtime_ns))
    return (path, tuple(sorted(entries)))


def _read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    ident = _path_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    cached = _SCHEMA_CACHE.get(ident)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[ident] = df.schema
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # epoch<->string formatting is reproducible only under the engine's
    # session TZ (the reference's TZ pitfall, SURVEY §7.4)
    check_read_conf(spark)
    path = f"{sf_dir or DEFAULT_SF_DIR}/{name}.parquet"
    if name == "events":
        return _normalize_timestamps(_read_events(spark, path))
    return _normalize_timestamps(_read_parquet_cached_schema(spark, path))


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Pin ONE timestamp type (TIMESTAMP, i.e. LTZ) at the read boundary.

    Parquet written with tz-naive ``timestamp[us]`` is inferred as
    ``TIMESTAMP_NTZ`` by Spark 4.x, which (a) rejects ``cast("long")``
    (AnalysisException) and (b) shifts window/epoch semantics relative to
    the LTZ+UTC behavior every operator and oracle was verified against.
    Since load_table checks that the session TZ is UTC before the read, an
    NTZ→LTZ cast preserves every wall-clock value exactly; doing it once
    here means no downstream operator ever sees a mixed timestamp zoo."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts has shipped as both parquet TIMESTAMP(NANOS) (read as long
    via the legacy conf, truncated to micros — the same truncation DuckDB
    applies) and plain ``timestamp[us]`` (read natively). Handle both; the
    NTZ→LTZ pin happens in :func:`_normalize_timestamps`."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = _read_parquet_cached_schema(spark, path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # integer DIV, not `/`: long/int promotes to double, whose 53-bit
        # mantissa can't hold ~1.7e18 nanos — off-by-one-microsecond drift
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, *, register_views: bool = False
) -> dict[str, DataFrame]:
    """Load every table; optionally register each as a temp view for SQL."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, name, sf_dir)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
