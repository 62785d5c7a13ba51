"""SparkSession factory.

Defaults are chosen for correctness-reproducibility (UTC session timezone —
the reference's epoch conversions are timezone-sensitive, see
reference ``etlutil/data_structures.py:1140``) and for scale (AQE on, skew
join handling on, nested schema pruning on). On a real cluster the same
settings apply; only master/memory differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Settings that matter at 100 TB just as much as on local[32]:
#  - AQE re-plans shuffles at runtime (skew joins, coalesced partitions,
#    dynamic broadcast conversion).
#  - nested schema pruning keeps struct-heavy scans from reading unused
#    subfields (critical for the flatten/prune operator family).
#  - UTC session timezone pins epoch<->string conversions, and nanosAsLong
#    reads the events' TIMESTAMP(NANOS) encoding (as long; truncated to micros).
_BASE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # local harness writes nothing durable; keep event logs off
    "spark.ui.enabled": "false",
}


# the confs the table loaders read under; they check them, never set them
READ_CONF = {k: _BASE_CONF[k] for k in ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")}


def check_read_conf(spark: SparkSession) -> None:
    """Raise, naming the conf, when ``spark`` holds another value of a
    read conf than :func:`get_spark` sets."""
    for key, want in READ_CONF.items():
        if (got := spark.conf.get(key, None)) != want:
            raise ValueError(f"{key} is {got!r}, not {want!r}: build the session with get_spark")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "etlutil_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied.

    ``shuffle_partitions`` defaults to the harness CPU count; on a real
    cluster set it (or rely on AQE coalescing) to ~2-3x total cores.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
