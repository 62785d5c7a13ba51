"""The shared pin() mechanism (operators/util.py; r12 verdict item 2).

Every multi-consumer materialization in the engine routes through
``pin``/``pin_eager``, switchable via ``spark.etlutil.pinMode`` between
the local-mode default (localCheckpoint), the recompute-capable cluster
posture (persist DISK_ONLY), and the reliable checkpoint. These tests
flip the switch and prove results are identical, plus pin-specific
failure modes fail loudly.
"""

import pytest
from pyspark.sql import functions as F

from etlutil_spark.operators.util import pin, pin_eager

MODES = ("localCheckpoint", "persist", "checkpoint")


@pytest.fixture()
def ckpt_dir(tmp_path, spark):
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    return d


def test_pin_checkpoint_mode_requires_dir(spark):
    """checkpoint mode with no checkpoint dir anywhere fails loudly
    (never silently downgrades to a non-fault-tolerant pin)."""
    sc = spark.sparkContext
    if not sc._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("checkpoint dir already set for this shared session")
    old = spark.conf.get("spark.etlutil.pinMode", "localCheckpoint")
    try:
        spark.conf.set("spark.etlutil.pinMode", "checkpoint")
        with pytest.raises(ValueError, match="checkpoint"):
            pin(spark.range(3))
    finally:
        spark.conf.set("spark.etlutil.pinMode", old)


def _frame(spark):
    return (
        spark.range(0, 1000)
        .select(
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )


def test_pin_modes_identical_results(spark, ckpt_dir):
    old = spark.conf.get("spark.etlutil.pinMode", "localCheckpoint")
    try:
        per_mode = {}
        for mode in MODES:
            spark.conf.set("spark.etlutil.pinMode", mode)
            pinned = _frame(spark).transform(pin)
            # two consumers: an aggregate and a self-join through the pin
            agg = pinned.agg(F.sum("s")).collect()[0][0]
            j = (
                pinned.alias("a")
                .join(pinned.alias("b"), "k")
                .count()
            )
            per_mode[mode] = (agg, j)
        assert len(set(per_mode.values())) == 1, per_mode
    finally:
        spark.conf.set("spark.etlutil.pinMode", old)


def test_pin_eager_materializes_and_matches(spark, ckpt_dir):
    old = spark.conf.get("spark.etlutil.pinMode", "localCheckpoint")
    try:
        vals = {}
        for mode in MODES:
            spark.conf.set("spark.etlutil.pinMode", mode)
            pinned = _frame(spark).transform(pin_eager)
            vals[mode] = sorted(map(tuple, pinned.collect()))
        assert len({str(v) for v in vals.values()}) == 1
    finally:
        spark.conf.set("spark.etlutil.pinMode", old)


def test_pin_unknown_mode_rejected(spark):
    old = spark.conf.get("spark.etlutil.pinMode", "localCheckpoint")
    try:
        spark.conf.set("spark.etlutil.pinMode", "bogus")
        with pytest.raises(ValueError, match="pinMode"):
            pin(spark.range(3))
    finally:
        spark.conf.set("spark.etlutil.pinMode", old)


def test_registered_queries_identical_across_pin_modes(spark, sf_dir, ckpt_dir):
    """End-to-end: pinned query DAGs (exact-ntile chains, shared-subtree
    pins, iterative loops) return identical rows under every pin mode."""
    import etlutil_spark.queries as Q

    names = ("docs_pack_token_budget", "docs_curriculum", "events_funnel")
    old = spark.conf.get("spark.etlutil.pinMode", "localCheckpoint")
    try:
        per_q = {}
        for mode in MODES:
            spark.conf.set("spark.etlutil.pinMode", mode)
            for name in names:
                rows = sorted(map(str, Q.QUERIES[name](spark, sf_dir).collect()))
                per_q.setdefault(name, []).append(rows)
        for name, runs in per_q.items():
            assert all(r == runs[0] for r in runs), f"{name} differs across pin modes"
    finally:
        spark.conf.set("spark.etlutil.pinMode", old)


def test_pin_keeps_scan_size_estimate(spark, tmp_path):
    """A pinned parquet scan keeps the scan's sizeInBytes, so a join
    against it is still planned from the real estimate."""
    spark.range(2000).selectExpr("id", "id % 7 AS k").write.parquet(
        str(tmp_path / "t")
    )
    scan = spark.read.parquet(str(tmp_path / "t"))

    def size(df):
        return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    want = size(scan)
    assert 0 < want < 2**63 - 1
    assert size(scan.transform(pin)) == want
    assert size(scan.transform(pin_eager)) == want
