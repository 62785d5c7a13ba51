"""Engine-drift canaries and gate-plumbing guards.

Round 3 postmortem: the harness moved to PySpark 4.1.2 and regenerated the
testdata parquet with tz-naive ``timestamp[us]``, which Spark 4.x infers as
``TIMESTAMP_NTZ``. That single change hard-broke sessionization (NTZ rejects
``cast("long")``), crashed the bench, and shifted stream-vs-batch window
semantics. These tests pin the policies that prevent a recurrence:

  - the read boundary normalizes every timestamp column to ONE type
    (TIMESTAMP, i.e. LTZ under the pinned UTC session TZ);
  - timestamp arithmetic in operators works on an NTZ frame directly
    (``unix_timestamp``, never ``cast("long")``);
  - DuckDB oracles never emit HUGEINT columns (bare ``SUM(bigint)`` output
    columns hash-mismatch Spark's BIGINT even when values agree);
  - the quartiles plan never funnels through a single-partition sort.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etlutil_spark.plans import inspect as P

SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ntz_events_path(spark, tmp_path_factory):
    """A tiny events-shaped parquet written with tz-NAIVE timestamps — the
    exact physical layout the round-3 testdata regeneration introduced."""
    path = str(tmp_path_factory.mktemp("ntz") / "events.parquet")
    pdf = pd.DataFrame(
        {
            "event_id": range(8),
            # two users, gaps of 10min / 2h to force a session split
            "ts": pd.to_datetime(
                [
                    "2024-03-01 10:00:00",
                    "2024-03-01 10:10:00",
                    "2024-03-01 13:00:00",
                    "2024-03-01 13:05:00",
                    "2024-03-01 23:55:00",
                    "2024-03-02 00:05:00",  # straddles midnight: salted stitch path
                    "2024-03-02 09:00:00",
                    "2024-03-02 09:01:00",
                ]
            ),
            "user_id": [1, 1, 1, 1, 2, 2, 2, 2],
            "event_type": ["a"] * 8,
            "value": [1.0] * 8,
            "props": ["{}"] * 8,
        }
    )
    # timestamp[us], tz-naive — the exact layout of the r3+ testdata (ns
    # would write TIMESTAMP(NANOS), which Spark rejects outright)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)
    return path


class TestNTZCanary:
    def test_raw_read_is_ntz(self, spark, ntz_events_path):
        """Precondition: Spark 4.x really does infer NTZ from tz-naive
        parquet — if an engine change flips this, the canary flags it."""
        raw = spark.read.parquet(ntz_events_path)
        assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)

    def test_normalize_pins_ltz(self, spark, ntz_events_path):
        from etlutil_spark.sources.testdata import _normalize_timestamps

        df = _normalize_timestamps(spark.read.parquet(ntz_events_path))
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)

    def test_load_table_never_yields_ntz(self, spark, sf_dir):
        """The actual read boundary: no NTZ column survives load_table."""
        from etlutil_spark.sources.testdata import TABLES, load_table

        for name in TABLES:
            df = load_table(spark, name, sf_dir)
            ntz = [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, T.TimestampNTZType)
            ]
            assert not ntz, f"{name}: NTZ columns leaked through read boundary: {ntz}"

    def test_sessionize_on_ntz_frame(self, spark, ntz_events_path):
        """Operators must survive an UN-normalized NTZ frame too (the
        r3 failure mode): unix_timestamp arithmetic, not cast('long')."""
        from etlutil_spark.operators.sessions import session_stats

        raw = spark.read.parquet(ntz_events_path)  # possibly NTZ ts
        out = session_stats(raw, "user_id", "ts", gap_minutes=30).collect()
        by_user = {}
        for r in out:
            by_user.setdefault(r["user_id"], []).append(r)
        # user 1: 10:00/10:10 then 13:00/13:05 -> 2 sessions
        assert len(by_user[1]) == 2
        # user 2: 23:55+00:05 merge (10min gap) then 09:00/09:01 -> 2 sessions
        assert len(by_user[2]) == 2
        durations = sorted(r["duration_s"] for r in by_user[1])
        assert durations == [300, 600]

    def test_salted_sessionize_matches_unsalted_on_ntz(self, spark, ntz_events_path):
        from etlutil_spark.operators.sessions import session_stats

        raw = spark.read.parquet(ntz_events_path)
        plain = {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_s"])
            for r in session_stats(raw, "user_id", "ts").collect()
        }
        salted = {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_s"])
            for r in session_stats(raw, "user_id", "ts", salted=True).collect()
        }
        assert plain == salted

    def test_windowed_counts_on_normalized_frame(self, spark, ntz_events_path):
        from etlutil_spark.sources.testdata import _normalize_timestamps
        from etlutil_spark.streaming.events import windowed_counts

        df = _normalize_timestamps(spark.read.parquet(ntz_events_path))
        rows = windowed_counts(df, window="1 hour").collect()
        assert sum(r["n_events"] for r in rows) == 8
        # hour buckets at UTC wall clock: 10,13,23 on day 1; 0,9 on day 2
        starts = sorted(r["window_start"].strftime("%d-%H") for r in rows)
        assert starts == ["01-10", "01-13", "01-23", "02-00", "02-09"]


class TestReadConf:
    """The loaders read under the engine's read confs and check them: a
    session holding another value raises, naming the conf, and is left as
    it was instead of being flipped for every later query."""

    @pytest.mark.parametrize(
        "key, value",
        [
            ("spark.sql.session.timeZone", "America/New_York"),
            ("spark.sql.legacy.parquet.nanosAsLong", "false"),
        ],
    )
    def test_other_value_raises_and_is_kept(self, spark, sf_dir, key, value):
        from etlutil_spark.sources.testdata import load_table
        from etlutil_spark.streaming.events import stream_events_from_dir

        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            for name in ("orders", "events"):
                with pytest.raises(ValueError, match=key):
                    load_table(spark, name, sf_dir)
            with pytest.raises(ValueError, match=key):
                stream_events_from_dir(spark, f"{sf_dir}/events.parquet")
            assert spark.conf.get(key) == value
        finally:
            spark.conf.set(key, old)

    def test_entry_adopts_a_plain_session(self, spark, sf_dir):
        """The entry contract's callers may hand a session the engine did
        not build: its queries set the read confs before loading."""
        import __spark_entry__ as entry_mod

        key = "spark.sql.session.timeZone"
        spark.conf.set(key, "Etc/UTC")
        try:
            assert entry_mod.queries()["pricing_cube"](spark, sf_dir).count() > 0
            assert spark.conf.get(key) == "UTC"
        finally:
            spark.conf.set(key, "UTC")


class TestOracleGuards:
    def test_no_hugeint_oracle_columns(self):
        """Bind (don't run) every oracle in DuckDB and reject HUGEINT/int128
        output columns: DuckDB widens SUM(BIGINT) to HUGEINT, which value-
        hashes differently from Spark's BIGINT even for equal numbers —
        the r2/r3 docs_pack_token_budget / corpus_pipeline_e2e failure."""
        import duckdb

        from etlutil_spark.queries import ORACLES
        from etlutil_spark.sources.testdata import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_CORRECTNESS}/{t}.parquet')"
            )
        offenders = {}
        for name, sql in ORACLES.items():
            desc = con.execute(f"DESCRIBE ({sql})").fetchall()
            bad = [c for c, ctype, *_ in desc if "INT128" in ctype or "HUGEINT" in ctype]
            if bad:
                offenders[name] = bad
        assert not offenders, f"HUGEINT output columns (CAST them to BIGINT): {offenders}"

    def test_driver_front_window_covers_unproven_queries(self):
        """The driver checks registration positions 1-50; every query that
        lacks a green driver row on the CURRENT engine must sit inside
        that window (r5: the two never-proven entries plus the r3-green
        back block whose rows predate the r4 shared-infra changes)."""
        from etlutil_spark.queries import QUERIES, _DRIVER_FRONT

        front50 = list(QUERIES)[:50]
        assert front50 == _DRIVER_FRONT[:50]
        must_have = {
            # r13: every query whose CODE changed this round — the
            # cluster-store pairs schema v2 + its serve family, the BPE
            # trainer round-conf change, the restructured queries
            # (concurrent ntile axes, no-Expand margins, weighted
            # sketches, pinned/spread inputs), and the fail-loud-guard
            # consumers. The rest of the window is freshness rotation
            # (late-r12 displaced rows + r6-remainder oldest-first).
            "dedup_containment",
            "dedup_threshold_sweep",
            "docs_split_leakage_neardup",
            "dedup_best_of_cluster",
            "dedup_clusters",
            "dedup_cluster_sizes",
            "dedup_cross_source_matrix",
            "dedup_impact_report",
            "dedup_agreement_ari",
            "docs_release_card",
            "docs_bpe_encode_stats",
            "docs_bpe_vocab_encode_stats",
            "customer_rfm_migration",
            "orders_bootstrap_ci",
            "events_trending_heavy_hitters",
            "lineitem_abc_classes",
            "pricing_grouping_sets",
            "pricing_cube",
            "sketch_join_cardinality",
            "lineitem_checksum_blocks",
            "audit_fk_orphans",
            "events_value_mad_outliers",
            "events_gap_fill_daily",
            # late r13: the quality-score store's five consumers
            "docs_quality_deciles",
            "docs_source_concentration",
            "docs_source_lorenz",
            "docs_robust_scaling",
            "docs_quality_calibration",
        }
        assert must_have <= set(front50)


class TestPlanShapes:
    def test_quartiles_no_single_partition_funnel(self, spark, sf_dir):
        """The r1-r2 implementation used ntile over a global window —
        an 'Exchange SinglePartition' that serializes all rows through one
        task. The distributed-rank rewrite must never reintroduce it."""
        from etlutil_spark.queries import QUERIES

        df = QUERIES["orders_price_quartiles"](spark, sf_dir)
        df.collect()
        assert "SinglePartition" not in P.formatted_plan(df)

    def test_zipf_head_is_distributed_topk(self, spark, sf_dir):
        """docs_zipf_fit's spectrum head must come from a distributed
        TakeOrderedAndProject, never a global rank window that sorts the
        whole vocabulary (Heaps'-law ~1e9 rows at 100 TB) through one
        task before the rank<=500 filter can drop anything."""
        from etlutil_spark.queries import QUERIES

        df = QUERIES["docs_zipf_fit"](spark, sf_dir)
        df.collect()
        plan = P.formatted_plan(df)
        assert "TakeOrderedAndProject" in plan
        # the only window left runs over the 500-row head; the vocab
        # aggregate itself must not feed a single-partition exchange
        before_topk = plan.split("TakeOrderedAndProject")[-1]
        assert "Exchange SinglePartition" not in before_topk

    def test_asof_join_single_exchange_per_side(self, spark, sf_dir):
        """Union-marker as-of join: one shuffle total on (key) for the
        merged stream — no cartesian, no broadcast of a big side."""
        from etlutil_spark.operators.asof import asof_join
        from etlutil_spark.sources.testdata import load_table

        ev = load_table(spark, "events", sf_dir)
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        )
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("value").alias("click_value")
        )
        out = asof_join(purchases, clicks, "user_id", "ts", "ts")
        out.collect()
        plan = P.formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert P.exchange_count(out) <= 2

    def test_scd2_apply_broadcasts_batch_keys(self, spark, sf_dir):
        """Incremental SCD2 apply must split touched/untouched keys via
        broadcast semi/anti joins (batch-sized), never shuffle the full
        dimension against the batch."""
        from etlutil_spark.operators.scd2 import scd2_apply, scd2_intervals
        from etlutil_spark.sources.testdata import load_table

        o = load_table(spark, "orders", sf_dir).select(
            "o_custkey", "o_orderdate", "o_orderpriority"
        )
        dim = scd2_intervals(o, "o_custkey", "o_orderdate", "o_orderpriority")
        batch = o.limit(50)
        out = scd2_apply(dim, batch, "o_custkey", "o_orderdate", "o_orderpriority")
        out.collect()
        plan = P.formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert P.broadcast_count(out) >= 1
