"""Unit + property tests for the KMV distinct-count sketch
(operators/sketch.py): accuracy bound, exact-mode small groups, merge
closure, and the two-exchange plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etlutil_spark.operators.sketch import (
    kmv_distinct,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from etlutil_spark.sources.testdata import load_table

    return load_table(spark, "events", sf_dir)


class TestKmv:
    def test_exact_below_k(self, events):
        """Fewer distinct values than k -> the estimate IS the exact count."""
        est = {
            r.event_type: r.approx_distinct
            for r in kmv_distinct(events, "event_type", "user_id", k=256).collect()
        }
        exact = {
            r.event_type: r.n
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert est == exact

    def test_estimate_accuracy(self, events):
        """~200 distinct event_ids per type at sf0.001, k=64 -> SE ~ 13%;
        assert within 3 sigma (deterministic: the hash is fixed)."""
        est = {
            r.event_type: r.approx_distinct
            for r in kmv_distinct(events, "event_type", "event_id", k=64).collect()
        }
        exact = {
            r.event_type: r.n
            for r in events.groupBy("event_type")
            .agg(F.countDistinct("event_id").alias("n"))
            .collect()
        }
        for t, n in exact.items():
            assert n > 64, "fixture must exercise the estimate branch"
            assert abs(est[t] - n) / n < 0.4, (t, est[t], n)

    def test_merge_closure(self, events):
        """bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪ bottom_k(B)): merging
        per-partition sketches gives EXACTLY the whole-table estimate."""
        a = events.where(F.col("event_id") % 2 == 0)
        b = events.where(F.col("event_id") % 2 == 1)
        sk_a = kmv_sketch(a, "event_type", "event_id", k=64)
        sk_b = kmv_sketch(b, "event_type", "event_id", k=64)
        merged = kmv_estimate(
            kmv_merge(sk_a, sk_b, "event_type", k=64), "event_type", k=64
        )
        direct = kmv_distinct(events, "event_type", "event_id", k=64)
        m = {r.event_type: r.approx_distinct for r in merged.collect()}
        d = {r.event_type: r.approx_distinct for r in direct.collect()}
        assert m == d

    def test_sketch_bounded(self, events):
        sk = kmv_sketch(events, "event_type", "event_id", k=16)
        per_group = sk.groupBy("event_type").count().collect()
        assert all(r["count"] <= 16 for r in per_group)

    def test_k_validation(self, events):
        with pytest.raises(ValueError, match="k must be"):
            kmv_sketch(events, "event_type", "event_id", k=1)

    def test_two_exchange_plan(self, events):
        """distinct shuffles (group, hash); window + final agg share the
        group-column exchange — no third shuffle."""
        out = kmv_distinct(events, "event_type", "event_id", k=64)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 2


class TestCms:
    @pytest.fixture(scope="class")
    def sketch_and_exact(self, events):
        from etlutil_spark.operators.sketch import cms_sketch

        sk = cms_sketch(events, "user_id", width=256, depth=4)
        exact = {
            r.user_id: r.n
            for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
        }
        return sk, exact

    def test_never_underestimates(self, spark, events, sketch_and_exact):
        from etlutil_spark.operators.sketch import cms_estimate

        sk, exact = sketch_and_exact
        probes = spark.createDataFrame([(u,) for u in exact], "user_id long")
        est = {
            r.user_id: r.est_count
            for r in cms_estimate(sk, probes, "user_id", width=256, depth=4).collect()
        }
        n_total = sum(exact.values())
        for u, true_n in exact.items():
            assert est[u] >= true_n
            assert est[u] - true_n <= 2 * n_total / 256 * 4  # loose CM bound

    def test_unseen_value_small(self, spark, sketch_and_exact):
        from etlutil_spark.operators.sketch import cms_estimate

        sk, exact = sketch_and_exact
        probes = spark.createDataFrame([(999_999,)], "user_id long")
        est = cms_estimate(sk, probes, "user_id", width=256, depth=4).collect()[0]
        n_total = sum(exact.values())
        # not necessarily 0 (collisions), but bounded by the error term
        assert est.est_count <= 2 * n_total / 256 * 4

    def test_merge_is_cellwise_sum(self, spark, events):
        from etlutil_spark.operators.sketch import cms_merge, cms_sketch

        a = cms_sketch(events.where(F.col("event_id") % 2 == 0), "user_id", width=64, depth=2)
        b = cms_sketch(events.where(F.col("event_id") % 2 == 1), "user_id", width=64, depth=2)
        whole = cms_sketch(events, "user_id", width=64, depth=2)
        merged = cms_merge(a, b)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_sketch_size_fixed(self, events):
        from etlutil_spark.operators.sketch import cms_sketch

        sk = cms_sketch(events, "user_id", width=32, depth=3)
        assert sk.count() <= 32 * 3

    def test_validation(self, events):
        from etlutil_spark.operators.sketch import cms_sketch

        with pytest.raises(ValueError, match="width"):
            cms_sketch(events, "user_id", width=1, depth=0)


class TestCountSketch:
    """countsketch_table / countsketch_join_size (r9): signed counters,
    unbiased inner-product estimation, exact odd-depth median."""

    def test_inner_product_exact_when_no_collisions(self, spark):
        """With width >> keys, every key owns its cells and the signed
        inner product recovers sum_k fA(k) fB(k) EXACTLY (signs square
        away) — per row, so the median equals the true value."""
        from pyspark.sql import functions as F

        from etlutil_spark.operators.sketch import (
            countsketch_join_size,
            countsketch_table,
        )

        a = spark.createDataFrame(
            [(k,) for k in [1, 1, 1, 2, 2, 3]], "k long"
        )
        b = spark.createDataFrame(
            [(k,) for k in [1, 2, 2, 2, 4]], "k long"
        )
        # true join size = 3*1 + 2*3 = 9
        sa = countsketch_table(a, "k", width=4096, depth=5, seed="t")
        sb = countsketch_table(b, "k", width=4096, depth=5, seed="t")
        est = countsketch_join_size(sa, sb).collect()
        assert len(est) == 1 and est[0]["est_size"] == 9

    def test_even_surviving_rows_still_yield_one_median(self, spark):
        """Regression (r9 advice): when a hash row shares NO buckets
        across the sketches it drops out of the cell join, leaving an
        EVEN row count; the lower median (n+1)//2 must still select
        exactly one rank (the old (n+1)/2 double division matched
        nothing and returned zero rows)."""
        from etlutil_spark.operators.sketch import countsketch_join_size

        sa = spark.createDataFrame(
            [(0, 0, 2), (1, 0, 3), (2, 5, 1)], "j int, bucket long, c long"
        )
        sb = spark.createDataFrame(
            [(0, 0, 4), (1, 0, 1), (2, 9, 7)], "j int, bucket long, c long"
        )
        # survivors: j=0 est=8, j=1 est=3; j=2 shares no bucket -> n=2,
        # lower median rank (2+1)//2 = 1 -> est 3
        est = countsketch_join_size(sa, sb).collect()
        assert len(est) == 1 and est[0]["est_size"] == 3

    def test_counters_are_signed(self, spark):
        from pyspark.sql import functions as F

        from etlutil_spark.operators.sketch import countsketch_table

        df = spark.createDataFrame([(k,) for k in range(200)], "k long")
        t = countsketch_table(df, "k", width=8, depth=1, seed="s").collect()
        cs = [r["c"] for r in t]
        assert any(c < 0 for c in cs), cs  # signs must actually cancel
        assert sum(cs) != sum(abs(c) for c in cs)

    def test_bad_params_raise(self, spark):
        import pytest as _pytest

        from etlutil_spark.operators.sketch import countsketch_table

        df = spark.createDataFrame([(1,)], "k long")
        with _pytest.raises(ValueError):
            countsketch_table(df, "k", width=1, depth=0)


class TestLogHistogramQuantiles:
    """log_histogram / histogram_quantiles (r9): mergeable, exact-error
    bound vs true nearest-rank quantiles."""

    def test_error_bound_vs_exact(self, spark, sf_dir):
        import math

        from pyspark.sql import functions as F

        from etlutil_spark.operators.sketch import (
            geometric_bounds,
            histogram_quantiles,
            log_histogram,
        )
        from etlutil_spark.sources.testdata import load_table

        rel = 0.05
        o = load_table(spark, "orders", sf_dir).select(
            F.floor("o_totalprice").cast("bigint").alias("v")
        )
        vals = sorted(r["v"] for r in o.collect())
        bounds = geometric_bounds(1_000_000, rel)
        est = {
            r["q"]: r["est"]
            for r in histogram_quantiles(
                log_histogram(o, "v", bounds), [0.5, 0.95, 0.99]
            ).collect()
        }
        for q, e in est.items():
            exact = vals[math.ceil(q * len(vals)) - 1]
            assert abs(e - exact) <= rel * exact + 1, (q, e, exact)

    def test_histogram_is_mergeable(self, spark):
        """Counters add: hist(A ∪ B) == cellwise-sum(hist(A), hist(B))."""
        from pyspark.sql import functions as F

        from etlutil_spark.operators.sketch import geometric_bounds, log_histogram

        bounds = geometric_bounds(10_000, 0.1)
        a = spark.range(0, 500).select((F.col("id") * 7 % 9999).alias("v"))
        b = spark.range(0, 300).select((F.col("id") * 13 % 9999).alias("v"))
        ha = log_histogram(a, "v", bounds)
        hb = log_histogram(b, "v", bounds)
        merged = (
            ha.unionByName(hb)
            .groupBy("bucket", "lo")
            .agg(F.sum("c").alias("c"))
        )
        direct = log_histogram(a.unionByName(b), "v", bounds)
        assert {tuple(r) for r in merged.collect()} == {
            tuple(r) for r in direct.collect()
        }

    def test_bad_bounds_raise(self):
        import pytest as _pytest

        from etlutil_spark.operators.sketch import geometric_bounds

        with _pytest.raises(ValueError):
            geometric_bounds(0)
        with _pytest.raises(ValueError):
            geometric_bounds(100, 1.5)


class TestHistStore:
    """Persisted mergeable-histogram store (sketch.py): store +
    increment == direct, replay absorption, and the streaming sink
    converging to a full rebuild."""

    BOUNDS = [0, 1, 2, 3, 4, 6, 8, 11, 15, 20, 27, 36, 48, 64, 85, 113, 151]

    def _hist_rows(self, spark, path):
        from etlutil_spark.operators.sketch import read_hist_store

        return sorted(
            (r.bucket, r.lo, r.c) for r in read_hist_store(spark, path).collect()
        )

    def test_increment_equals_direct(self, spark, tmp_path):
        from etlutil_spark.operators.sketch import (
            ensure_hist_store,
            log_histogram,
            update_hist_store,
        )

        base = spark.createDataFrame([(v,) for v in range(0, 60)], "v long")
        batch = spark.createDataFrame([(v,) for v in range(40, 150)], "v long")
        path = str(tmp_path / "hist")
        assert ensure_hist_store(
            spark, base, path, value_col="v", bounds=self.BOUNDS
        ) == "built"
        assert update_hist_store(spark, batch, path, batch_id="b1") == "applied"
        # replay is a no-op
        assert update_hist_store(spark, batch, path, batch_id="b1") == "skipped"
        union = base.unionByName(batch)
        direct = sorted(
            (r.bucket, r.lo, r.c)
            for r in log_histogram(union, "v", self.BOUNDS).collect()
        )
        assert self._hist_rows(spark, path) == direct
        # second ensure with same params: the input is an IN-MEMORY frame
        # (per-call sentinel digest — r13's degenerate-digest guard), so
        # the store can't prove freshness and must REBASE (rebuild
        # delta=base, KEEP applied deltas + replay markers) instead of
        # silently reusing; the merged readout is unchanged. A file-backed
        # input with a stable digest returns 'reused' here
        # (test_file_backed_input_reuses below).
        st = ensure_hist_store(spark, base, path, value_col="v", bounds=self.BOUNDS)
        assert (st, st.reason) == ("built", "in-memory")
        assert self._hist_rows(spark, path) == direct
        # param change rebuilds (and wipes old deltas)
        st = ensure_hist_store(spark, base, path, value_col="v", bounds=self.BOUNDS[:-1])
        assert (st, st.reason) == ("built", "params")

    def test_file_backed_input_reuses(self, spark, tmp_path):
        from etlutil_spark.operators.sketch import ensure_hist_store

        src = str(tmp_path / "src")
        spark.createDataFrame([(v,) for v in range(0, 60)], "v long").write.parquet(src)
        base = spark.read.parquet(src)
        path = str(tmp_path / "hist2")
        assert ensure_hist_store(
            spark, base, path, value_col="v", bounds=self.BOUNDS
        ) == "built"
        # stable digest: second ensure with identical params + unchanged
        # files is metadata-only
        assert ensure_hist_store(
            spark, base, path, value_col="v", bounds=self.BOUNDS
        ) == "reused"

    def test_stream_sink_converges_to_rebuild(self, spark, tmp_path):
        from etlutil_spark.operators.sketch import (
            ensure_hist_store,
            hist_update_sink,
            log_histogram,
        )

        base = spark.createDataFrame([(v,) for v in range(0, 30)], "v long")
        b1 = [(v,) for v in range(25, 90)]
        b2 = [(v,) for v in range(80, 140)]
        path = str(tmp_path / "hist_stream")
        ensure_hist_store(spark, base, path, value_col="v", bounds=self.BOUNDS)
        src = str(tmp_path / "src")
        spark.createDataFrame(b1 + b2, "v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            spark.readStream.schema("v long")
            .parquet(src)
            .writeStream.foreachBatch(hist_update_sink(path))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        union = spark.createDataFrame(
            [(v,) for v in range(0, 30)] + b1 + b2, "v long"
        )
        direct = sorted(
            (r.bucket, r.lo, r.c)
            for r in log_histogram(union, "v", self.BOUNDS).collect()
        )
        assert self._hist_rows(spark, path) == direct

    def test_compaction_preserves_histogram_and_markers(self, spark, tmp_path):
        from etlutil_spark.operators.sketch import (
            compact_hist_store,
            ensure_hist_store,
            update_hist_store,
        )

        base = spark.createDataFrame([(v,) for v in range(0, 50)], "v long")
        b1 = spark.createDataFrame([(v,) for v in range(10, 70)], "v long")
        b2 = spark.createDataFrame([(v,) for v in range(60, 151)], "v long")
        path = str(tmp_path / "hist_c")
        ensure_hist_store(spark, base, path, value_col="v", bounds=self.BOUNDS)
        update_hist_store(spark, b1, path, batch_id="b1")
        update_hist_store(spark, b2, path, batch_id="b2")
        before = self._hist_rows(spark, path)
        assert compact_hist_store(spark, path) == "compacted"
        assert self._hist_rows(spark, path) == before
        # folded batches stay absorbed after compaction
        assert update_hist_store(spark, b1, path, batch_id="b1") == "skipped"
        # and new increments still apply
        b3 = spark.createDataFrame([(1,), (2,)], "v long")
        assert update_hist_store(spark, b3, path, batch_id="b3") == "applied"

    def test_keyed_store_stream_sink_converges(self, spark, tmp_path):
        from etlutil_spark.operators.sketch import (
            ensure_hist_store,
            hist_update_sink,
            log_histogram_by,
        )

        base = spark.createDataFrame(
            [("a", v) for v in range(0, 20)] + [("b", v) for v in range(5, 40)],
            "k string, v long",
        )
        b1 = [("a", v) for v in range(30, 90)] + [("b", v) for v in range(0, 9)]
        path = str(tmp_path / "hist_keyed")
        ensure_hist_store(
            spark, base, path, value_col="v", bounds=self.BOUNDS, key_col="k"
        )
        src = str(tmp_path / "src_k")
        spark.createDataFrame(b1, "k string, v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            spark.readStream.schema("k string, v long")
            .parquet(src)
            .writeStream.foreachBatch(hist_update_sink(path))
            .option("checkpointLocation", str(tmp_path / "ckpt_k"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        union = base.unionByName(spark.createDataFrame(b1, "k string, v long"))
        direct = sorted(
            (r.key, r.bucket, r.lo, r.c)
            for r in log_histogram_by(union, "k", "v", self.BOUNDS).collect()
        )
        from etlutil_spark.operators.sketch import read_hist_store

        got = sorted(
            (r.key, r.bucket, r.lo, r.c)
            for r in read_hist_store(spark, path).collect()
        )
        assert got == direct

    def test_update_retry_after_lost_marker_does_not_double_count(
        self, spark, tmp_path
    ):
        """Crash-safety: the delta write overwrites its own partition
        dir, so a retry whose previous attempt committed the job but
        died before stamping the _applied marker REPLACES the delta
        instead of appending a second copy."""
        from etlutil_spark.operators.sketch import (
            ensure_hist_store,
            update_hist_store,
        )

        base = spark.createDataFrame([(v,) for v in range(0, 40)], "v long")
        batch = spark.createDataFrame([(v,) for v in range(20, 100)], "v long")
        path = str(tmp_path / "hist_crash")
        ensure_hist_store(spark, base, path, value_col="v", bounds=self.BOUNDS)
        assert update_hist_store(spark, batch, path, batch_id="b1") == "applied"
        want = self._hist_rows(spark, path)
        # simulate the crash window: job committed, marker lost
        import os

        from etlutil_spark.operators.store import store_dir

        os.remove(os.path.join(store_dir(spark, path, "hist"), "_applied_b1"))
        assert update_hist_store(spark, batch, path, batch_id="b1") == "applied"
        assert self._hist_rows(spark, path) == want

    def test_content_change_rebuilds_store(self, spark, tmp_path):
        """Same path + same params + REGENERATED source data must
        rebuild, not silently serve the stale store (the dataset digest
        in _hist_meta.json)."""
        from etlutil_spark.operators.sketch import ensure_hist_store

        src = str(tmp_path / "src_data")
        spark.createDataFrame([(v,) for v in range(0, 30)], "v long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        path = str(tmp_path / "hist_digest")
        df1 = spark.read.parquet(src)
        assert ensure_hist_store(
            spark, df1, path, value_col="v", bounds=self.BOUNDS
        ) == "built"
        assert ensure_hist_store(
            spark, df1, path, value_col="v", bounds=self.BOUNDS
        ) == "reused"
        # regenerate the dataset at the same path with different contents
        spark.createDataFrame([(v,) for v in range(0, 150)], "v long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        df2 = spark.read.parquet(src)
        # digest-only mismatch: same contract, regenerated data — the
        # base histogram is rebuilt and applied batches are carried over
        st = ensure_hist_store(spark, df2, path, value_col="v", bounds=self.BOUNDS)
        assert (st, st.reason) == ("built", "data")
        # and the store now serves the NEW data's histogram
        from etlutil_spark.operators.sketch import log_histogram

        direct = sorted(
            (r.bucket, r.lo, r.c)
            for r in log_histogram(df2, "v", self.BOUNDS).collect()
        )
        assert self._hist_rows(spark, path) == direct

    def test_digest_rebase_preserves_applied_deltas(self, spark, tmp_path):
        """The r11 digest guard wiped the WHOLE store on a regenerated
        base dataset — including committed delta=<batch_id> partitions a
        streaming source will never redeliver. A digest-only mismatch
        must rebuild just delta=base and keep the deltas + replay
        markers; a PARAM change still wipes (incompatible bucketing)."""
        import os

        from etlutil_spark.operators.sketch import (
            ensure_hist_store,
            log_histogram,
            update_hist_store,
        )
        from etlutil_spark.operators.store import store_dir

        src = str(tmp_path / "src_rebase")
        spark.createDataFrame([(v,) for v in range(0, 30)], "v long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        path = str(tmp_path / "hist_rebase")
        ensure_hist_store(
            spark, spark.read.parquet(src), path, value_col="v",
            bounds=self.BOUNDS,
        )
        batch = spark.createDataFrame([(v,) for v in range(40, 60)], "v long")
        assert update_hist_store(spark, batch, path, batch_id="b1") == "applied"
        # regenerate the base dataset: digest-only mismatch
        spark.createDataFrame([(v,) for v in range(0, 90)], "v long").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        df2 = spark.read.parquet(src)
        st = ensure_hist_store(spark, df2, path, value_col="v", bounds=self.BOUNDS)
        assert (st, st.reason) == ("built", "data")
        # b1's contribution survived: store == new base + batch, and the
        # replay marker still short-circuits a redelivery
        direct = sorted(
            (r.bucket, r.lo, r.c)
            for r in log_histogram(
                df2.unionByName(batch), "v", self.BOUNDS
            ).collect()
        )
        assert self._hist_rows(spark, path) == direct
        assert os.path.exists(os.path.join(store_dir(spark, path, "hist"), "_applied_b1"))
        assert update_hist_store(spark, batch, path, batch_id="b1") == "skipped"
        # a PARAM change (different bounds) is a full wipe: deltas are
        # bucketed under an incompatible contract
        st = ensure_hist_store(spark, df2, path, value_col="v", bounds=self.BOUNDS[:-2])
        assert (st, st.reason) == ("built", "params")
        assert not os.path.exists(os.path.join(store_dir(spark, path, "hist"), "_applied_b1"))

    def test_reader_rejects_schema_surprise(self, spark, tmp_path):
        """A stray column in a delta must fail loudly, not silently
        change the aggregation grain."""
        import pytest

        from etlutil_spark.operators.sketch import (
            ensure_hist_store,
            read_hist_store,
        )
        from etlutil_spark.operators.store import store_dir

        base = spark.createDataFrame([(v,) for v in range(0, 30)], "v long")
        path = str(tmp_path / "hist_strict")
        ensure_hist_store(spark, base, path, value_col="v", bounds=self.BOUNDS)
        cur = store_dir(spark, path, "hist")
        spark.createDataFrame(
            [(1, 1, 3, "x")], "bucket long, lo long, c long, stray string"
        ).write.mode("overwrite").parquet(cur + "/delta=bad")
        open(cur + "/_applied_bad", "w").close()  # committed: readers see it
        with pytest.raises(Exception, match="does not match its metadata"):
            read_hist_store(spark, path).collect()

    def test_below_bounds_raises_named_error(self, spark):
        """Values below bounds[0] raise an error naming the column and
        the contract, not element_at's opaque index error."""
        import pytest

        from etlutil_spark.operators.sketch import (
            log_histogram,
            log_histogram_by,
        )

        neg = spark.createDataFrame([(-5,), (3,)], "v long")
        with pytest.raises(Exception, match="below"):
            log_histogram(neg, "v", self.BOUNDS).collect()
        negk = spark.createDataFrame([("a", -5), ("a", 3)], "k string, v long")
        with pytest.raises(Exception, match="below"):
            log_histogram_by(negk, "k", "v", self.BOUNDS).collect()

    def test_update_rejects_unsafe_batch_ids(self, spark, tmp_path):
        """batch_id lands in a directory name: 'base' would clobber the
        store's own base partition and path metacharacters corrupt the
        layout — both must raise before any write happens."""
        import pytest

        from etlutil_spark.operators.sketch import (
            ensure_hist_store,
            update_hist_store,
        )

        d = spark.createDataFrame([(v,) for v in range(10)], "v long")
        path = str(tmp_path / "hist_ids")
        ensure_hist_store(spark, d, path, value_col="v", bounds=self.BOUNDS)
        before = self._hist_rows(spark, path)
        for bad in ("base", "a/b", "x y", "", "a=b"):
            with pytest.raises(ValueError, match="batch_id"):
                update_hist_store(spark, d, path, batch_id=bad)
        assert self._hist_rows(spark, path) == before

    def test_corrupt_meta_rebuilds_instead_of_bricking(self, spark, tmp_path):
        """A crash between the parquet job and the meta write leaves a
        truncated _hist_meta.json; ensure must rebuild, not raise
        JSONDecodeError forever."""
        import os

        from etlutil_spark.operators.sketch import ensure_hist_store
        from etlutil_spark.operators.store import store_dir

        d = spark.createDataFrame([(v,) for v in range(10)], "v long")
        path = str(tmp_path / "hist_meta")
        ensure_hist_store(spark, d, path, value_col="v", bounds=self.BOUNDS)
        with open(os.path.join(store_dir(spark, path, "hist"), "_hist_meta.json"), "w") as fh:
            fh.write('{"params": {"value_col')  # truncated mid-write
        st = ensure_hist_store(spark, d, path, value_col="v", bounds=self.BOUNDS)
        assert (st, st.reason) == ("built", "corrupt")


class TestWeightedSketches:
    """weight_col contract (r13): sketching a pre-collapsed (key, count)
    table is bit-identical to sketching the raw rows — the optimization
    sketch_join_cardinality rides."""

    def _raw(self, spark):
        rows = [(k,) for k in [1, 1, 1, 2, 2, 3, 5, 5, 5, 5, 8]]
        return spark.createDataFrame(rows + [(None,)], "k bigint")

    def test_cms_weighted_equals_raw(self, spark):
        from pyspark.sql import functions as F

        from etlutil_spark.operators.sketch import cms_sketch

        raw = self._raw(spark)
        counts = raw.where(F.col("k").isNotNull()).groupBy("k").agg(
            F.count("*").cast("bigint").alias("w")
        )
        a = sorted(map(tuple, cms_sketch(raw, "k", width=16, depth=3, seed="t").collect()))
        b = sorted(
            map(
                tuple,
                cms_sketch(
                    counts, "k", width=16, depth=3, seed="t", weight_col="w"
                ).collect(),
            )
        )
        assert a == b

    def test_countsketch_weighted_equals_raw(self, spark):
        from pyspark.sql import functions as F

        from etlutil_spark.operators.sketch import countsketch_table

        raw = self._raw(spark)
        counts = raw.where(F.col("k").isNotNull()).groupBy("k").agg(
            F.count("*").cast("bigint").alias("w")
        )
        a = sorted(
            map(tuple, countsketch_table(raw, "k", width=16, depth=3, seed="t").collect())
        )
        b = sorted(
            map(
                tuple,
                countsketch_table(
                    counts, "k", width=16, depth=3, seed="t", weight_col="w"
                ).collect(),
            )
        )
        assert a == b
