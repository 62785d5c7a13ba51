"""Small-file compaction planner (sources/io.py:compaction_plan): the
parquet maintenance pass, validated against a really fragmented
directory written for the occasion."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from etlutil_spark.sources.io import compact_apply, compaction_plan


@pytest.fixture(scope="module")
def fragmented(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("frag") / "orders")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(24).write.mode("overwrite").parquet(path)
    return path


class TestCompactionPlan:
    def test_every_small_file_binned_once(self, spark, fragmented):
        target = 256 * 1024
        plan = compaction_plan(spark, fragmented, target_bytes=target).collect()
        planned = [r["file_path"] for r in plan]
        assert len(planned) == len(set(planned))  # no file in two bins
        on_disk = {f for f in glob.glob(f"{fragmented}/*.parquet")}
        assert len(on_disk) == 24
        # every on-disk file smaller than the threshold is in the plan
        import os

        small = {f for f in on_disk if os.path.getsize(f) < target * 0.5}
        assert len(planned) == len(small)

    def test_bins_respect_target_with_one_file_slack(self, spark, fragmented):
        target = 256 * 1024
        plan = compaction_plan(spark, fragmented, target_bytes=target)
        per_bin = (
            plan.groupBy("bin")
            .agg(F.sum("file_size").alias("total"), F.max("file_size").alias("biggest"))
            .collect()
        )
        assert per_bin, "fragmented input must produce at least one bin"
        for r in per_bin:
            assert r["total"] <= target + r["biggest"], r

    def test_deterministic_across_calls(self, spark, fragmented):
        a = sorted(map(tuple, compaction_plan(spark, fragmented, target_bytes=256 * 1024).collect()))
        b = sorted(map(tuple, compaction_plan(spark, fragmented, target_bytes=256 * 1024).collect()))
        assert a == b

    def test_apply_rewrites_one_file_per_bin_losslessly(self, spark, fragmented, tmp_path):
        target = 256 * 1024
        plan = compaction_plan(spark, fragmented, target_bytes=target)
        out = str(tmp_path / "compacted")
        n_bins = compact_apply(spark, plan, out)
        assert n_bins == plan.select("bin").distinct().count()
        for b in range(n_bins):
            assert len(glob.glob(f"{out}/bin={b}/*.parquet")) == 1
        # no rows lost or duplicated across the rewrite
        planned_files = [r["file_path"] for r in plan.collect()]
        before = spark.read.parquet(*planned_files).count()
        after = spark.read.parquet(*(glob.glob(f"{out}/bin=*/*.parquet"))).count()
        assert before == after

    def test_bad_params_raise(self, spark, fragmented):
        with pytest.raises(ValueError, match="target_bytes"):
            compaction_plan(spark, fragmented, target_bytes=0)


class TestEnsureBucketedTable:
    """r9 fixture split: the bucketed-store build must run at most once
    per box; later sessions reattach metadata-only and the catalog-hot
    path is a no-op."""

    def test_three_states(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from etlutil_spark.sources.io import ensure_bucketed_table

        # file-backed input: an in-memory frame digests to a per-call
        # sentinel (the r13 degenerate-digest guard) and would rebuild on
        # every ensure — the catalog/reattach contract needs a stable
        # source identity
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).write.parquet(str(tmp_path / "src"))
        df = spark.read.parquet(str(tmp_path / "src"))
        path = str(tmp_path / "bkt")
        kw = dict(bucket_by=["k"], n_buckets=4, sort_by=["k"], path=path)
        t = "default.ensure_bkt_test"
        try:
            assert ensure_bucketed_table(spark, df, t, **kw) == "written"
            assert ensure_bucketed_table(spark, df, t, **kw) == "catalog"
            # simulate a fresh session: catalog forgets, files survive
            spark.sql(f"DROP TABLE {t}")
            assert ensure_bucketed_table(spark, df, t, **kw) == "reattached"
            got = spark.table(t)
            assert got.count() == 100
            # the reattached spec must restore shuffle-free keyed aggs
            agg = got.groupBy("k").count()
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_spec_mismatch_rebuilds_instead_of_reattaching(
        self, spark, tmp_path
    ):
        """r9 advice: a surviving store whose _bucket_spec.json differs
        from the caller's current spec must be REBUILT — reattaching
        would declare a distribution the files don't have and silently
        mis-join. A store with no spec file at all (legacy / tampered)
        rebuilds too."""
        import os

        from pyspark.sql import functions as F

        from etlutil_spark.operators.store import store_dir
        from etlutil_spark.sources.io import ensure_bucketed_table

        # file-backed for a stable digest (see test_three_states)
        spark.range(50).select(F.col("id").alias("k")).write.parquet(
            str(tmp_path / "src")
        )
        df = spark.read.parquet(str(tmp_path / "src"))
        path = tmp_path / "bkt_spec"
        t = "default.ensure_bkt_spec"
        try:
            kw4 = dict(bucket_by=["k"], n_buckets=4, path=str(path))
            assert ensure_bucketed_table(spark, df, t, **kw4) == "written"
            spec = os.path.join(store_dir(spark, str(path), "bucketed"), "_bucket_spec.json")
            assert os.path.exists(spec)
            spark.sql(f"DROP TABLE {t}")
            # same spec -> metadata-only reattach
            assert ensure_bucketed_table(spark, df, t, **kw4) == "reattached"
            spark.sql(f"DROP TABLE {t}")
            # changed bucket count -> spec mismatch -> rebuild
            kw8 = dict(bucket_by=["k"], n_buckets=8, path=str(path))
            assert ensure_bucketed_table(spark, df, t, **kw8) == "written"
            assert spark.table(t).count() == 50
            spark.sql(f"DROP TABLE {t}")
            # missing spec in the current store version -> rebuild
            os.remove(
                os.path.join(store_dir(spark, str(path), "bucketed"), "_bucket_spec.json")
            )
            assert ensure_bucketed_table(spark, df, t, **kw8) == "written"
            assert spark.table(t).count() == 50
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_regenerated_source_rebuilds_not_reattaches(
        self, spark, tmp_path
    ):
        """r12: the spec now carries the SOURCE dataset's content
        digest. A bucketed store built from a previous generation of
        the data must not be reattached (or served catalog-hot) — both
        paths would silently join stale rows."""
        from pyspark.sql import functions as F

        from etlutil_spark.sources.io import ensure_bucketed_table

        src = str(tmp_path / "bkt_src")
        spark.range(60).select(F.col("id").alias("k")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        df = spark.read.parquet(src)
        path = str(tmp_path / "bkt_digest")
        kw = dict(bucket_by=["k"], n_buckets=4, path=path)
        t = "default.ensure_bkt_digest"
        try:
            assert ensure_bucketed_table(spark, df, t, **kw) == "written"
            # regenerate the SOURCE at the same path with different rows
            spark.range(25).select(F.col("id").alias("k")).coalesce(
                1
            ).write.mode("overwrite").parquet(src)
            df2 = spark.read.parquet(src)
            # catalog still knows the table, but the digest mismatches:
            # catalog-hot path must rebuild, not serve the stale 60 rows
            assert ensure_bucketed_table(spark, df2, t, **kw) == "written"
            assert spark.table(t).count() == 25
            # fresh-session shape: catalog forgets, files survive — the
            # reattach path must also honor the digest
            spark.sql(f"DROP TABLE {t}")
            assert ensure_bucketed_table(spark, df2, t, **kw) == "reattached"
            spark.range(10).select(F.col("id").alias("k")).coalesce(
                1
            ).write.mode("overwrite").parquet(src)
            df3 = spark.read.parquet(src)
            spark.sql(f"DROP TABLE {t}")
            assert ensure_bucketed_table(spark, df3, t, **kw) == "written"
            assert spark.table(t).count() == 10
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_partial_write_without_marker_is_rebuilt(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from etlutil_spark.sources.io import ensure_bucketed_table

        df = spark.range(10).select(F.col("id").alias("k"))
        path = tmp_path / "partial"
        path.mkdir()
        (path / "part-00000-dead.parquet").write_bytes(b"not parquet")
        t = "default.ensure_bkt_partial"
        try:
            state = ensure_bucketed_table(
                spark, df, t, bucket_by=["k"], n_buckets=2, path=str(path)
            )
            assert state == "written"
            assert spark.table(t).count() == 10
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestEnsureServingStores:
    """r10: the build-once contract on the postings and IVF stores
    (same _SUCCESS + sidecar rule as the bucketed table)."""

    def test_postings_store_reuse_and_param_invalidation(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from etlutil_spark.operators.text_analysis import (
            bm25_serve,
            ensure_postings_store,
        )

        # file-backed for a stable digest (see test_three_states)
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "beta gamma delta"), (3, "alpha")],
            "doc_id bigint, text string",
        ).write.parquet(str(tmp_path / "src"))
        df = spark.read.parquet(str(tmp_path / "src"))
        path = str(tmp_path / "postings")
        assert ensure_postings_store(spark, df, path, n_buckets=8) == "built"
        assert ensure_postings_store(spark, df, path, n_buckets=8) == "reused"
        out = {r["doc_id"]: r["n_matched_terms"]
               for r in bm25_serve(spark, path, ["alpha", "beta"], k=10).collect()}
        assert out == {1: 2, 2: 1, 3: 1}
        # param change invalidates
        st = ensure_postings_store(spark, df, path, n_buckets=4)
        assert (st, st.reason) == ("built", "params")

    def test_serve_probe_bucket_matches_written_bucket(self, spark, tmp_path):
        """The bucket bm25_serve probes for a term (Python md5 of its UTF-8
        bytes) is the bucket the writer stored it under (JVM
        ``pmod(md5_bigint(term), n)``), for ASCII and non-ASCII terms, and
        serving finds a document by a non-ASCII term."""
        from etlutil_spark.operators.store import open_store, read_table
        from etlutil_spark.operators.text_analysis import (
            _term_bucket,
            bm25_serve,
            ensure_postings_store,
        )

        spark.createDataFrame(
            [
                (1, "the quick brown fox"),
                (2, "die Straße ist groß und schön"),
                (3, "le café était déjà fermé à noël"),
                (4, "数据 处理 系统 和 数据库"),
                (5, "Ελληνικά κείμενα και русский текст"),
            ],
            "doc_id bigint, text string",
        ).write.parquet(str(tmp_path / "src"))
        df = spark.read.parquet(str(tmp_path / "src"))
        path = str(tmp_path / "postings")
        ensure_postings_store(spark, df, path, n_buckets=16)
        stored = {
            (r["term"], r["bucket"])
            for r in read_table(spark, open_store(spark, path, "postings"))
            .select("term", "bucket").collect()
        }
        terms = {t for t, _ in stored}
        assert {"fox", "straße", "café", "数据", "ελληνικά", "русский"} <= terms
        assert any(not t.isascii() for t in terms)
        assert len(terms) == len(stored)  # one bucket per term
        assert {(t, _term_bucket(t, 16)) for t in terms} == stored
        for term, doc in [("straße", 2), ("déjà", 3), ("数据库", 4), ("текст", 5)]:
            got = [r["doc_id"] for r in bm25_serve(spark, path, [term], k=5).collect()]
            assert got == [doc], term

    def test_ivf_store_reuse(self, spark, tmp_path):
        from etlutil_spark.operators.similarity import ensure_ivf_store, ivf_topk

        # file-backed for a stable digest (see test_three_states)
        spark.createDataFrame(
            [(i, [float(i), float(-i), 1.0, 0.5]) for i in range(30)],
            "vec_id bigint, embedding array<double>",
        ).write.parquet(str(tmp_path / "src"))
        df = spark.read.parquet(str(tmp_path / "src"))
        path = str(tmp_path / "ivf")
        assert ensure_ivf_store(spark, df, path, n_planes=3) == "built"
        assert ensure_ivf_store(spark, df, path, n_planes=3) == "reused"
        got = ivf_topk(spark, path, [1.0, -1.0, 1.0, 0.5], k=3,
                       n_planes=3, multiprobe_hamming=1).collect()
        assert len(got) == 3
        st = ensure_ivf_store(spark, df, path, n_planes=4)
        assert (st, st.reason) == ("built", "params")

    def test_postings_increment_equals_rebuild_and_absorbs_replay(
        self, spark, tmp_path
    ):
        from etlutil_spark.operators.text_analysis import (
            bm25_serve,
            ensure_postings_store,
            update_postings_store,
        )

        rows = [
            (1, "alpha beta gamma alpha"),
            (2, "beta gamma delta"),
            (3, "alpha epsilon"),
            (4, "beta beta alpha zeta"),
        ]
        full = spark.createDataFrame(rows, "doc_id bigint, text string")
        base = full.where("doc_id <= 2")
        batch = full.where("doc_id > 2")
        inc_path = str(tmp_path / "inc")
        ensure_postings_store(spark, base, inc_path, n_buckets=8)
        assert update_postings_store(spark, batch, inc_path, batch_id="b1") == "applied"
        # replay of the same batch is a no-op
        assert update_postings_store(spark, batch, inc_path, batch_id="b1") == "skipped"
        full_path = str(tmp_path / "full")
        ensure_postings_store(spark, full, full_path, n_buckets=8)
        q = ["alpha", "beta"]
        got = [tuple(r) for r in bm25_serve(spark, inc_path, q, k=10).collect()]
        want = [tuple(r) for r in bm25_serve(spark, full_path, q, k=10).collect()]
        assert got == want

    def test_postings_crash_window_replay_does_not_double_count(
        self, spark, tmp_path
    ):
        """r12 bug hunt: the v1 layout appended postings THEN advanced
        the sidecar THEN stamped the marker — a crash after the append
        left a replay that doubled the batch's postings and corpus
        counts. Every step is now idempotent per batch_id: simulate the
        worst crash (delta + sidecar committed, marker lost) and assert
        the retry converges instead of double-counting."""
        import json
        import os

        from etlutil_spark.operators.store import store_dir
        from etlutil_spark.operators.text_analysis import (
            bm25_serve,
            ensure_postings_store,
            update_postings_store,
        )

        rows = [
            (1, "alpha beta gamma alpha"),
            (2, "beta gamma delta"),
            (3, "alpha epsilon"),
            (4, "beta beta alpha zeta"),
        ]
        full = spark.createDataFrame(rows, "doc_id bigint, text string")
        base = full.where("doc_id <= 2")
        batch = full.where("doc_id > 2")
        inc_path = str(tmp_path / "inc_crash")
        ensure_postings_store(spark, base, inc_path, n_buckets=8)
        assert update_postings_store(spark, batch, inc_path, batch_id="b1") == "applied"
        want = [
            tuple(r)
            for r in bm25_serve(spark, inc_path, ["alpha", "beta"], k=10).collect()
        ]
        # crash window: delta partition + sidecar entry written, marker lost
        os.remove(os.path.join(store_dir(spark, inc_path, "postings"), "_applied_b1"))
        # uncommitted: serving reads neither its postings nor its counts
        base_path = str(tmp_path / "inc_base")
        ensure_postings_store(spark, base, base_path, n_buckets=8)
        assert [
            tuple(r) for r in bm25_serve(spark, inc_path, ["alpha", "beta"], k=10).collect()
        ] == [tuple(r) for r in bm25_serve(spark, base_path, ["alpha", "beta"], k=10).collect()]
        assert update_postings_store(spark, batch, inc_path, batch_id="b1") == "applied"
        got = [
            tuple(r)
            for r in bm25_serve(spark, inc_path, ["alpha", "beta"], k=10).collect()
        ]
        assert got == want
        meta = json.load(
            open(os.path.join(store_dir(spark, inc_path, "postings"), "_postings_meta.json"))
        )
        assert meta["deltas"] == {"b1": {"n_docs": 2, "sum_dl": 6}}
        # reserved / path-metacharacter batch ids fail loudly
        import pytest

        for bad in ("base", "a/b", ""):
            with pytest.raises(ValueError):
                update_postings_store(spark, batch, inc_path, batch_id=bad)

    def test_ivfadc_increment_replay_noop_and_count(self, spark, tmp_path):
        from etlutil_spark.operators.clustering import (
            ensure_ivfadc_index,
            update_ivfadc_index,
        )
        from etlutil_spark.operators.store import store_dir

        df = spark.createDataFrame(
            [(i, [float(i % 7), float(-i % 5), 1.0, 0.5]) for i in range(40)],
            "vec_id bigint, embedding array<double>",
        )
        base = df.where("vec_id < 30")
        batch = df.where("vec_id >= 30")
        path = str(tmp_path / "ivfadc_inc")
        kw = dict(k=4, iters=2, m=2, ksub=4, pq_iters=2)
        ensure_ivfadc_index(spark, base, "vec_id", "embedding", path, **kw)
        assert update_ivfadc_index(spark, batch, path, batch_id="b1") == "applied"
        assert update_ivfadc_index(spark, batch, path, batch_id="b1") == "skipped"
        codes = spark.read.parquet(store_dir(spark, path, "ivfadc"))
        assert codes.count() == 40
        # no index row duplicated by the replayed batch
        assert codes.select("vec_id").distinct().count() == 40

    def test_ivfadc_crash_window_replay_does_not_duplicate(
        self, spark, tmp_path
    ):
        """r12 bug hunt: the v1 append-then-marker crash window left a
        replayed batch's code rows duplicated — duplicate ids straight
        into the serving top-k. The delta overwrite must converge."""
        import os

        import pytest

        from etlutil_spark.operators.clustering import (
            ensure_ivfadc_index,
            update_ivfadc_index,
        )
        from etlutil_spark.operators.store import store_dir

        df = spark.createDataFrame(
            [(i, [float(i % 7), float(-i % 5), 1.0, 0.5]) for i in range(40)],
            "vec_id bigint, embedding array<double>",
        )
        base = df.where("vec_id < 30")
        batch = df.where("vec_id >= 30")
        path = str(tmp_path / "ivfadc_crash")
        kw = dict(k=4, iters=2, m=2, ksub=4, pq_iters=2)
        ensure_ivfadc_index(spark, base, "vec_id", "embedding", path, **kw)
        assert update_ivfadc_index(spark, batch, path, batch_id="b1") == "applied"
        # crash window: delta committed, marker lost
        cur = store_dir(spark, path, "ivfadc")
        os.remove(os.path.join(cur, "_applied_b1"))
        assert update_ivfadc_index(spark, batch, path, batch_id="b1") == "applied"
        assert spark.read.parquet(cur).count() == 40
        assert spark.read.parquet(cur).select("vec_id").distinct().count() == 40
        for bad in ("base", "a/b", ""):
            with pytest.raises(ValueError):
                update_ivfadc_index(spark, batch, path, batch_id=bad)

    def test_bm25_batch_serve_equals_per_query(self, spark, tmp_path):
        """r10: bm25_serve_many must reproduce bm25_serve per query
        bit for bit (same store, same math, only the scan amortized)."""
        from etlutil_spark.operators.text_analysis import (
            bm25_serve,
            bm25_serve_many,
            ensure_postings_store,
        )

        rows = [
            (1, "alpha beta gamma alpha"),
            (2, "beta gamma delta"),
            (3, "alpha epsilon beta"),
            (4, "zeta eta theta alpha beta"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        path = str(tmp_path / "batch_eq")
        ensure_postings_store(spark, df, path, n_buckets=8)
        queries = {"qa": ["alpha", "beta"], "qb": ["delta", "epsilon"]}
        batch = bm25_serve_many(spark, path, queries, k=10).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["bm25"], r["n_matched_terms"])
            )
        for qid, terms in queries.items():
            single = [
                (i + 1, r["doc_id"], r["bm25"], r["n_matched_terms"])
                for i, r in enumerate(bm25_serve(spark, path, terms, k=10).collect())
            ]
            assert sorted(by_q[qid]) == sorted(single), qid

    def test_ivfadc_batch_serve_equals_per_query(self, spark, tmp_path):
        from etlutil_spark.operators.clustering import (
            ensure_ivfadc_index,
            ivfadc_serve,
            ivfadc_serve_many,
        )

        df = spark.createDataFrame(
            [(i, [float((i * 7) % 11), float((i * 3) % 5), 1.0, float(i % 4)])
             for i in range(40)],
            "vec_id bigint, embedding array<double>",
        )
        path = str(tmp_path / "adc_batch_eq")
        kw = dict(k=4, iters=2, m=2, ksub=4, pq_iters=2)
        ensure_ivfadc_index(spark, df, "vec_id", "embedding", path, **kw)
        queries = {
            0: [0.0, 3.0, 1.0, 0.0],
            1: [7.0, 1.0, 1.0, 1.0],
        }
        batch = ivfadc_serve_many(spark, path, queries, nprobe=2, topk=5).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["vec_id"], r["adc_dist"])
            )
        for qid, qv in queries.items():
            single = [
                (i + 1, r["vec_id"], r["adc_dist"])
                for i, r in enumerate(
                    ivfadc_serve(spark, path, qv, nprobe=2, topk=5).collect()
                )
            ]
            assert sorted(by_q[qid]) == sorted(single), qid

    def test_serve_unknown_terms_and_increment_then_batch(self, spark, tmp_path):
        """r10 hardening: unknown query terms yield an empty result
        (not an error); batched serve composes with a prior increment."""
        from etlutil_spark.operators.text_analysis import (
            bm25_serve,
            bm25_serve_many,
            ensure_postings_store,
            update_postings_store,
        )

        df = spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")], "doc_id bigint, text string"
        )
        path = str(tmp_path / "unknown")
        ensure_postings_store(spark, df, path, n_buckets=4)
        assert bm25_serve(spark, path, ["zzz", "qqq"], k=5).count() == 0
        batch = spark.createDataFrame(
            [(3, "delta alpha")], "doc_id bigint, text string"
        )
        update_postings_store(spark, batch, path, batch_id="x")
        out = bm25_serve_many(
            spark, path, {"q1": ["delta"], "q2": ["zzz"]}, k=5
        ).collect()
        assert {(r["query_id"], r["doc_id"]) for r in out} == {("q1", 3)}
