"""Quality-score store contract (r13): one corpus scoring pass serves
the quality-audit family; serving must be bit-identical to recomputing,
and the ensure_* staleness rules must hold."""

from __future__ import annotations

from pyspark.sql import functions as F

from etlutil_spark.operators.store import store_dir
from etlutil_spark.operators.text_analysis import (
    ensure_quality_store,
    gopher_defaults,
    gopher_quality_filter,
    quality_model_score,
    read_quality_scores,
)


def _docs(spark, tmp_path):
    rows = [
        (1, "srcA", "en", 40, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "srcA", "en", 12, "aaa aaa aaa aaa aaa aaa"),
        (3, "srcB", "de", 25, "der schnelle braune fuchs springt"),
        (4, "srcB", "en", 0, None),
        (5, "srcC", "fr", 9, "x"),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, source string, lang string, n_chars int, text string"
    ).write.parquet(str(tmp_path / "docs"))
    return spark.read.parquet(str(tmp_path / "docs"))


class TestQualityStore:
    def test_gopher_defaults_match_stored_params(self):
        """The store's ``gopher_defaults`` param is read from the filter's
        signature; it must equal the literal list that stores written
        before it was derived carry, or every such store would rebuild."""
        want = [30, 10000, 3.0, 10.0, 0.03, 0.6, "en"]
        got = gopher_defaults()
        assert got == want
        assert [type(v) for v in got] == [type(v) for v in want]

    def test_store_equals_live(self, spark, tmp_path):
        d = _docs(spark, tmp_path)
        path = str(tmp_path / "qstore")
        assert ensure_quality_store(spark, d, path) == "built"
        live = gopher_quality_filter(
            quality_model_score(d, "text"), "text"
        ).select(
            "doc_id", "source", "lang", "n_chars", "model_score", "kept",
            F.col("keep").alias("gopher_keep"),
        )
        got = sorted(
            map(tuple, read_quality_scores(spark, path).collect()), key=repr
        )
        want = sorted(map(tuple, live.collect()), key=repr)
        assert got == want

    def test_reuse_and_invalidation(self, spark, tmp_path):
        d = _docs(spark, tmp_path)
        path = str(tmp_path / "qstore")
        assert ensure_quality_store(spark, d, path) == "built"
        # same params + unchanged files: metadata-only
        assert ensure_quality_store(spark, d, path) == "reused"
        # param change rebuilds
        st = ensure_quality_store(spark, d, path, threshold=0.9)
        assert (st, st.reason) == ("built", "params")
        # regenerated data at the same path rebuilds (digest mismatch)
        d.limit(3).write.mode("overwrite").parquet(str(tmp_path / "docs"))
        d2 = spark.read.parquet(str(tmp_path / "docs"))
        st = ensure_quality_store(spark, d2, path, threshold=0.9)
        assert (st, st.reason) == ("built", "data")

    def test_corrupt_meta_rebuilds(self, spark, tmp_path):
        d = _docs(spark, tmp_path)
        path = str(tmp_path / "qstore")
        assert ensure_quality_store(spark, d, path) == "built"
        with open(f"{store_dir(spark, path, 'quality')}/_quality_meta.json", "w") as fh:
            fh.write('{"params": {"trunc')  # crash-torn sidecar
        st = ensure_quality_store(spark, d, path)
        assert (st, st.reason) == ("built", "corrupt")

    def test_in_memory_input_always_rebuilds(self, spark, tmp_path):
        # per-call sentinel digest: no silent stale serving for inputs
        # without a content identity
        d = spark.createDataFrame(
            [(1, "s", "en", 5, "hello world")],
            "doc_id bigint, source string, lang string, n_chars int, text string",
        )
        path = str(tmp_path / "qstore")
        assert ensure_quality_store(spark, d, path) == "built"
        st = ensure_quality_store(spark, d, path)
        assert (st, st.reason) == ("built", "in-memory")
