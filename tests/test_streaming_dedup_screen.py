"""Streaming incremental near-dup screen (streaming/dedup_screen.py):
micro-batches of documents are deduped within the batch, screened
against the persisted band index, and appended — the continuous-ingest
twin of operators/dedup.py:screen_against_corpus.

Fixture design: in ``BATCHES`` duplicate docs are EXACT text copies
(Jaccard 1.0) and distinct docs share no vocabulary (Jaccard 0.0), so
greedy-sequential and global keep-first agree and the expected accepted
set is exact. ``NEAR_BATCHES`` adds real near-dups (Jaccard in
[0.7, 1)) and pairs just below the threshold (0.692), within a batch and
across batches, so a verify step that loses the threshold fails."""

from __future__ import annotations

import random
import uuid

import pytest
from pyspark.sql import functions as F

from etlutil_spark.operators.dedup import minhash_band_index, minhash_lsh_pairs
from etlutil_spark.streaming.dedup_screen import (
    dedup_screen_batch,
    read_corpus,
    run_dedup_screen_stream,
)

FAM = {
    "A": "alpha apple anchor art atlas amber acorn arrow attic azure almond aria",
    "B": "bravo beach bridge bark bronze bubble barley bison brook badge butter bay",
    "C": "cedar coral canyon crisp candle copper cactus comet cobalt cliff cargo cove",
    "D": "delta dune dusk dagger dial dome drift dapple dew dynamo dory dockside den",
}

# (doc_id, family) per micro-batch; copies share the family text verbatim
BATCHES = [
    [(1, "A"), (2, "A"), (3, "B")],   # d2 intra-batch dup of d1
    [(4, "A"), (5, "C")],             # d4 cross-batch dup of d1
    [(6, "C"), (7, "D"), (8, "D")],   # d6 cross-batch dup, d8 intra dup
]
EXPECTED_ACCEPTED = {1, 3, 5, 7}


def _batch_df(spark, rows):
    return spark.createDataFrame(
        [(i, FAM[f]) for i, f in rows], "doc_id bigint, text string"
    )


def _words(prefix, k):
    return [f"{prefix}{i}" for i in range(k)]


# 20 distinct tokens each -> 18 word 3-shingles; appending m tokens gives
# Jaccard 18 / (18 + m) against the base text
_A, _B, _C, _D, _E = (_words(c, 20) for c in "abcde")
NEAR_TEXT = {
    1: _A,
    2: _A + ["x0"],                       # 0.947 vs 1: intra-batch near-dup
    3: _B,
    5: _C,
    6: _words("p", 8) + _C,               # 0.692 vs 5: intra, kept
    7: _A + _words("y", 7),               # 0.720 vs 1: cross-batch near-dup
    8: _B[:10] + ["z0"] + _B[11:],        # 0.714 vs 3: cross-batch near-dup
    9: _D,
    10: _C + _words("q", 8),              # 0.692 vs 5: cross-batch, kept
    11: _D[:19] + ["w0"],                 # 0.895 vs 9: cross-batch near-dup
    12: _E,
}
NEAR_BATCHES = [[1, 2, 3, 5, 6], [7, 8, 9, 10], [11, 12]]
NEAR_ACCEPTED = {1, 3, 5, 6, 9, 10, 12}


def _near_df(spark, ids):
    return spark.createDataFrame(
        [(i, " ".join(NEAR_TEXT[i])) for i in ids], "doc_id bigint, text string"
    )


def _seeded_batches(seed, n_batches=5, per_batch=12):
    """Random docs over a 120-word vocabulary; about a quarter of them
    are edits (1-3 tokens appended or replaced) of an earlier doc, from
    the same batch or a previous one."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(120)]
    texts, batches = [], []
    for b in range(n_batches):
        rows = []
        for _ in range(per_batch):
            if texts and rng.random() < 0.25:
                toks = list(rng.choice(texts))
                for _ in range(rng.randint(1, 3)):
                    if rng.random() < 0.5:
                        toks.append(rng.choice(vocab))
                    else:
                        toks[rng.randrange(len(toks))] = rng.choice(vocab)
            else:
                toks = rng.choices(vocab, k=rng.randint(15, 40))
            texts.append(toks)
            rows.append((len(texts), " ".join(toks)))
        batches.append(rows)
    return batches


class TestDedupScreenStream:
    def test_stream_accepts_exactly_the_non_dups(self, spark, tmp_path):
        src = str(tmp_path / "incoming")
        for rows in BATCHES:  # one file per micro-batch, written in order
            _batch_df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        corpus = str(tmp_path / "corpus")
        run_dedup_screen_stream(
            stream, corpus, checkpoint_dir=str(tmp_path / "ckpt")
        )

        docs, index = read_corpus(spark, corpus)
        got = {r["doc_id"] for r in docs.select("doc_id").collect()}
        assert got == EXPECTED_ACCEPTED
        # band index covers exactly the accepted docs, 8 bands each
        idx = index.groupBy("doc_id").count().collect()
        assert {r["doc_id"] for r in idx} == EXPECTED_ACCEPTED
        assert all(r["count"] == 8 for r in idx)
        # the screen invariant: no verified near-dup PAIR survives
        assert (
            minhash_lsh_pairs(
                docs, "doc_id", "text", verify_threshold=0.7
            ).count()
            == 0
        )

    def test_batch_replay_is_idempotent(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        b0 = _batch_df(spark, BATCHES[0])
        fb(b0, 0)
        docs1, _ = read_corpus(spark, corpus)
        ids1 = sorted(r["doc_id"] for r in docs1.collect())
        fb(b0, 0)  # foreachBatch retry of the SAME batch id
        docs2, index2 = read_corpus(spark, corpus)
        assert sorted(r["doc_id"] for r in docs2.collect()) == ids1
        assert index2.count() == len(ids1) * 8

    def test_batch_column_is_stored_as_is(self, spark, tmp_path):
        """The corpus layout reserves no column name: ``batch`` and
        ``delta`` columns are stored and read back as they came."""
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        schema = "doc_id bigint, text string, batch int, delta string"
        fb(spark.createDataFrame([(1, FAM["A"], 7, "a"), (2, FAM["B"], 8, "b")], schema), 0)
        fb(spark.createDataFrame([(3, FAM["C"], 9, "c")], schema), 1)
        docs, _ = read_corpus(spark, corpus)
        assert docs.columns == ["doc_id", "text", "batch", "delta"]
        got = sorted(tuple(r) for r in docs.select("doc_id", "batch", "delta").collect())
        assert got == [(1, 7, "a"), (2, 8, "b"), (3, 9, "c")]

    def test_sink_names_are_not_reserved(self, spark, tmp_path):
        """Batch columns named like the corpus's stored columns or the
        sink's own working columns are screened and stored as they came."""
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus, "id", "s")
        schema = "id bigint, s string, doc string, bands int, in_corpus boolean"
        fb(spark.createDataFrame([(1, FAM["A"], "x", 7, True), (2, FAM["A"], "y", 8, False)], schema), 0)
        fb(spark.createDataFrame([(3, FAM["B"], "z", 9, None), (4, FAM["B"], "w", 1, None)], schema), 1)
        docs, index = read_corpus(spark, corpus)
        assert docs.columns == ["id", "s", "doc", "bands", "in_corpus"]
        assert sorted(tuple(r) for r in docs.select("id", "doc", "bands").collect()) == [
            (1, "x", 7), (3, "z", 9)
        ]
        assert index.columns == ["id", "band_idx", "band_hash"]
        assert {r["id"] for r in index.collect()} == {1, 3}

    def test_read_corpus_contract(self, spark, tmp_path):
        """read_corpus gives the docs in the batch schema and the band
        rows as (id, band_idx int, band_hash bigint), from the one table
        each delta holds."""
        import os

        from etlutil_spark.operators.store import store_dir

        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        schema = "doc_id bigint, text string, lang string, score double"
        fb(spark.createDataFrame([(1, FAM["A"], "en", 0.5), (2, "two words", None, None)], schema), 0)
        docs, index = read_corpus(spark, corpus)
        batch = spark.createDataFrame([], schema).schema
        assert [(f.name, f.dataType) for f in docs.schema] == [
            (f.name, f.dataType) for f in batch
        ]
        assert [(f.name, f.dataType.simpleString()) for f in index.schema] == [
            ("doc_id", "bigint"), ("band_idx", "int"), ("band_hash", "bigint")
        ]
        # the short doc has no shingle, so no band rows
        assert sorted(r["doc_id"] for r in docs.collect()) == [1, 2]
        assert sorted(r["band_idx"] for r in index.collect()) == list(range(8))
        assert os.listdir(os.path.join(store_dir(spark, corpus, "corpus"), "delta=0")) == ["docs"]

    def test_two_table_delta_raises(self, spark, tmp_path):
        """A corpus whose deltas still hold the band rows in a second
        table (``delta=<id>/index/``) is not read as the one-table layout:
        the next batch and read_corpus raise and name it."""
        import os

        from etlutil_spark.operators.store import store_dir

        corpus = str(tmp_path / "corpus")
        b0 = _batch_df(spark, BATCHES[0])
        dedup_screen_batch(corpus)(b0, 0)
        delta = os.path.join(store_dir(spark, corpus, "corpus"), "delta=0")
        minhash_band_index(b0, "doc_id", "text").write.parquet(os.path.join(delta, "index"))
        with pytest.raises(ValueError, match=r"delta=0/index/.*earlier layout"):
            dedup_screen_batch(corpus)(_batch_df(spark, BATCHES[1]), 1)
        with pytest.raises(ValueError, match=r"delta=0/index/"):
            read_corpus(spark, corpus)

    def test_old_layout_raises(self, spark, tmp_path):
        """A corpus in the earlier per-batch layout (``docs/batch=<id>``,
        ``index/batch=<id>``) is not read: the next batch raises and names
        the stray entries, instead of starting the corpus over."""
        import os

        corpus = str(tmp_path / "corpus")
        b0 = _batch_df(spark, BATCHES[0])
        b0.write.parquet(os.path.join(corpus, "docs", "batch=0"))
        minhash_band_index(b0, "doc_id", "text").write.partitionBy("band_idx").parquet(
            os.path.join(corpus, "index", "batch=0")
        )
        with pytest.raises(ValueError, match="outside the versioned") as err:
            dedup_screen_batch(corpus)(_batch_df(spark, BATCHES[1]), 1)
        assert "'docs'" in str(err.value) and "'index'" in str(err.value)

    def test_empty_batch_is_noop(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        fb(_batch_df(spark, []), 0)
        docs, index = read_corpus(spark, corpus)
        assert docs is None and index is None

    def test_exact_id_repeats_collapse(self, spark, tmp_path):
        """The same doc_id appearing twice in one batch (at-least-once
        sources) collapses before any screening."""
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        df = spark.createDataFrame(
            [(1, FAM["A"]), (1, FAM["A"]), (2, FAM["B"])],
            "doc_id bigint, text string",
        )
        fb(df, 0)
        docs, _ = read_corpus(spark, corpus)
        assert sorted(r["doc_id"] for r in docs.collect()) == [1, 2]

    def test_prior_batch_id_not_reaccepted_on_text_change(
        self, spark, tmp_path
    ):
        """A doc_id accepted in an earlier batch must be rejected in a
        later batch even when its text changed beyond the near-dup
        threshold — id uniqueness is a corpus invariant, and the
        intra-batch dropDuplicates alone cannot enforce it."""
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        fb(
            spark.createDataFrame(
                [(1, FAM["A"]), (2, FAM["B"])], "doc_id bigint, text string"
            ),
            0,
        )
        # batch 2: id 1 returns with COMPLETELY different text; id 3 new
        fb(
            spark.createDataFrame(
                [(1, FAM["C"]), (3, FAM["D"])], "doc_id bigint, text string"
            ),
            1,
        )
        docs, _ = read_corpus(spark, corpus)
        rows = sorted((r["doc_id"], r["text"]) for r in docs.collect())
        assert [i for i, _ in rows] == [1, 2, 3]
        assert rows[0][1] == FAM["A"]  # the FIRST accepted text survives

    def test_corpus_on_non_local_fs_uri(self, spark, tmp_path):
        """The corpus-existence probe must go through the Hadoop
        FileSystem API, not os.path.exists: a ``file:`` URI is invisible
        to the local-path check (os.path.exists('file:/x') is False even
        when /x exists), exactly like the s3a://gs://hdfs:// paths a real
        deployment uses. With the old check every batch would see
        (None, None), silently skip the cross-batch screen, and accept
        near-dups of prior batches — this drives the same batches
        through a file:-URI corpus and pins the cross-batch drops."""
        corpus = "file:" + str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        for i, rows in enumerate(BATCHES):
            fb(_batch_df(spark, rows), i)
        docs, index = read_corpus(spark, corpus)
        assert docs is not None, "file: URI corpus not detected"
        got = {r["doc_id"] for r in docs.select("doc_id").collect()}
        assert got == EXPECTED_ACCEPTED

    def test_crash_mid_delta_recovers_on_replay(self, spark, tmp_path):
        """A batch is committed by its ``_applied_`` marker, created after
        its docs and band rows: a crash before the marker leaves a delta
        that read_corpus does not see, and the batch's replay screens it
        again and commits it."""
        import os

        from etlutil_spark.operators.store import store_dir

        corpus = str(tmp_path / "corpus")
        b0 = _batch_df(spark, BATCHES[0])
        fb = dedup_screen_batch(corpus)
        fb(b0, 0)
        # simulate the crash: the delta of batch 0 landed, its marker did not
        os.remove(os.path.join(store_dir(spark, corpus, "corpus"), "_applied_0"))
        docs, index = read_corpus(spark, corpus)
        assert docs is None and index is None
        # the replay of batch 0 completes normally
        fb(b0, 0)
        docs, index = read_corpus(spark, corpus)
        assert {r["doc_id"] for r in docs.collect()} == {1, 3}
        assert index.count() == 2 * 8


class TestNearDupScreen:
    def test_fixture_pairs_are_lsh_candidates(self, spark):
        """The near-dup fixture means what it says: every pair below is a
        banding candidate, with the stated exact Jaccard, so the sink's
        verify step (not LSH recall) decides each of them."""
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_lsh_pairs(
                _near_df(spark, sorted(NEAR_TEXT)), "doc_id", "text",
                verify_threshold=0.0,
            ).collect()
        }
        for near in [(1, 2), (1, 7), (3, 8), (9, 11)]:
            assert 0.7 <= pairs[near] < 1.0, near
        for below in [(5, 6), (5, 10)]:
            assert 0.65 < pairs[below] < 0.7, below

    def test_near_dups_dropped_below_threshold_kept(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus, verify_threshold=0.7)
        for b, ids in enumerate(NEAR_BATCHES):
            fb(_near_df(spark, ids), b)
        docs, index = read_corpus(spark, corpus)
        assert {r["doc_id"] for r in docs.collect()} == NEAR_ACCEPTED
        assert index.select("doc_id").distinct().count() == len(NEAR_ACCEPTED)

    def test_corpus_equals_batch_operators_on_seeded_input(self, spark, tmp_path):
        """The sink's stored corpus is what the batch operators compute:
        its index rows equal minhash_band_index over the accepted docs,
        row for row, and minhash_lsh_pairs finds no verified pair in it."""
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        batches = _seeded_batches(seed=20)
        text = {}
        for b, rows in enumerate(batches):
            text.update(rows)
            fb(spark.createDataFrame(rows, "doc_id bigint, text string"), b)
        docs, index = read_corpus(spark, corpus)
        accepted = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert docs.count() == len(accepted)  # ids unique
        assert 0 < len(accepted) < len(text)  # the screen dropped something
        assert all(text[i] == t for i, t in accepted.items())
        cols = ["doc_id", "band_idx", "band_hash"]
        stored = sorted(tuple(r) for r in index.select(*cols).collect())
        expected = sorted(
            tuple(r)
            for r in minhash_band_index(docs, "doc_id", "text").select(*cols).collect()
        )
        assert stored == expected
        assert minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=0.7).count() == 0

    def test_warm_batch_job_budget(self, spark, tmp_path):
        """Each batch is sketched once, screened through one band join and
        one verify, and written once: a second batch screened against a
        stored corpus runs at most 15 Spark jobs (13 on local[4]; the
        two-path sink ran 19-20, the three-sketch sink 41)."""
        corpus = str(tmp_path / "corpus")
        fb = dedup_screen_batch(corpus)
        fb(_near_df(spark, NEAR_BATCHES[0]), 0)
        batch = _near_df(spark, NEAR_BATCHES[1])
        sc = spark.sparkContext
        group = f"dedup-screen-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "dedup screen job budget")
        try:
            fb(batch, 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 15, f"{len(jobs)} jobs for one warm batch"
