"""Unit tests for the training-data pipeline operators (dedup, similarity,
text analysis, multimodal plumbing, streaming)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etlutil_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from etlutil_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_stats,
    wrap_binary,
)
from etlutil_spark.operators.similarity import ann_lsh_topk, cosine_topk, knn_join
from etlutil_spark.operators.text_analysis import profile_documents, quality_filter


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "completely different content about spark query engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (5, "zzz qqq xxx"),  # low quality
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


class TestDedup:
    def test_exact(self, docs):
        out = exact_dedup(docs, ["text"], "doc_id")
        assert out.count() == 4
        kept = {r.doc_id for r in out.collect()}
        assert 1 in kept and 4 not in kept  # min id survives

    def test_ngram_jaccard_finds_near_dup(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
        }
        assert (1, 2) in pairs and (1, 4) in pairs
        assert pairs[(1, 4)] == 1.0
        assert all(not (a == 3 or b == 3) for a, b in pairs)

    def test_minhash_signature_shape_and_dup_equality(self, docs):
        sig = {r.doc_id: r.signature for r in minhash_signatures(docs, "doc_id", "text").collect()}
        assert len(sig[1]) == 32
        assert sig[1] == sig[4]  # exact dups -> identical signatures

    def test_minhash_lsh_pairs(self, docs):
        pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=0.5).collect()}
        assert (1, 4) in pairs and (1, 2) in pairs

    def test_simhash_dup_identical_and_pairs(self, docs):
        sh = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
        assert sh[1] == sh[4]
        pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
        assert pairs.get((1, 4)) == 0

    def test_simhash_pairs_rejects_unreachable_hamming(self, docs):
        # pigeonhole banding only guarantees recall for max_hamming < bands
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_pairs(docs, "doc_id", "text", max_hamming=4, bands=4)

    def test_duplicate_clusters_raises_when_unconverged(self, spark):
        from etlutil_spark.operators.dedup import duplicate_clusters

        # a path graph of diameter 5 cannot converge in 1 iteration
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], "id_a bigint, id_b bigint"
        )
        with pytest.raises(RuntimeError, match="converge"):
            duplicate_clusters(pairs, max_iterations=1)
        # and converges fine with the default budget
        got = duplicate_clusters(pairs).collect()
        assert {r.cluster_id for r in got} == {0}

    def test_short_docs_do_not_crash_shingles(self, spark):
        # docs with < n tokens must yield [] shingles, not a runtime error
        # (unguarded sequence(1, size-(n-1)) produces descending [1,0] and
        # slice(t, 0, n) throws INVALID_PARAMETER_VALUE.START)
        from etlutil_spark.functions.text import word_shingles

        df = spark.createDataFrame(
            [(1, ""), (2, "one"), (3, "just two"), (4, "now three tokens")],
            "doc_id bigint, text string",
        )
        got = {r.doc_id: r.sh for r in df.select("doc_id", word_shingles("text").alias("sh")).collect()}
        assert got[1] == [] and got[2] == [] and got[3] == []
        assert got[4] == ["now three tokens"]
        # the dedup entry points must survive short docs too
        assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).count() == 0
        assert minhash_lsh_pairs(df, "doc_id", "text", verify_threshold=0.5).count() == 0

    def test_embedding_near_dup(self, vecs):
        pairs = {(r.id_a, r.id_b): r.cos_sim for r in embedding_near_dup_pairs(vecs, threshold=0.95).collect()}
        assert list(pairs) == [(0, 1)]
        assert pairs[(0, 1)] > 0.99


class TestSimilarity:
    def test_bruteforce_topk_order(self, vecs):
        out = cosine_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=3).collect()
        assert [r.vec_id for r in out] == [0, 1, 2]
        assert out[0].cos_sim == 1.0

    def test_ann_recalls_near_neighbor(self, vecs):
        out = ann_lsh_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=2, n_planes=4).collect()
        assert out and out[0].cos_sim >= 0.99

    def test_knn_join(self, vecs):
        left = vecs.selectExpr("vec_id as id_a", "embedding")
        right = vecs.selectExpr("vec_id as id_b", "embedding")
        out = knn_join(left, right, k=2, n_planes=3)
        got = out.where(F.col("id_a") == 0).collect()
        assert got and got[0].id_b == 1  # nearest neighbor of 0 is 1

    def test_knn_join_adaptive_planes(self, vecs):
        # n_planes=None must derive plane count from the right side and
        # still produce correct neighbors on a tiny input (min_planes floor)
        left = vecs.selectExpr("vec_id as id_a", "embedding")
        right = vecs.selectExpr("vec_id as id_b", "embedding")
        got = knn_join(left, right, k=2).where(F.col("id_a") == 0).collect()
        assert got and got[0].id_b == 1

    def test_knn_join_hot_bucket_skew(self, spark):
        """Deliberately skewed fixture (r12 verdict item 9): most vectors
        collapse into ONE LSH bucket. Under the forced-shuffle 100 TB
        shape (auto-broadcast off, AQE skew-join on) the hot bucket must
        neither wedge nor change results vs the broadcast plan."""
        import random

        rng = random.Random(7)
        # 60 near-identical vectors (one hot bucket) + 12 scattered
        rows = [
            (i, [1.0 + rng.uniform(-1e-3, 1e-3) for _ in range(8)])
            for i in range(60)
        ] + [
            (100 + i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        left = df.selectExpr("vec_id as id_a", "embedding")
        right = df.selectExpr("vec_id as id_b", "embedding")
        expected = sorted(
            map(tuple, knn_join(left, right, k=3, n_planes=4).collect())
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            forced = knn_join(left, right, k=3, n_planes=4)
            assert sorted(map(tuple, forced.collect())) == expected
            # the 100 TB shape really is shuffle-based under this conf
            plan = forced._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_adaptive_n_planes_scales_with_corpus(self):
        from etlutil_spark.operators.similarity import adaptive_n_planes

        tiny = adaptive_n_planes(500)
        mid = adaptive_n_planes(1_000_000)
        big = adaptive_n_planes(100_000_000)
        assert tiny == 2  # floor: tiny corpora shouldn't over-bucket
        assert tiny < mid < big
        # bucket occupancy stays bounded: rows / 2^planes <= ~target
        for n in (10_000, 1_000_000, 100_000_000, 10_000_000_000):
            planes = adaptive_n_planes(n)
            if planes < 24:  # inside the clamp, occupancy is the invariant
                assert n / (2 ** planes) <= 1024
        assert adaptive_n_planes(10**12) == 24  # width clamp holds


class TestTextAnalysis:
    def test_profile_columns(self, docs):
        out = profile_documents(docs)
        row = out.where(F.col("doc_id") == 1).collect()[0]
        assert row.n_tokens == 13
        assert row.lang_pred == "en"
        assert 0 < row.quality <= 1
        assert row.fingerprint >= 0

    def test_fingerprint_order_invariant(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "id bigint, text string"
        )
        fps = [r.fingerprint for r in profile_documents(df).orderBy("id").collect()]
        assert fps[0] == fps[1]

    def test_quality_filter(self, docs):
        kept = {r.doc_id for r in quality_filter(docs, min_tokens=5, min_quality=0.3).collect()}
        assert 5 not in kept and 1 in kept


class TestMultimodal:
    def test_wrap_and_stats(self, docs):
        media = wrap_binary(
            docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
            "doc_id",
            "payload",
            mime="text/plain",
        )
        assert media.columns == ["media_id", "payload", "mime", "n_bytes", "sha256"]
        stats = media_stats(media).collect()[0]
        assert stats.mime == "text/plain" and stats.n_items == 5

    def test_feature_extraction_stub(self, docs):
        media = wrap_binary(
            docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
            "doc_id",
            "payload",
        )
        feats = extract_features(media, decode_stub=True).collect()
        assert len(feats) == 5
        assert all(len(r.features) == 8 for r in feats)
        assert all(abs(sum(r.features) - 1.0) < 1e-3 for r in feats)
        # determinism
        again = extract_features(media, decode_stub=True).collect()
        assert sorted(map(str, feats)) == sorted(map(str, again))

    def test_real_decoder_raises(self, docs):
        media = wrap_binary(
            docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
            "doc_id",
            "payload",
        )
        with pytest.raises(Exception, match="NotImplementedError|real media"):
            extract_features(media, decode_stub=False).collect()

    def test_frame_sample_plan(self, docs):
        media = wrap_binary(
            docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
            "doc_id",
            "payload",
        )
        plan = frame_sample_plan(media, every_n_bytes=16, max_frames=4)
        rows = plan.where(F.col("media_id") == 1).collect()
        assert [r.frame_idx for r in rows] == list(range(len(rows)))
        assert all(r.byte_offset == r.frame_idx * 16 for r in rows)

    def test_header_parser_is_real_not_stubbed(self, spark):
        """parse_header_bytes reads actual container headers — pinned on
        handcrafted bytes of each format, including a JPEG whose SOF0
        sits behind an extra COM segment (the marker walk is the point)
        and a top-down BMP (negative height)."""
        from etlutil_spark.operators.multimodal import parse_header_bytes

        png = (
            bytes.fromhex("89504E470D0A1A0A0000000D49484452")
            + (800).to_bytes(4, "big")
            + (600).to_bytes(4, "big")
            + bytes.fromhex("0806000000")
        )
        gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
        bmp = (
            b"BM"
            + b"\x00" * 12
            + (40).to_bytes(4, "little")
            + (1024).to_bytes(4, "little")
            + (-768).to_bytes(4, "little", signed=True)  # top-down rows
        )
        jpeg = (
            bytes.fromhex("FFD8")
            + bytes.fromhex("FFFE0004") + b"ab"  # COM segment first
            + bytes.fromhex("FFC0001108")
            + (222).to_bytes(2, "big")  # height
            + (333).to_bytes(2, "big")  # width
            + bytes.fromhex("03012200021101031101")
        )
        assert parse_header_bytes(png) == ("png", 800, 600)
        assert parse_header_bytes(gif) == ("gif", 320, 200)
        assert parse_header_bytes(bmp) == ("bmp", 1024, 768)
        assert parse_header_bytes(jpeg) == ("jpeg", 333, 222)
        # corrupt/truncated inputs degrade, never raise
        assert parse_header_bytes(None) == ("unknown", None, None)
        assert parse_header_bytes(b"xx") == ("unknown", None, None)
        assert parse_header_bytes(b"\xff\xd8\x00\x00") == ("jpeg", None, None)
        assert parse_header_bytes(png[:12]) == ("unknown", None, None)
        # legal 0xFF fill bytes before a marker must be skipped, not
        # misread as a segment whose "length" is the real marker bytes
        # (r12: the walk previously derailed on padded streams)
        padded = (
            b"\xff\xd8"
            + b"\xff\xff\xff"
            + b"\xff\xc0"
            + (17).to_bytes(2, "big")
            + b"\x08"
            + (99).to_bytes(2, "big")
            + (77).to_bytes(2, "big")
            + b"\x03"
            + b"\x00" * 10
        )
        assert parse_header_bytes(padded) == ("jpeg", 77, 99)

    def test_header_parser_real_world_variants(self):
        """Headers our own make_* constructors never emit: multi-segment
        JPEGs (EXIF APP1, COM, DQT, DHT — 0xC4 must be SKIPPED, not read
        as a start-of-frame), progressive SOF2, zero-length-segment bail,
        GIF87a, top-down (negative-height) BMP, >64k PNG dims."""
        from etlutil_spark.operators.multimodal import parse_header_bytes

        def seg(marker, payload=b""):
            ln = len(payload) + 2
            return bytes([0xFF, marker]) + ln.to_bytes(2, "big") + payload

        def sof(marker, w, h):
            p = (
                bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
            )
            return seg(marker, p)

        exif_jpeg = (
            b"\xff\xd8"
            + seg(0xE0, b"JFIF\x00" + b"\x00" * 9)
            + seg(0xE1, b"Exif\x00\x00" + b"\x00" * 20)
            + seg(0xFE, b"comment")
            + seg(0xDB, b"\x00" * 65)
            + seg(0xC4, b"\x00" * 29)  # DHT: 0xC4 is excluded from SOF set
            + b"\xff\xff"  # fill bytes
            + sof(0xC0, 641, 482)
        )
        assert parse_header_bytes(exif_jpeg) == ("jpeg", 641, 482)
        progressive = b"\xff\xd8" + seg(0xE0, b"JFIF\x00" + b"\x00" * 9) + sof(0xC2, 77, 99)
        assert parse_header_bytes(progressive) == ("jpeg", 77, 99)
        # zero/illegal segment length: bail to (jpeg, None, None), never loop
        zl = b"\xff\xd8" + bytes([0xFF, 0xE0, 0x00, 0x01]) + sof(0xC0, 10, 10)
        assert parse_header_bytes(zl) == ("jpeg", None, None)
        png = (
            bytes.fromhex("89504e470d0a1a0a")
            + (13).to_bytes(4, "big") + b"IHDR"
            + (70000).to_bytes(4, "big") + (123).to_bytes(4, "big")
            + bytes([8, 6, 0, 0, 0])
        )
        assert parse_header_bytes(png) == ("png", 70000, 123)
        gif87 = b"GIF87a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 4
        assert parse_header_bytes(gif87) == ("gif", 320, 200)
        bmp_td = (
            b"BM" + b"\x00" * 16
            + (640).to_bytes(4, "little")
            + (-480 & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\x00" * 10
        )
        assert parse_header_bytes(bmp_td) == ("bmp", 640, 480)

    def test_png_dimensions_column_expression(self, spark):
        """The JVM fast path: PNG dims via substring+conv, no Python."""
        from etlutil_spark.operators.multimodal import make_png, png_dimensions

        df = spark.createDataFrame(
            [(1, 640, 480), (2, 65535, 1)], "media_id bigint, w int, h int"
        ).select("media_id", make_png(F.col("w"), F.col("h")).alias("payload"))
        wcol, hcol = png_dimensions("payload")
        got = {
            r["media_id"]: (r["pw"], r["ph"])
            for r in df.select(
                "media_id", wcol.alias("pw"), hcol.alias("ph")
            ).collect()
        }
        assert got == {1: (640, 480), 2: (65535, 1)}
        # non-PNG payloads yield NULLs, not garbage
        other = spark.createDataFrame(
            [(3, bytearray(b"BMnotapng000000000000000000"))],
            "media_id bigint, payload binary",
        )
        w2, h2 = png_dimensions("payload")
        r = other.select(w2.alias("pw"), h2.alias("ph")).collect()[0]
        assert (r["pw"], r["ph"]) == (None, None)

    def test_resize_stub_shapes_and_determinism(self, docs):
        from etlutil_spark.operators.multimodal import resize_media

        media = wrap_binary(
            docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
            "doc_id",
            "payload",
        )
        out = resize_media(media, 4, 3, decode_stub=True).collect()
        assert len(out) == 5
        # every fake-resized payload is exactly the 3*w*h RGB buffer size
        assert all(r.n_bytes == 3 * 4 * 3 and len(r.payload) == 36 for r in out)
        assert all((r.width, r.height, r.decoder) == (4, 3, "stub") for r in out)
        # stub payloads must not masquerade as the input mime
        assert all(r.mime == "application/x-stub" for r in out)
        again = resize_media(media, 4, 3, decode_stub=True).collect()
        assert sorted((r.media_id, bytes(r.payload)) for r in out) == sorted(
            (r.media_id, bytes(r.payload)) for r in again
        )
        # fail-fast contract: stub-off and bad dims raise at the call site,
        # before any Spark job launches
        with pytest.raises(NotImplementedError, match="real media"):
            resize_media(media, 4, 3, decode_stub=False)
        with pytest.raises(ValueError, match="positive"):
            resize_media(media, 0, 3)


class TestSampling:
    def test_deterministic_and_stable_under_growth(self, spark):
        from etlutil_spark.operators.sampling import deterministic_sample

        small = spark.range(0, 1000).withColumnRenamed("id", "k")
        big = spark.range(0, 2000).withColumnRenamed("id", "k")
        kept_small = {r.k for r in deterministic_sample(small, 0.3, "k").collect()}
        kept_big = {r.k for r in deterministic_sample(big, 0.3, "k").collect()}
        # growing the corpus never flips an existing row's fate
        assert kept_small == {k for k in kept_big if k < 1000}
        assert 0.2 < len(kept_small) / 1000 < 0.4

    def test_different_seeds_are_independent(self, spark):
        from etlutil_spark.operators.sampling import deterministic_sample

        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        a = {r.k for r in deterministic_sample(df, 0.5, "k", seed="a").collect()}
        b = {r.k for r in deterministic_sample(df, 0.5, "k", seed="b").collect()}
        overlap = len(a & b) / max(len(a), 1)
        assert 0.3 < overlap < 0.7  # ~rate, not 0 or 1

    def test_split_fractions_validated_and_exhaustive(self, spark):
        import pytest as _pytest

        from etlutil_spark.operators.sampling import assign_split

        df = spark.range(0, 500).withColumnRenamed("id", "k")
        with _pytest.raises(ValueError, match="sum to 1"):
            assign_split(df, "k", splits={"train": 0.5, "eval": 0.4})
        out = assign_split(df, "k")
        counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 500 and counts.get("train", 0) > 400

    def test_take_n_per_stratum_exact_and_stable(self, spark):
        from etlutil_spark.operators.sampling import take_n_per_stratum

        rows = [(i, "a" if i % 3 else "b") for i in range(60)]
        df = spark.createDataFrame(rows, "k bigint, g string")
        got = take_n_per_stratum(df, 5, "g", "k").collect()
        by_g: dict[str, set[int]] = {}
        for r in got:
            by_g.setdefault(r.g, set()).add(r.k)
        assert {g: len(s) for g, s in by_g.items()} == {"a": 5, "b": 5}
        # deterministic across invocations
        again = take_n_per_stratum(df, 5, "g", "k").collect()
        assert {(r.g, r.k) for r in again} == {(r.g, r.k) for r in got}
        # n larger than the stratum: whole stratum survives
        small = take_n_per_stratum(df.where(F.col("g") == "b"), 100, "g", "k")
        assert small.count() == 20

    def test_rate_bounds_validated(self, spark):
        import pytest as _pytest

        from etlutil_spark.operators.sampling import deterministic_sample

        df = spark.range(1).withColumnRenamed("id", "k")
        with _pytest.raises(ValueError):
            deterministic_sample(df, 1.5, "k")


class TestPacking:
    def test_next_fit_assignment(self, spark):
        from etlutil_spark.operators.packing import pack_by_token_budget

        rows = [(1, "a b c d"), (2, "e f g"), (3, "h i j k l"), (4, "m")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {
            r.doc_id: (r.pack_id, r.pack_offset)
            for r in pack_by_token_budget(df, 5).collect()
        }
        # offsets: 0, 4, 7, 12 -> packs 0, 0, 1, 2
        assert got == {1: (0, 0), 2: (0, 4), 3: (1, 7), 4: (2, 12)}

    def test_oversized_doc_gets_own_pack_without_splitting(self, spark):
        from etlutil_spark.operators.packing import pack_by_token_budget

        df = spark.createDataFrame(
            [(1, "x " * 20), (2, "y")], "doc_id bigint, text string"
        )
        got = {r.doc_id: r.pack_id for r in pack_by_token_budget(df, 5).collect()}
        assert got[1] == 0 and got[2] == 4  # next doc opens at offset 20

    def test_budget_validated(self, spark):
        import pytest as _pytest

        from etlutil_spark.operators.packing import pack_by_token_budget

        with _pytest.raises(ValueError):
            pack_by_token_budget(spark.range(1), 0)

    def test_null_text_raises_named_error(self, spark):
        """Spark's non-ANSI size(NULL) = -1 would silently shift every
        later doc's pack; a NULL text must raise, not corrupt."""
        import pytest as _pytest

        from etlutil_spark.operators.packing import pack_by_token_budget

        df = spark.createDataFrame(
            [(1, "a b"), (2, None)], "doc_id bigint, text string"
        )
        with _pytest.raises(Exception, match="token count"):
            pack_by_token_budget(df, 5).collect()
        dfn = spark.createDataFrame(
            [(1, "a b", 2), (2, "c", None)],
            "doc_id bigint, text string, nt int",
        )
        with _pytest.raises(Exception, match="token count"):
            pack_by_token_budget(dfn, 5, n_tokens_col="nt").collect()

    def test_output_column_collision_rejected(self, spark):
        import pytest as _pytest

        from etlutil_spark.operators.packing import pack_by_token_budget

        df = spark.createDataFrame(
            [(1, "a", 7)], "doc_id bigint, text string, pack_id int"
        )
        with _pytest.raises(ValueError, match="pack_id"):
            pack_by_token_budget(df, 5)


class TestDecontaminate:
    def test_flags_overlapping_train_docs(self, spark):
        from etlutil_spark.operators.decontaminate import contaminated_docs

        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely unrelated words about engines"),
            ],
            "doc_id bigint, text string",
        )
        ev = spark.createDataFrame(
            [(100, "quick brown fox jumps high")], "doc_id bigint, text string"
        )
        got = {r.doc_id: r.n_shared for r in contaminated_docs(train, ev).collect()}
        assert 1 in got and 2 not in got
        assert got[1] == 2  # 'quick brown fox', 'brown fox jumps'

    def test_eval_side_is_broadcast(self, spark):
        from etlutil_spark.operators.decontaminate import contaminated_docs
        from etlutil_spark.plans import inspect as P

        train = spark.createDataFrame(
            [(1, "one two three four")], "doc_id bigint, text string"
        )
        ev = spark.createDataFrame(
            [(2, "one two three")], "doc_id bigint, text string"
        )
        out = contaminated_docs(train, ev, min_shared=1)
        assert P.broadcast_count(out) >= 1


class TestRedactPii:
    def test_redacts_all_kinds(self, spark):
        from etlutil_spark.functions.text import redact_pii

        df = spark.createDataFrame(
            [(1, "mail a.b+c@x-mail.co.uk call +1 (555) 010-1234 host 10.0.0.7 done")],
            "id bigint, t string",
        )
        got = df.select(redact_pii("t").alias("t")).collect()[0].t
        assert got == "mail [PII] call [PII] host [PII] done"

    def test_leaves_clean_text_alone(self, spark):
        from etlutil_spark.functions.text import redact_pii

        df = spark.createDataFrame([(1, "no pii here just words")], "id bigint, t string")
        assert df.select(redact_pii("t").alias("t")).collect()[0].t == "no pii here just words"


class TestSessionsSalted:
    def test_salted_equals_unsalted_on_events(self, spark, sf_dir):
        from etlutil_spark.operators.sessions import session_stats
        from etlutil_spark.sources.testdata import load_table

        ev = load_table(spark, "events", sf_dir)
        plain = {tuple(r) for r in session_stats(ev, "user_id", "ts").collect()}
        salted = {
            tuple(r)
            for r in session_stats(ev, "user_id", "ts", salted=True).collect()
        }
        assert plain == salted

    def test_salted_stitches_midnight_straddler(self, spark):
        from etlutil_spark.operators.sessions import session_stats

        # one session straddling midnight (10-min gaps), one separate next day
        rows = [
            (1, "2024-01-01 23:45:00"),
            (1, "2024-01-01 23:55:00"),
            (1, "2024-01-02 00:05:00"),  # same session, next day bucket
            (1, "2024-01-02 09:00:00"),  # new session
        ]
        df = spark.createDataFrame(rows, "user_id bigint, ts string").select(
            "user_id", F.to_timestamp("ts").alias("ts")
        )
        got = {
            (r.session_seq, r.n_events)
            for r in session_stats(df, "user_id", "ts", salted=True).collect()
        }
        assert got == {(1, 3), (2, 1)}


class TestStreaming:
    def test_stream_matches_batch(self, spark, sf_dir):
        from etlutil_spark.sources.testdata import load_table
        from etlutil_spark.streaming.events import run_stream_once, windowed_counts

        batch = windowed_counts(load_table(spark, "events", sf_dir))
        streamed = run_stream_once(spark, f"{sf_dir}/events.parquet", query_name="t_stream")
        b = {tuple(r) for r in batch.collect()}
        s = {tuple(r) for r in streamed.collect()}
        assert b == s


class TestStreamingDocuments:
    def test_document_ingest_stream_matches_batch(self, spark, sf_dir):
        from etlutil_spark.sources.testdata import load_table
        from etlutil_spark.streaming.documents import (
            document_profile_stage,
            stream_documents_from_dir,
        )
        from etlutil_spark.streaming.events import run_stream_query

        stream = stream_documents_from_dir(spark, f"{sf_dir}/documents.parquet")
        streamed = run_stream_query(
            document_profile_stage(stream),
            query_name="t_docs_ingest",
            output_mode="append",
        )
        batch = document_profile_stage(load_table(spark, "documents", sf_dir))
        s = {tuple(r) for r in streamed.collect()}
        b = {tuple(r) for r in batch.collect()}
        assert s == b and len(b) > 0


class TestStreamingStateful:
    def test_stream_starts_on_empty_dir_with_fallback_schema(
        self, spark, tmp_path
    ):
        """Deploy-before-producer: the stream must start over a directory
        with no files yet (declared EVENTS_SCHEMA fallback) and pick up
        rows that land after the first trigger."""
        import pandas as pd

        from etlutil_spark.streaming.events import (
            EVENTS_SCHEMA,
            run_stream_query,
            stream_events_from_dir,
        )

        empty = tmp_path / "incoming"
        empty.mkdir()
        stream = stream_events_from_dir(spark, str(empty))
        assert stream.schema == EVENTS_SCHEMA
        pd.DataFrame(
            {
                "event_id": [1, 2],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:00", "2024-01-01 01:00:00"]
                ).astype("datetime64[us]"),
                "user_id": [10, 11],
                "event_type": ["click", "view"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ).to_parquet(empty / "part-0.parquet", index=False)
        got = run_stream_query(
            stream, query_name="t_empty_start", output_mode="append"
        )
        assert got.count() == 2

    def test_dedup_stream_matches_batch(self, spark, sf_dir):
        from etlutil_spark.streaming.events import (
            dedup_stream,
            run_stream_query,
            stream_events_from_dir,
        )

        stream = stream_events_from_dir(spark, f"{sf_dir}/events.parquet")
        got = run_stream_query(
            dedup_stream(stream), query_name="t_dedup", output_mode="append"
        )
        from etlutil_spark.sources.testdata import load_table

        batch = load_table(spark, "events", sf_dir).dropDuplicates(["event_id"])
        assert got.count() == batch.count()

    def test_within_watermark_dedup_catches_restamped_duplicate(
        self, spark, tmp_path
    ):
        """An at-least-once producer re-sends event 1 with a NEW event time
        (clock re-stamp) in a later micro-batch; key-only
        dropDuplicatesWithinWatermark must still emit it exactly once."""
        import pandas as pd

        from etlutil_spark.streaming.events import (
            dedup_stream_within_watermark,
            run_stream_query,
        )

        d = tmp_path / "restamped"
        d.mkdir()

        def write(name, rows):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            pdf.to_parquet(str(d / name), index=False)

        write("b1.parquet", [(1, "2024-03-01 10:00:00", 7, "click", 1.0, "{}")])
        write(
            "b2.parquet",
            [
                (1, "2024-03-01 10:10:00", 7, "click", 1.0, "{}"),  # re-stamped dup
                (2, "2024-03-01 10:11:00", 7, "view", 2.0, "{}"),
            ],
        )
        schema = spark.read.parquet(str(d)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        got = run_stream_query(
            dedup_stream_within_watermark(stream, watermark="1 hour"),
            query_name="t_dedup_wm",
            output_mode="append",
        )
        ids = sorted(r.event_id for r in got.collect())
        assert ids == [1, 2]

    def test_session_windows_stream_matches_batch(self, spark, sf_dir):
        from etlutil_spark.sources.testdata import load_table
        from etlutil_spark.streaming.events import (
            run_stream_query,
            session_windows,
            stream_events_from_dir,
        )

        stream = stream_events_from_dir(spark, f"{sf_dir}/events.parquet")
        streamed = run_stream_query(
            session_windows(stream), query_name="t_sess", output_mode="complete"
        )
        batch = session_windows(load_table(spark, "events", sf_dir))
        s = {tuple(r) for r in streamed.collect()}
        b = {tuple(r) for r in batch.collect()}
        assert s == b

    def test_running_totals_state_accumulates(self, spark, sf_dir):
        from etlutil_spark.sources.testdata import load_table
        from etlutil_spark.streaming.events import (
            run_stream_query,
            running_user_totals,
            stream_events_from_dir,
        )

        # one file -> one micro-batch; final state must equal the batch agg
        stream = stream_events_from_dir(spark, f"{sf_dir}/events.parquet")
        got = run_stream_query(
            running_user_totals(stream), query_name="t_state", output_mode="update"
        )
        ev = load_table(spark, "events", sf_dir)
        expect = {
            r.user_id: (r.n, round(r.total, 6))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        latest = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in got.collect()}
        assert latest == expect


class TestClustersAndProfile:
    def test_duplicate_clusters_chain_and_island(self, spark):
        from etlutil_spark.operators.dedup import duplicate_clusters

        # chain 1-2-3 (transitive), pair 7-9, singleton 5 not in pairs
        pairs = spark.createDataFrame(
            [(2, 3), (1, 2), (7, 9)], "id_a bigint, id_b bigint"
        )
        got = {
            r.member_id: r.cluster_id for r in duplicate_clusters(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    def test_duplicate_clusters_long_chain_converges(self, spark):
        from etlutil_spark.operators.dedup import duplicate_clusters

        n = 12  # diameter > a couple of iterations
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a bigint, id_b bigint"
        )
        got = {r.member_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
        assert set(got.values()) == {0}
        assert len(got) == n + 1

    def test_profile_table_counts(self, spark):
        from etlutil_spark.operators.profile import profile_table

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b")], "k bigint, s string"
        )
        rows = {r.column: r for r in profile_table(df).collect()}
        assert rows["k"].n_rows == 3
        assert rows["k"].n_nulls == 0
        assert rows["k"].n_distinct == 2
        assert rows["k"].min_value == "1" and rows["k"].max_value == "2"
        assert rows["s"].n_nulls == 1
        assert rows["s"].n_distinct == 2


class TestIvfStore:
    def test_ivf_matches_inline_ann_and_prunes_partitions(self, spark, sf_dir, tmp_path):
        from etlutil_spark.operators.similarity import (
            ann_lsh_topk,
            build_ivf_store,
            ivf_topk,
        )
        from etlutil_spark.sources.testdata import load_table

        e = load_table(spark, "embeddings", sf_dir)
        qvec = [
            float(x)
            for x in e.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        ]
        store = str(tmp_path / "ivf")
        build_ivf_store(e, store, n_planes=6)

        got = ivf_topk(spark, store, qvec, k=10, n_planes=6)
        expect = ann_lsh_topk(e, qvec, k=10, n_planes=6, multiprobe_hamming=1)
        assert [tuple(r) for r in got.collect()] == [tuple(r) for r in expect.collect()]

        # partition pruning: the bucket predicate must land in the scan's
        # PartitionFilters (directory-level skip), not a post-scan Filter
        from etlutil_spark.plans.inspect import formatted_plan

        plan = formatted_plan(ivf_topk(spark, store, qvec, k=10, n_planes=6))
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "bucket" in m.group(1), plan[:2000]


class TestMultiBatchStreaming:
    def test_state_accumulates_across_micro_batches(self, spark, sf_dir, tmp_path):
        """Split events into 4 files; maxFilesPerTrigger=1 -> 4 micro-
        batches. The applyInPandasWithState totals must converge to the
        batch aggregate, proving state carries across batches (not one
        batch recomputing everything)."""
        from etlutil_spark.sources.testdata import load_table
        from etlutil_spark.streaming.events import (
            run_stream_query,
            running_user_totals,
        )

        ev = load_table(spark, "events", sf_dir)
        src_dir = str(tmp_path / "events_split")
        ev.repartition(4).write.parquet(src_dir)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        got = run_stream_query(
            running_user_totals(stream), query_name="t_multi", output_mode="update"
        )
        # update mode emits one row per user per batch that touched it;
        # the LAST emission per user must equal the full batch aggregate
        import pandas as pd

        pdf = got.toPandas()
        latest = (
            pdf.groupby("user_id").last()[["n_events", "total_value"]].to_dict("index")
        )
        expect = {
            r.user_id: (r.n, round(r.total, 6))
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        got_map = {
            k: (int(v["n_events"]), round(float(v["total_value"]), 6))
            for k, v in latest.items()
        }
        assert got_map == expect


class TestClusterStore:
    """Persisted near-dup cluster-map store (dedup.py): one pair-stage +
    CC materialization serving every audit consumer, ensure_* reuse
    semantics, and the dataset-digest staleness guard."""

    def _write_docs(self, spark, path, rows):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def test_store_matches_live_pipeline(self, spark, tmp_path):
        from etlutil_spark.operators.dedup import (
            duplicate_clusters,
            ensure_cluster_store,
            ngram_jaccard_pairs,
            read_cluster_map,
            read_cluster_pairs,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text with nothing shared here"),
            (4, "the quick brown fox jumps over the lazy dog tonight"),
        ]
        d = self._write_docs(spark, str(tmp_path / "docs"), rows)
        path = str(tmp_path / "clstore")
        assert ensure_cluster_store(
            spark, d, path, id_col="doc_id", text_col="text", n=3,
            threshold=0.6, max_shingle_freq=50,
        ) == "built"
        # pairs leg == live pair stage at threshold 0.0
        live_pairs = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                d, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=50
            ).collect()
        )
        got_pairs = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in read_cluster_pairs(spark, path).collect()
        )
        assert got_pairs == live_pairs
        # clusters leg == live CC over verified pairs
        live_cl = sorted(
            (r.member_id, r.cluster_id)
            for r in duplicate_clusters(
                ngram_jaccard_pairs(
                    d, "doc_id", "text", n=3, threshold=0.6,
                    max_shingle_freq=50,
                )
            ).collect()
        )
        got_cl = sorted(
            (r.member_id, r.cluster_id)
            for r in read_cluster_map(spark, path).collect()
        )
        assert got_cl == live_cl
        # same data + same params: metadata-only reuse
        assert ensure_cluster_store(
            spark, d, path, id_col="doc_id", text_col="text", n=3,
            threshold=0.6, max_shingle_freq=50,
        ) == "reused"
        # param change rebuilds
        assert ensure_cluster_store(
            spark, d, path, id_col="doc_id", text_col="text", n=4,
            threshold=0.6, max_shingle_freq=50,
        ) == "built"

    def test_content_change_rebuilds(self, spark, tmp_path):
        from etlutil_spark.operators.dedup import (
            ensure_cluster_store,
            read_cluster_map,
        )

        src = str(tmp_path / "docs2")
        d = self._write_docs(
            spark,
            src,
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "alpha beta gamma delta epsilon zeta eta theta"),
            ],
        )
        path = str(tmp_path / "clstore2")
        ensure_cluster_store(spark, d, path)
        assert {
            (r.member_id, r.cluster_id)
            for r in read_cluster_map(spark, path).collect()
        } == {(1, 1), (2, 1)}
        # regenerate the dataset at the SAME path with different contents:
        # the digest in the meta must force a rebuild, not serve stale
        d2 = self._write_docs(
            spark,
            src,
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (3, "alpha beta gamma delta epsilon zeta eta theta"),
            ],
        )
        assert ensure_cluster_store(spark, d2, path) == "built"
        assert {
            (r.member_id, r.cluster_id)
            for r in read_cluster_map(spark, path).collect()
        } == {(1, 1), (3, 1)}

    def test_read_during_rebuild_pointer_flip(self, spark, tmp_path):
        """The r11 commit was delete-then-rename: a reader racing a
        REBUILD could observe a missing store. The versioned pointer-flip
        commit must (a) keep a reader's already-resolved version alive
        across one rebuild, (b) never expose a missing store even with
        the pointer file deleted mid-swap, (c) GC versions beyond
        current+previous."""
        import os

        from etlutil_spark.operators.dedup import (
            ensure_cluster_store,
            read_cluster_map,
            read_cluster_pairs,
        )
        from etlutil_spark.operators.store import store_versions

        rows = [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text with nothing shared here"),
        ]
        d = self._write_docs(spark, str(tmp_path / "docs3"), rows)
        path = str(tmp_path / "clstore3")
        assert ensure_cluster_store(spark, d, path, n=3) == "built"
        # reader resolves v1 and holds the frame across a rebuild
        held = read_cluster_pairs(spark, path)
        held_rows = held.count()
        assert ensure_cluster_store(spark, d, path, n=4) == "built"
        # (a) the previous version's files are retained for the in-flight
        # reader: re-collecting the held frame still works
        assert held.count() == held_rows
        # new resolution sees the new version
        assert read_cluster_map(spark, path).count() >= 0
        # (b) pointer file deleted (simulates the sub-ms swap gap):
        # readers fall back to the newest complete version
        jvm = spark._jvm
        ptr = jvm.org.apache.hadoop.fs.Path(path + "/_current")
        ptr.getFileSystem(spark._jsc.hadoopConfiguration()).delete(ptr, False)
        assert read_cluster_pairs(spark, path).count() == held_rows
        # and ensure() with matching params resolves + reuses, not rebuilds
        assert ensure_cluster_store(spark, d, path, n=4) == "reused"
        # (c) a third distinct build GCs v1: exactly current+previous remain
        assert ensure_cluster_store(spark, d, path, n=5) == "built"
        assert len(store_versions(spark, path, "cluster")) == 2
        # no builder scratch dirs leaked next to the store
        leaked = [
            p for p in os.listdir(tmp_path) if p.startswith("clstore3__build_")
        ]
        assert leaked == []

    def test_legacy_flat_layout_still_readable(self, spark, tmp_path):
        """Stores written directly by build_cluster_store (no version
        dirs, no pointer) keep working through the readers."""
        from etlutil_spark.operators.dedup import (
            build_cluster_store,
            read_cluster_map,
            read_cluster_pairs,
        )

        d = self._write_docs(
            spark,
            str(tmp_path / "docs4"),
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "alpha beta gamma delta epsilon zeta eta theta"),
            ],
        )
        path = str(tmp_path / "flat_store")
        build_cluster_store(d, path, id_col="doc_id", text_col="text")
        assert read_cluster_pairs(spark, path).count() >= 1
        assert {
            (r.member_id, r.cluster_id)
            for r in read_cluster_map(spark, path).collect()
        } == {(1, 1), (2, 1)}

    def test_failed_build_cleans_scratch(self, spark, tmp_path):
        """A build that dies mid-flight must delete its builder-unique
        temp dir (the r11 version leaked it) and leave any committed
        version untouched."""
        import os

        import pytest

        from etlutil_spark.operators.dedup import (
            ensure_cluster_store,
            read_cluster_map,
        )

        d = self._write_docs(
            spark,
            str(tmp_path / "docs5"),
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "alpha beta gamma delta epsilon zeta eta theta"),
            ],
        )
        path = str(tmp_path / "clstore5")
        ensure_cluster_store(spark, d, path)
        before = read_cluster_map(spark, path).count()
        with pytest.raises(Exception):
            # wrong id_col: analysis error mid-build
            ensure_cluster_store(spark, d, path, id_col="nope")
        leaked = [
            p for p in os.listdir(tmp_path) if p.startswith("clstore5__build_")
        ]
        assert leaked == []
        # the committed store is untouched
        assert read_cluster_map(spark, path).count() == before


class TestMinhashStore:
    """Persisted MinHash family store (dedup.py): one signature pass +
    one banded-candidate verification serving the production pair query
    and the sampled eval queries; ensure_* reuse semantics; the
    per-pair restriction property the eval rewires depend on."""

    def _write_docs(self, spark, path, rows):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    ROWS = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different text with nothing shared here at all"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),
        (6, "the quick brown fox jumps over the lazy dog tonight ok"),
        (9, "the quick brown fox jumps over the lazy dog tonight"),
    ]

    def test_store_matches_live_pipeline(self, spark, tmp_path):
        from etlutil_spark.operators.dedup import (
            ensure_minhash_store,
            minhash_lsh_pairs,
            minhash_signatures,
            read_minhash_cands,
            read_minhash_signatures,
        )

        d = self._write_docs(spark, str(tmp_path / "docs"), self.ROWS)
        path = str(tmp_path / "mhstore")
        assert ensure_minhash_store(
            spark, d, path, num_hashes=32, bands=8
        ) == "built"
        # signatures leg == live sketch pass
        live_sig = {
            r.doc_id: list(r.signature)
            for r in minhash_signatures(
                d, "doc_id", "text", n=3, num_hashes=32
            ).collect()
        }
        got_sig = {
            r.doc_id: list(r.signature)
            for r in read_minhash_signatures(spark, path).collect()
        }
        assert got_sig == live_sig
        # cands-at-threshold == live verified pipeline, for TWO thresholds
        # from the one store (the pushed-filter contract)
        for t in (0.6, 0.3):
            live = sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in minhash_lsh_pairs(
                    d, "doc_id", "text", num_hashes=32, bands=8,
                    verify_threshold=t,
                ).collect()
            )
            got = sorted(
                (r.id_a, r.id_b, r.jaccard)
                for r in read_minhash_cands(spark, path)
                .where(F.col("jaccard") >= t)
                .collect()
            )
            assert got == live, f"threshold {t}"
        assert ensure_minhash_store(
            spark, d, path, num_hashes=32, bands=8
        ) == "reused"
        # param change rebuilds
        assert ensure_minhash_store(
            spark, d, path, num_hashes=32, bands=4
        ) == "built"

    def test_sample_restriction_equals_sample_run(self, spark, tmp_path):
        """The eval rewires read the FULL-corpus store restricted to the
        sample ids; band collision and Jaccard are per-pair properties,
        so that must equal running the pipeline on the sample corpus."""
        from etlutil_spark.operators.dedup import (
            ensure_minhash_store,
            minhash_lsh_pairs,
            read_minhash_cands,
        )

        d = self._write_docs(spark, str(tmp_path / "docs2"), self.ROWS)
        path = str(tmp_path / "mhstore2")
        ensure_minhash_store(spark, d, path, num_hashes=32, bands=8)
        sample = d.where(F.col("doc_id") % 3 == 0)
        live = sorted(
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                sample, "doc_id", "text", num_hashes=32, bands=8,
                verify_threshold=None,
            ).collect()
        )
        got = sorted(
            (r.id_a, r.id_b)
            for r in read_minhash_cands(spark, path)
            .where((F.col("id_a") % 3 == 0) & (F.col("id_b") % 3 == 0))
            .select("id_a", "id_b")
            .collect()
        )
        assert got == live

    def test_content_change_rebuilds(self, spark, tmp_path):
        from etlutil_spark.operators.dedup import (
            ensure_minhash_store,
            read_minhash_cands,
        )

        src = str(tmp_path / "docs3")
        d = self._write_docs(spark, src, self.ROWS)
        path = str(tmp_path / "mhstore3")
        ensure_minhash_store(spark, d, path)
        n_before = read_minhash_cands(spark, path).count()
        d2 = self._write_docs(spark, src, self.ROWS[:3])
        assert ensure_minhash_store(spark, d2, path) == "built"
        assert read_minhash_cands(spark, path).count() < n_before


class TestDegenerateDigestForcesRebuild:
    """r12 advice item 4: an in-memory / view input has no file-backed
    content identity, so its digest must never MATCH a stored one — a
    constant empty-list hash would silently serve stale stores after the
    input changed. The digest is now a per-call sentinel: the store
    REBUILDS every call (RED on the old code, which returned 'reused')."""

    def test_ensure_cluster_store_never_reuses_inmemory_input(
        self, spark, tmp_path
    ):
        import warnings

        from etlutil_spark.operators.dedup import ensure_cluster_store

        d = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "the quick brown fox jumps over the lazy dog today"),
            ],
            "doc_id bigint, text string",
        )
        path = str(tmp_path / "clstore_mem")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert ensure_cluster_store(spark, d, path) == "built"
            # same params, same in-memory frame: still BUILT, never reused
            assert ensure_cluster_store(spark, d, path) == "built"
        assert any("dataset_digest" in str(x.message) for x in w)


class TestClusterStoreV2Containment:
    """r12 verdict item 3: the store's v2 pairs table carries
    (n_common, n_a, n_b), so containment is a projection over the stored
    ints. Store-served containment must equal the live operator."""

    def test_store_containment_equals_live(self, spark, tmp_path):
        from etlutil_spark.operators.dedup import (
            containment_from_pair_stats,
            containment_pairs,
            ensure_cluster_store,
            read_cluster_pairs,
        )

        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta"),  # contained excerpt of 1
            (3, "totally unrelated words only here now"),
            (4, "alpha beta gamma delta epsilon zeta eta theta"),
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "docs"))
        d = spark.read.parquet(str(tmp_path / "docs"))
        path = str(tmp_path / "clstore_v2")
        ensure_cluster_store(
            spark, d, path, id_col="doc_id", text_col="text", n=3,
            threshold=0.6, max_shingle_freq=50,
        )
        live = sorted(
            map(str, containment_pairs(
                d, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=50
            ).collect())
        )
        served = sorted(
            map(str, containment_from_pair_stats(
                read_cluster_pairs(spark, path).select(
                    "id_a", "id_b", "n_common", "n_a", "n_b"
                ),
                threshold=0.5,
            ).collect())
        )
        assert served == live and len(live) >= 1
