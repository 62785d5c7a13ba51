"""The one store contract (operators/store.py), checked on every family.

Each of the eight ``ensure_*`` families goes through the same six cases:
reuse, a param change, a source data change, a corrupt sidecar, a missing
sidecar and an in-memory source. Every call must report the status and the
reason the contract defines, and after every rebuild the family's reader
must resolve to the new version.
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import sys
import uuid
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from etlutil_spark.operators import dedup, text_analysis
from etlutil_spark.operators import store as S
from tests.helpers import crash_mid_build, crash_mid_delta

DOCS = [
    (1, "s1", "en", 40, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "s1", "en", 40, "the quick brown fox jumps over the lazy dog today"),
    (3, "s2", "en", 40, "completely different text with nothing shared here"),
    (4, "s2", "en", 40, "the quick brown fox jumps over the lazy dog tonight"),
    (5, "s3", "en", 40, "alpha beta gamma delta epsilon zeta eta theta"),
    (6, "s3", "en", 40, "alpha beta gamma delta epsilon zeta eta theta iota"),
]
DOCS_SCHEMA = "doc_id bigint, source string, lang string, n_chars int, text string"
VECS = [(i, [float(i % 5), float(-i % 3), 1.0, float(i % 2)]) for i in range(24)]
VECS_SCHEMA = "vec_id bigint, embedding array<double>"
BOUNDS = [0, 1, 2, 4, 8, 16, 32]


def _docs_family(ensure_fn, reader, a, b):
    def ensure(spark, src, path, variant, tag):
        return ensure_fn(spark, src, path, **(a if variant == 0 else b))

    return ensure, reader, DOCS, DOCS_SCHEMA


def _read_cluster(spark, path, tag):
    from etlutil_spark.operators.dedup import read_cluster_pairs

    return read_cluster_pairs(spark, path)


def _read_minhash(spark, path, tag):
    from etlutil_spark.operators.dedup import read_minhash_signatures

    return read_minhash_signatures(spark, path)


def _read_postings(spark, path, tag):
    from etlutil_spark.operators.text_analysis import bm25_serve

    return bm25_serve(spark, path, ["quick", "alpha"], k=5)


def _read_quality(spark, path, tag):
    from etlutil_spark.operators.text_analysis import read_quality_scores

    return read_quality_scores(spark, path)


def _ensure_ivf(spark, src, path, variant, tag):
    from etlutil_spark.operators.similarity import ensure_ivf_store

    return ensure_ivf_store(spark, src, path, n_planes=3 + variant)


def _read_ivf(spark, path, tag):
    from etlutil_spark.operators.similarity import ivf_topk

    return ivf_topk(spark, path, [1.0, -1.0, 1.0, 0.0], k=3, n_planes=3)


def _ensure_ivfadc(spark, src, path, variant, tag):
    from etlutil_spark.operators.clustering import ensure_ivfadc_index

    return ensure_ivfadc_index(
        spark, src, "vec_id", "embedding", path,
        k=2, iters=2, m=2, ksub=4 - variant * 2, pq_iters=1,
    )


def _read_ivfadc(spark, path, tag):
    from etlutil_spark.operators.clustering import ivfadc_serve

    return ivfadc_serve(spark, path, [1.0, -1.0, 1.0, 0.0], nprobe=1, topk=3)


def _ensure_hist(spark, src, path, variant, tag):
    from etlutil_spark.operators.sketch import ensure_hist_store

    return ensure_hist_store(
        spark, src.select(F.col("vec_id").alias("v")), path,
        value_col="v", bounds=BOUNDS[: len(BOUNDS) - variant],
    )


def _read_hist(spark, path, tag):
    from etlutil_spark.operators.sketch import read_hist_store

    return read_hist_store(spark, path)


def _ensure_bucketed(spark, src, path, variant, tag):
    from etlutil_spark.sources.io import ensure_bucketed_table

    return ensure_bucketed_table(
        spark, src.select("vec_id"), f"default.contract_{tag}",
        bucket_by=["vec_id"], n_buckets=4 - variant * 2, path=path,
    )


def _read_bucketed(spark, path, tag):
    return spark.table(f"default.contract_{tag}")


FAMILY_CASES = {
    "cluster": _docs_family(dedup.ensure_cluster_store, _read_cluster, {"n": 3}, {"n": 4}),
    "minhash": _docs_family(dedup.ensure_minhash_store, _read_minhash, {"bands": 8}, {"bands": 4}),
    "postings": _docs_family(text_analysis.ensure_postings_store, _read_postings, {"n_buckets": 8}, {"n_buckets": 4}),
    "ivf": (_ensure_ivf, _read_ivf, VECS, VECS_SCHEMA),
    "ivfadc": (_ensure_ivfadc, _read_ivfadc, VECS, VECS_SCHEMA),
    "hist": (_ensure_hist, _read_hist, VECS, VECS_SCHEMA),
    "quality": _docs_family(
        text_analysis.ensure_quality_store, _read_quality, {"threshold": 0.55}, {"threshold": 0.9}
    ),
    "bucketed": (_ensure_bucketed, _read_bucketed, VECS, VECS_SCHEMA),
}
# the bucketed table reports its catalog state in place of the status
BUILT = {"built", "written"}
REUSED = {"reused", "catalog", "reattached"}
CASES = ("reuse", "params", "data", "corrupt", "missing", "in-memory")


# the ensure_store families; the sink families (no prefix) are below
ENSURE_FAMILIES = {f for f, fam in S.FAMILIES.items() if fam.prefix}


def test_registry_lists_every_family():
    assert set(FAMILY_CASES) == ENSURE_FAMILIES


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("family", sorted(FAMILY_CASES))
def test_store_contract(spark, tmp_path, family, case):
    ensure, reader, rows, schema = FAMILY_CASES[family]
    tag = f"{family}_{case}".replace("-", "_")
    src_dir = str(tmp_path / "src")
    path = str(tmp_path / "store")

    def source(n=len(rows)):
        if case == "in-memory":
            return spark.createDataFrame(rows[:n], schema)
        spark.createDataFrame(rows[:n], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src_dir)
        return spark.read.parquet(src_dir)

    src = source()
    try:
        first = ensure(spark, src, path, 0, tag)
        assert first in BUILT and first.reason == "missing"
        before = S.store_dir(spark, path, family)
        sidecar = os.path.join(before, S.FAMILIES[family].sidecar)
        assert json.load(open(sidecar))["params"]["data"]
        if case == "reuse":
            st = ensure(spark, src, path, 0, tag)
            assert st in REUSED and st.reason is None
            assert S.store_dir(spark, path, family) == before
            return
        if case == "params":
            st = ensure(spark, src, path, 1, tag)
        elif case == "data":
            st = ensure(spark, source(len(rows) - 2), path, 0, tag)
        elif case == "corrupt":
            with open(sidecar, "w") as fh:
                fh.write('{"params": {"trunc')
            st = ensure(spark, src, path, 0, tag)
        elif case == "missing":
            os.remove(sidecar)
            st = ensure(spark, src, path, 0, tag)
        else:
            st = ensure(spark, src, path, 0, tag)
        assert st in BUILT and st.reason == case
        after = S.store_dir(spark, path, family)
        assert after != before
        # the reader resolves the new version, and only it
        version = os.path.basename(after)
        files = reader(spark, path, tag).inputFiles()
        assert files and all(version in f for f in files), files
    finally:
        spark.sql(f"DROP TABLE IF EXISTS default.contract_{tag}")


@pytest.mark.parametrize(
    "family", sorted(f for f in FAMILY_CASES if S.FAMILIES[f].tables)
)
def test_sidecar_without_schemas_rebuilds(spark, tmp_path, family):
    """A version whose sidecar records no table schemas (committed before
    schemas were recorded) is rebuilt with reason ``corrupt``: reusing it
    would make every warm read infer the schemas with a job."""
    ensure, reader, rows, schema = FAMILY_CASES[family]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    path = str(tmp_path / "store")
    assert ensure(spark, src, path, 0, family) == "built"
    before = S.store_dir(spark, path, family)
    sidecar = os.path.join(before, S.FAMILIES[family].sidecar)
    meta = json.load(open(sidecar))
    del meta["schemas"]
    S._write_json(spark, sidecar, meta)  # through Hadoop: keeps its checksum valid
    st = ensure(spark, src, path, 0, family)
    assert st == "built" and st.reason == "corrupt"
    after = S.store_dir(spark, path, family)
    assert after != before
    assert "schemas" in json.load(open(os.path.join(after, S.FAMILIES[family].sidecar)))
    assert ensure(spark, src, path, 0, family) == "reused"


def test_rebuild_keeps_one_previous_version(spark, tmp_path):
    """A reader holding the previous version keeps its files across one
    rebuild; the version before that is deleted."""
    from etlutil_spark.operators.similarity import ensure_ivf_store

    spark.createDataFrame(VECS, VECS_SCHEMA).write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    path = str(tmp_path / "ivf")
    for planes in (2, 3, 4):
        ensure_ivf_store(spark, src, path, n_planes=planes)
    versions = S.store_versions(spark, path, "ivf")
    assert len(versions) == 2
    assert S.store_dir(spark, path, "ivf").endswith(versions[-1])
    assert sorted(n for n in os.listdir(path) if n.startswith("v_")) == versions
    # no builder scratch left next to the store
    assert [n for n in os.listdir(tmp_path) if "__build_" in n] == []


def test_warm_minhash_read_runs_no_job(spark, sf_dir, tmp_path, monkeypatch):
    """The sidecar records each table's schema, so a warm store read plans
    without a schema-inference job: dedup_minhash_lsh's builder runs none."""
    from etlutil_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path))  # a fresh store
    sc = spark.sparkContext
    QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()  # warm
    group = f"warm-minhash-builder-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm minhash builder")
    try:
        QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_registry_covers_every_query_store_path(spark, sf_dir, monkeypatch):
    """Every store an ensure_* call in queries.py builds lives under
    store_root(spark) with its family's registered prefix, and bench.py's
    cold-run reset clears exactly the registered prefixes, so it reaches
    every one of them."""
    import bench
    from etlutil_spark import queries as Q
    from etlutil_spark.operators.util import store_root

    def calls_ensure(fn: ast.FunctionDef) -> bool:
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id.startswith("ensure_")
            and n.func.id != "ensure_min_partitions"
            for n in ast.walk(fn)
        )

    tree = ast.parse(inspect.getsource(Q))
    callers = [
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and calls_ensure(node)
    ]
    assert len(callers) >= len(ENSURE_FAMILIES)
    seen = []

    def spy(spark, path, family, params, source_df, build_fn):
        seen.append((family, path))
        return real(spark, path, family, params, source_df, build_fn)

    real = S.ensure_store
    for name, mod in list(sys.modules.items()):
        if name.startswith("etlutil_spark") and getattr(mod, "ensure_store", None) is real:
            monkeypatch.setattr(mod, "ensure_store", spy)
    for name in callers:
        getattr(Q, name)(spark, sf_dir)
    root = store_root(spark)
    assert {f for f, _ in seen} == ENSURE_FAMILIES
    for family, path in seen:
        top = os.path.relpath(path, root).split(os.sep)[0]
        assert not top.startswith(".."), path
        assert top.startswith(S.FAMILIES[family].prefix), (family, path)
    assert bench._STORE_PREFIXES == tuple(S.FAMILIES[f].prefix for f in S.FAMILIES if f in ENSURE_FAMILIES)


# ------------------------------------------------------ streaming sink state


def _scd2_sink(path):
    from etlutil_spark.streaming.upsert import scd2_upsert_batch

    return scd2_upsert_batch(path, "k", "ts", "s")


def _scd2_batch(spark, i, keys=4):
    return spark.createDataFrame(
        [(k, 10 * i + 1, f"s{(i + k) % 3}") for k in range(keys)], "k int, ts int, s string"
    )


def _read_scd2(spark, path):
    from etlutil_spark.streaming.upsert import read_dim

    return {tuple(r) for r in read_dim(spark, path).collect()}


def _trending_sink(path):
    from etlutil_spark.streaming.trending import trending_batch

    return trending_batch(path, k=3, width=64, depth=4)


def _trending_batch(spark, i, keys=4):
    rows = [(f"e{(i + k) % 7}",) for k in range(keys) for _ in range(k + 1)]
    return spark.createDataFrame(rows, "event_type string")


def _read_trending(spark, path):
    from etlutil_spark.streaming.trending import read_trending

    return {tuple(r) for r in read_trending(spark, path).collect()}


def _corpus_sink(path):
    from etlutil_spark.streaming.dedup_screen import dedup_screen_batch

    return dedup_screen_batch(path)


def _corpus_batch(spark, i, keys=4):
    # docs that share no word: the screen accepts every one
    rows = [
        (i * keys + k, " ".join(f"w{i}x{k}x{j}" for j in range(8))) for k in range(keys)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _read_corpus(spark, path):
    """The stored docs and band rows as a sorted list, so a doc or a band
    row read twice shows."""
    from etlutil_spark.streaming.dedup_screen import read_corpus

    docs, index = read_corpus(spark, path)
    if docs is None:
        return []
    return sorted(
        [("doc", *r) for r in docs.collect()]
        + [("band", *r) for r in index.select("doc_id", "band_idx", "band_hash").collect()]
    )


class Sink(NamedTuple):
    make: Callable  # path -> the foreachBatch function
    batch: Callable  # (spark, i, keys=4) -> the i-th batch
    read: Callable  # (spark, path) -> the state as a set or a sorted list of rows
    crash: Callable  # path -> leaves what batch 2 leaves when it dies mid-commit
    warm_jobs: int  # Spark jobs a warm 200-key batch may run


SINK_CASES = {
    "scd2": Sink(_scd2_sink, _scd2_batch, _read_scd2, crash_mid_build, 12),
    "trending": Sink(_trending_sink, _trending_batch, _read_trending, crash_mid_build, 12),
    "corpus": Sink(
        _corpus_sink, _corpus_batch, _read_corpus, lambda p: crash_mid_delta(p, 2, like=0), 15
    ),
}
# the sinks whose every batch commits a new version (replace_state)
SNAPSHOT_SINKS = ["scd2", "trending"]


def test_sink_cases_list_every_sink_family():
    assert set(SINK_CASES) == set(S.FAMILIES) - ENSURE_FAMILIES


@pytest.mark.parametrize("family", sorted(SINK_CASES))
def test_sink_replay_is_noop_and_lower_batch_raises(spark, tmp_path, family):
    make, batch, read, *_ = SINK_CASES[family]
    path = str(tmp_path / "state")
    sink = make(path)
    sink(batch(spark, 0), 0)
    sink(batch(spark, 1), 1)
    want, version = read(spark, path), S.store_dir(spark, path, family)
    sink(batch(spark, 1), 1)  # a foreachBatch retry of the committed batch
    assert read(spark, path) == want
    assert S.store_dir(spark, path, family) == version
    # batch 0 belongs to another checkpoint's history
    with pytest.raises(ValueError, match="another checkpoint"):
        sink(batch(spark, 0), 0)
    assert read(spark, path) == want


@pytest.mark.parametrize("family", sorted(SINK_CASES))
def test_sink_crash_mid_build_is_invisible_then_replayed(spark, tmp_path, family):
    """A batch that dies mid-commit leaves nothing a reader sees, and its
    replay commits it and removes what a dead builder left."""
    make, batch, read, crash, _ = SINK_CASES[family]
    ref, path = str(tmp_path / "ref"), str(tmp_path / "state")
    for p in (ref, path):
        sink = make(p)
        sink(batch(spark, 0), 0)
        sink(batch(spark, 1), 1)
    want = read(spark, path)
    crash(path)  # batch 2 died mid-commit
    assert read(spark, path) == want
    make(path)(batch(spark, 2), 2)  # its replay
    make(ref)(batch(spark, 2), 2)
    assert read(spark, path) == read(spark, ref) != want
    assert [n for n in os.listdir(tmp_path) if "__build_" in n] == []
    assert S._versions(spark, path, family)[1] == []  # no version without a sidecar


@pytest.mark.parametrize("family", SNAPSHOT_SINKS)
def test_sink_state_is_bounded(spark, tmp_path, family):
    make, batch, read, *_ = SINK_CASES[family]
    path = str(tmp_path / "state")
    sink = make(path)
    for i in range(5):
        sink(batch(spark, i), i)
    versions = S.store_versions(spark, path, family)
    assert len(versions) == 2
    assert sorted(n for n in os.listdir(path) if n.startswith("v_")) == versions
    assert [n for n in os.listdir(tmp_path) if "__build_" in n] == []
    meta = json.load(open(os.path.join(path, versions[-1], S.FAMILIES[family].sidecar)))
    assert meta["batch"] == 4


@pytest.mark.parametrize("family", sorted(SINK_CASES))
def test_sink_refuses_state_it_cannot_read(spark, tmp_path, family):
    """Sink state cannot be rebuilt from a source, so a damaged sidecar or
    files of another layout at the path raise instead of starting over."""
    make, batch, read, *_ = SINK_CASES[family]
    path = str(tmp_path / "state")
    sink = make(path)
    sink(batch(spark, 0), 0)
    sidecar = os.path.join(S.store_dir(spark, path, family), S.FAMILIES[family].sidecar)
    S._write_text(spark, sidecar, '{"batch": "trunc')
    with pytest.raises(ValueError, match="damaged sidecar"):
        sink(batch(spark, 1), 1)
    flat = str(tmp_path / "flat")
    batch(spark, 0).write.parquet(flat)
    with pytest.raises(ValueError, match="outside the versioned"):
        make(flat)(batch(spark, 0), 0)


@pytest.mark.parametrize("family", sorted(SINK_CASES))
def test_sink_warm_batch_job_budget(spark, tmp_path, family):
    """A warm batch against a 200-key state runs at most the family's
    budget of Spark jobs (local[4]: 11 for the SCD2 upsert, 9 for
    trending, 13 for the dedup screen), a replay 1."""
    make, batch, read, _, warm_jobs = SINK_CASES[family]
    sink = make(str(tmp_path / "state"))
    sink(batch(spark, 0, keys=200), 0)
    sc = spark.sparkContext

    def jobs(i):
        group = f"sink-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "sink job budget")
        try:
            sink(batch(spark, 1, keys=200), i)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(1) <= warm_jobs
    assert jobs(1) <= 1


# ------------------------------------------------------------ delta visibility


def _postings_with_delta(spark, path):
    docs = spark.createDataFrame(DOCS, DOCS_SCHEMA)
    text_analysis.ensure_postings_store(spark, docs.where("doc_id <= 3"), path, n_buckets=8)
    text_analysis.update_postings_store(spark, docs.where("doc_id > 3"), path, batch_id="b1")
    return "b1"


def _hist_with_delta(spark, path):
    from etlutil_spark.operators.sketch import ensure_hist_store, update_hist_store

    rows = spark.createDataFrame([(v,) for v in range(40)], "v long")
    ensure_hist_store(spark, rows.where("v < 20"), path, value_col="v", bounds=BOUNDS)
    update_hist_store(spark, rows.where("v >= 20"), path, batch_id="b1")
    return "b1"


def _corpus_with_delta(spark, path):
    sink = _corpus_sink(path)
    sink(_corpus_batch(spark, 0), 0)
    sink(_corpus_batch(spark, 1), 1)
    return 1


# family -> (builds a store with one committed delta and returns its batch
# id, the store's reader as a sorted list of rows)
DELTA_CASES = {
    "postings": (_postings_with_delta, lambda spark, p: sorted(_read_postings(spark, p, "").collect())),
    "hist": (_hist_with_delta, lambda spark, p: sorted(_read_hist(spark, p, "").collect())),
    "corpus": (_corpus_with_delta, _read_corpus),
}


@pytest.mark.parametrize("family", sorted(DELTA_CASES))
def test_unmarked_delta_is_invisible(spark, tmp_path, family):
    """A delta dir without its ``_applied_`` marker (a batch that died
    before committing) is invisible to the family's reader."""
    build, read = DELTA_CASES[family]
    path = str(tmp_path / "store")
    committed = build(spark, path)
    want = read(spark, path)
    crash_mid_delta(path, "x", like=committed)
    assert read(spark, path) == want
