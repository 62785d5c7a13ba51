"""One lifecycle for every persisted store and every piece of sink state.

A store at ``path`` is a set of version directories plus a pointer::

    <path>/v_<counter>_<uuid>/   one complete build: the family's tables,
                                 then its sidecar, written LAST
    <path>/_current              the name of the current version

A version is complete iff its sidecar exists. Every family's sidecar is
one JSON object: ``{"params": ..., "schemas": {table: schema}, ...}``.
``params`` holds the family's build parameters plus the source frame's
:func:`dataset_digest` under ``"data"``; ``schemas`` records each table's
schema so a warm read needs no schema-inference job; the rest are family
extras (BM25 corpus counts, the IVFADC model).

:func:`ensure_store` reuses the current version when its params match and
otherwise builds a new version in a builder-unique temp dir, renames it to
the next ``v_*`` slot and flips ``_current`` with one atomic rename, so a
rebuild never exposes a missing or half-written store to readers. The
previous version is kept for in-flight readers; older ones are deleted,
and so is any ``v_*`` dir without a sidecar (a dead builder's: versions
appear only by renaming a complete build). Concurrent builders are safe
but wasteful (the last flip wins). On object stores without atomic
rename, front this with a rename-capable filesystem.

The delta families (postings, IVFADC, histogram, and the dedup-screen
corpus) fold batches into the CURRENT version with :func:`apply_delta`:
each batch overwrites its own ``delta=<batch_id>`` dir, then creates an
empty ``_applied_<batch_id>`` marker. The marker is the commit point, and
it is the one visibility rule: :func:`open_store` lists the version once,
and :func:`read_table` reads ``delta=base`` and only the deltas whose
marker exists, so a crashed batch is invisible until its replay commits
it. Families without deltas read their version dir as it is.

The streaming sink families hold state at a caller-given path and keep
one batch order: a replay of the last committed batch is a no-op, and a
lower batch id raises, since that batch belongs to another checkpoint.
The SCD2 dimension and the trending sketch are replaced whole each
micro-batch: :func:`replace_state` commits every batch as a new version
whose sidecar records the batch id, so at most two versions are ever on
disk. The dedup-screen corpus is an append log: its first batch commits
an empty version and every batch then lands as one delta of it, holding
one table, ``docs/``: the accepted docs with their band hashes. The
highest marker is the last committed batch. A sink
family has one writer, so a commit also deletes the ``<path>__build_*``
scratch a dead builder left beside the path. Sink state is not
rebuildable: a damaged sidecar, or a path holding files of another
layout, raises instead of starting over.
"""

from __future__ import annotations

import json
import re
import uuid
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Family:
    prefix: str | None  # directory-name prefix under store_root(); None for sink state
    sidecar: str  # sidecar file name inside a version dir
    tables: tuple[str, ...] = ()  # sub-dirs whose schema is recorded ("" = the version dir)
    rebase: bool = False  # a data-only rebuild carries the applied batches over
    deltas: bool = False  # batches land as delta=<batch_id> dirs (apply_delta)
    retired: tuple[str, ...] = ()  # delta tables of an earlier layout; finding one raises


FAMILIES = {
    "cluster": Family("etlutil_spark_clstore_", "_cluster_meta.json", ("pairs", "clusters")),
    "minhash": Family("etlutil_spark_mhstore_", "_minhash_meta.json", ("signatures", "cands")),
    "postings": Family("etlutil_spark_postings_", "_postings_meta.json", ("",), deltas=True),
    "ivf": Family("etlutil_spark_ivfserve_", "_ivf_meta.json", ("",)),
    "ivfadc": Family("etlutil_spark_ivfadc_", "_ivfadc_model.json", ("",), deltas=True),
    # no recorded schema: read_hist_store infers on purpose, to catch a
    # delta whose columns disagree with the sidecar
    "hist": Family("etlutil_spark_hist_", "_hist_meta.json", rebase=True, deltas=True),
    "quality": Family("etlutil_spark_qstore_", "_quality_meta.json", ("",)),
    "bucketed": Family("etlutil_spark_bucketed_", "_bucket_spec.json"),
    # streaming sink state (replace_state), kept wherever its caller says
    "scd2": Family(None, "_scd2_meta.json", ("",)),
    "trending": Family(None, "_trending_meta.json", ("cms", "topk")),
    # no recorded schema: the sink reads with its batch's schema
    "corpus": Family(None, "_corpus_meta.json", deltas=True, retired=("index",)),
}

_VERSION = re.compile(r"v_(\d+)_[0-9a-f]+")
_BATCH_ID = re.compile(r"[A-Za-z0-9_.-]+")
_MARKER = "_applied_"
_DEGENERATE = "degenerate-"


class StoreStatus(str):
    """``"reused"`` or ``"built"``; a build carries ``reason``: ``params``,
    ``data``, ``corrupt``, ``missing`` or ``in-memory``. (The bucketed
    table reports its catalog state instead: ``catalog`` or ``reattached``
    for a reused store, ``written`` for a built one.)"""

    reason: str | None

    def __new__(cls, status: str, reason: str | None = None):
        out = super().__new__(cls, status)
        out.reason = reason
        return out


class OpenStore(NamedTuple):
    dir: str  # the current version, or the path itself for a flat layout
    meta: dict | None  # its sidecar; None for a flat layout
    applied: frozenset[str] = frozenset()  # batch ids whose marker exists
    deltas: tuple[str, ...] | None = None  # the delta dirs readers see; None: no deltas


def store_path(spark, family: str, key: str) -> str:
    """Where the query layer keeps ``family``'s store for ``key``."""
    from etlutil_spark.operators.util import store_root

    return f"{store_root(spark)}/{FAMILIES[family].prefix}{key}"


# ------------------------------------------------------------- filesystem


def _fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _read_text(spark, path: str) -> str | None:
    """A small file's text; None when it is missing or unreadable."""
    jvm, fs = _fs(spark, path)
    try:
        stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
    except Exception:
        return None


def _write_text(spark, path: str, text: str) -> None:
    """Replace ``path`` atomically: write a sibling temp file, then rename
    it over the target, so a reader sees the old or the new text."""
    jvm, fs = _fs(spark, path)
    hp = jvm.org.apache.hadoop.fs
    tmp = hp.Path(f"{path}.tmp-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    opts = spark.sparkContext._gateway.new_array(hp.Options.Rename, 1)
    opts[0] = hp.Options.Rename.OVERWRITE
    conf = spark._jsc.hadoopConfiguration()
    hp.FileContext.getFileContext(tmp.toUri(), conf).rename(tmp, hp.Path(path), opts)


def _read_json(spark, path: str):
    """The parsed file; None when it is missing, unreadable or not JSON."""
    text = _read_text(spark, path)
    try:
        return None if text is None else json.loads(text)
    except ValueError:
        return None


def _write_json(spark, path: str, obj: dict) -> None:
    _write_text(spark, path, json.dumps(obj, sort_keys=True))


def _delete(spark, path: str) -> None:
    jvm, fs = _fs(spark, path)
    try:
        fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)
    except Exception:
        pass


# ---------------------------------------------------------------- versions


def _names(spark, base: str) -> list[str]:
    """Entry names under ``base``; [] when it does not exist. Any other
    listing failure raises: taken for an empty dir, it would hide every
    committed delta from a reader."""
    from py4j.protocol import Py4JJavaError

    jvm, fs = _fs(spark, base)
    try:
        return [st.getPath().getName() for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(base))]
    except Py4JJavaError as e:
        if jvm.java.lang.Class.forName("java.io.FileNotFoundException").isInstance(e.java_exception):
            return []
        raise


def _versions(spark, base: str, family: str) -> tuple[list[str], list[str]]:
    """(names of the complete versions under ``base``, oldest first;
    names of the ``v_*`` dirs without a sidecar)."""
    jvm, fs = _fs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    sidecar = FAMILIES[family].sidecar
    done, dead = [], []
    for nm in _names(spark, base):
        if m := _VERSION.fullmatch(nm):
            if fs.exists(P(f"{base}/{nm}/{sidecar}")):
                done.append((int(m.group(1)), nm))
            else:
                dead.append(nm)
    return [nm for _, nm in sorted(done)], dead


def store_versions(spark, path: str, family: str) -> list[str]:
    """Names of the complete versions under ``path``, oldest first."""
    return _versions(spark, path.rstrip("/"), family)[0]


def _current(spark, base: str, family: str) -> str | None:
    """The version ``_current`` names if complete, else the newest
    complete one (a deleted or stale pointer); None when there is none."""
    jvm, fs = _fs(spark, base)
    name = (_read_text(spark, base + "/_current") or "").strip()
    sidecar = FAMILIES[family].sidecar
    if name and fs.exists(jvm.org.apache.hadoop.fs.Path(f"{base}/{name}/{sidecar}")):
        return f"{base}/{name}"
    versions = store_versions(spark, base, family)
    return f"{base}/{versions[-1]}" if versions else None


def store_dir(spark, path: str, family: str) -> str:
    """The directory holding the store's current data: its current
    version, or ``path`` itself for a flat layout written by a ``build_*``
    function directly."""
    base = path.rstrip("/")
    return _current(spark, base, family) or base


def open_store(spark, path: str, family: str, *, required: bool = False) -> OpenStore:
    """Resolve the current version once, with its sidecar, so a reader
    takes its metadata and its data from the same version."""
    d = store_dir(spark, path, family)
    meta = _read_json(spark, f"{d}/{FAMILIES[family].sidecar}")
    if required and not isinstance(meta, dict):
        raise ValueError(f"no {family} store at {path}; build one first")
    return _opened(spark, d, family, meta if isinstance(meta, dict) else None)


def _opened(spark, d: str, family: str, meta: dict | None) -> OpenStore:
    """Version ``d`` with its sidecar ``meta``. A delta family lists ``d``
    once, for its applied batches and for the delta dirs a reader may see:
    ``delta=base`` and every ``delta=<batch_id>`` whose marker exists. A
    retired table in one of them (a store has one layout) raises."""
    fam = FAMILIES[family]
    if meta is None or not fam.deltas:
        return OpenStore(d, meta)
    names = _names(spark, d)
    applied = frozenset(n[len(_MARKER):] for n in names if n.startswith(_MARKER))
    deltas = tuple(
        sorted(
            n for n in names
            if n.startswith("delta=") and (n == "delta=base" or n[len("delta="):] in applied)
        )
    )
    old = [t for t in fam.retired if deltas and t in _names(spark, f"{d}/{deltas[0]}")]
    if old:
        raise ValueError(f"{family} store {d} holds {deltas[0]}/{old[0]}/ of an earlier layout; move it aside")
    return OpenStore(d, meta, applied, deltas)


def read_table(spark, store: OpenStore, table: str = "", schema=None) -> DataFrame:
    """One table of an opened store, read with ``schema``, else with the
    schema its sidecar recorded (no inference job); a flat layout or an
    unrecorded table falls back to inference. A delta family's table is
    read from the visible deltas only; the version dir's own table keeps
    ``delta`` as a partition column."""
    from pyspark.sql.types import StructType

    if schema is None:
        recorded = ((store.meta or {}).get("schemas") or {}).get(table)
        schema = None if recorded is None else StructType.fromJson(recorded)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if store.deltas is None:
        return reader.parquet(f"{store.dir}/{table}" if table else store.dir)
    if table:
        return reader.parquet(*(f"{store.dir}/{d}/{table}" for d in store.deltas))
    return reader.option("basePath", store.dir).parquet(
        *(f"{store.dir}/{d}" for d in store.deltas)
    )


def commit_version(
    spark,
    path: str,
    family: str,
    meta: dict,
    build_fn: Callable[[str], dict | None],
    keep: tuple[str, Callable[[str], bool]] | None = None,
) -> str:
    """Build a version in a builder-unique temp dir and make it current.
    ``build_fn(tmp)`` writes the tables and may return extra sidecar
    entries; ``keep = (dir, pred)`` copies the entries of ``dir`` whose
    name satisfies ``pred`` into the new version. A failed build deletes
    its temp dir. Returns the committed version dir."""
    from pyspark.errors import AnalysisException

    fam = FAMILIES[family]
    base = path.rstrip("/")
    jvm, fs = _fs(spark, base)
    P = jvm.org.apache.hadoop.fs.Path
    parent = P(base).getParent()
    if fam.prefix is None and parent is not None:
        # sink state has one writer: a __build_* sibling is a dead builder's
        scratch = f"{P(base).getName()}__build_"
        for nm in _names(spark, parent.toString()):
            if nm.startswith(scratch):
                _delete(spark, f"{parent.toString()}/{nm}")
    tmp = f"{base}__build_{uuid.uuid4().hex[:12]}"
    try:
        meta = {**meta, **(build_fn(tmp) or {})}
        if keep is not None:
            src, pred = keep
            conf = spark._jsc.hadoopConfiguration()
            for st in fs.listStatus(P(src)):
                nm = st.getPath().getName()
                if pred(nm):
                    jvm.org.apache.hadoop.fs.FileUtil.copy(
                        fs, st.getPath(), fs, P(f"{tmp}/{nm}"), False, conf
                    )
        schemas = {}
        for t in fam.tables:
            try:
                schemas[t] = spark.read.parquet(f"{tmp}/{t}").schema.jsonValue()
            except AnalysisException:
                pass  # no data files (empty input): readers infer
        _write_json(spark, f"{tmp}/{fam.sidecar}", {**meta, "schemas": schemas})
    except BaseException:
        _delete(spark, tmp)
        raise
    if not fs.exists(P(base)):
        fs.mkdirs(P(base))
    versions = store_versions(spark, base, family)
    nxt = int(_VERSION.fullmatch(versions[-1]).group(1)) + 1 if versions else 0
    vname = f"v_{nxt:010d}_{uuid.uuid4().hex[:8]}"
    if not fs.rename(P(tmp), P(f"{base}/{vname}")):
        raise IOError(f"store version commit rename failed; build kept at {tmp}")
    _write_text(spark, base + "/_current", vname)
    done, dead = _versions(spark, base, family)
    for old in dead + done[:-2]:
        _delete(spark, f"{base}/{old}")  # keep the new and the previous
    return f"{base}/{vname}"


def _applied_batch(name: str) -> bool:
    return name.startswith(_MARKER) or (
        name.startswith("delta=") and name != "delta=base"
    )


def ensure_store(
    spark,
    path: str,
    family: str,
    params: dict,
    source_df: DataFrame,
    build_fn: Callable[[str], dict | None],
) -> StoreStatus:
    """Build-once: reuse the current version of ``family``'s store at
    ``path`` when its sidecar holds these ``params`` and ``source_df``'s
    content digest, else build a new version with ``build_fn(tmp)`` and
    commit it. A damaged sidecar rebuilds rather than bricking the store;
    an in-memory source (no backing files, so no content identity) never
    matches and always rebuilds. A family with ``rebase`` carries its
    applied batch deltas and markers over a rebuild caused by new source
    data alone: those batches came from sources that will not redeliver
    them. Returns a :class:`StoreStatus`."""
    fam = FAMILIES[family]
    base = path.rstrip("/")
    digest = dataset_digest(source_df)
    params = {**params, "data": digest}
    cur = _current(spark, base, family)
    reason, keep = "missing", None
    if cur is not None:
        meta = _read_json(spark, f"{cur}/{fam.sidecar}")
        old = meta.get("params") if isinstance(meta, dict) else None
        # a family with recorded tables whose sidecar lacks their schemas
        # (a version committed before schemas were recorded) would make
        # every warm read infer them with a job
        if not isinstance(old, dict) or (fam.tables and "schemas" not in meta):
            reason = "corrupt"
        elif {**old, "data": digest} != params:
            reason = "params"
        elif old.get("data") == digest:
            return StoreStatus("reused")
        else:
            reason = "in-memory" if digest.startswith(_DEGENERATE) else "data"
            if fam.rebase:
                keep = (cur, _applied_batch)
    commit_version(spark, base, family, {"params": params}, build_fn, keep)
    return StoreStatus("built", reason)


def apply_delta(
    spark,
    path: str,
    family: str,
    batch_id: str | int,
    write_fn: Callable[[str, OpenStore], dict | None],
) -> str:
    """Fold one batch into the current version of a delta family.
    ``write_fn(delta_dir, store)`` gets the opened current version and
    writes the batch to its own ``delta=<batch_id>`` dir in overwrite mode
    (a retry replaces a partial earlier attempt); it returns the sidecar
    to write back, or None. The empty ``_applied_<batch_id>`` marker is
    created last: it commits the delta, which readers see only from then
    on, and makes a replay a no-op, so at-least-once delivery never
    double-counts. Sink state (the dedup-screen corpus) takes integer
    batch ids in the sink batch order (see :func:`replace_state`), its
    first batch commits an empty version, and its last committed batch is
    its highest marker. Returns 'applied' or 'skipped'."""
    bid = str(batch_id)
    # batch_id names a directory: it must be one safe path segment, and
    # never 'base', which would overwrite the store's own base partition
    if not _BATCH_ID.fullmatch(bid) or bid == "base":
        raise ValueError(
            f"invalid batch_id {batch_id!r} — must match [A-Za-z0-9_.-]+ "
            "and must not be the reserved value 'base'"
        )
    if FAMILIES[family].prefix is None:
        store = _open_sink(spark, path, family)
        if store is None:
            commit_version(spark, path, family, {}, lambda tmp: None)
            store = _open_sink(spark, path, family)
        done = max(map(int, store.applied), default=None)
        if _replayed(family, path, done, int(batch_id)):
            return "skipped"
    else:
        store = open_store(spark, path, family, required=True)
        if bid in store.applied:
            return "skipped"
    meta = write_fn(f"{store.dir}/delta={bid}", store)
    if meta is not None:
        _write_json(spark, f"{store.dir}/{FAMILIES[family].sidecar}", meta)
    jvm, fs = _fs(spark, store.dir)
    fs.create(jvm.org.apache.hadoop.fs.Path(f"{store.dir}/{_MARKER}{bid}"), True).close()
    return "applied"


def _open_sink(spark, path: str, family: str) -> OpenStore | None:
    """The current version of sink state at ``path``; None before its
    first batch. Sink state is not rebuildable, so it never silently
    starts over: a damaged sidecar, or a path holding files of another
    layout, raises."""
    base = path.rstrip("/")
    cur = _current(spark, base, family)
    if cur is None:
        stray = [n for n in _names(spark, base) if not (_VERSION.fullmatch(n) or "_current" in n)]
        if stray:
            raise ValueError(
                f"{path} holds {stray[:3]} outside the versioned {family} layout; "
                "move it aside or point the sink at an empty path"
            )
        return None
    fam = FAMILIES[family]
    meta = _read_json(spark, f"{cur}/{fam.sidecar}")
    # a snapshot's sidecar records its batch; a delta family's markers do
    if not isinstance(meta, dict) or not (fam.deltas or isinstance(meta.get("batch"), int)):
        raise ValueError(f"{family} state at {path}: damaged sidecar in {cur}")
    return _opened(spark, cur, family, meta)


def _replayed(family: str, path: str, done: int | None, batch_id: int) -> bool:
    """The batch order of sink state, whose last committed batch is
    ``done`` (None before the first): a replay of ``done`` is a no-op
    (True); a lower batch id raises, since that batch belongs to another
    checkpoint."""
    if done is not None and done > batch_id:
        raise ValueError(
            f"{family} state at {path} already holds batch {done}; batch "
            f"{batch_id} belongs to another checkpoint"
        )
    return done == batch_id


def replace_state(
    spark,
    path: str,
    family: str,
    batch_id: int,
    build_fn: Callable[[str, OpenStore | None], None],
) -> str:
    """Snapshot twin of :func:`apply_delta`, for sink state that each
    micro-batch replaces whole. ``build_fn(tmp, prev)`` writes the family's
    tables for the state after batch ``batch_id`` from ``prev``, the
    current version (None before the first batch), and
    :func:`commit_version` makes it current with ``batch_id`` in its
    sidecar. ``prev`` survives the commit, so ``build_fn`` may read it
    lazily. A replay of the committed batch is a no-op; a lower batch id
    raises, and so does a damaged sidecar or a path holding files of
    another layout. Returns 'applied' or 'skipped'."""
    prev = _open_sink(spark, path, family)
    if prev is not None and _replayed(family, path, prev.meta["batch"], batch_id):
        return "skipped"
    commit_version(spark, path, family, {"batch": batch_id}, lambda tmp: build_fn(tmp, prev))
    return "applied"


def dataset_digest(df: DataFrame) -> str:
    """Content-identity digest of the files backing ``df``'s scan:
    md5 over the sorted (path, length, mtime) of every input file.

    The stores fold this into their params so a store keyed by a path
    string cannot silently serve stale results after the dataset at that
    path is REGENERATED — same params + different bytes rebuilds. Cost is
    one listStatus per input DIRECTORY (not one py4j round-trip per file
    — a 100 TB table has tens of thousands of part files but few
    directories, and this runs on every warm ensure_* call); an in-memory
    frame (no backing files) has NO content identity at all, so it
    digests to a unique per-call sentinel — a store keyed on it can never
    match and therefore always REBUILDS; persist such inputs to files
    first if build-once reuse matters."""
    import hashlib
    import warnings
    from collections import defaultdict

    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    by_dir: dict[str, set[str]] = defaultdict(set)
    input_files = df.inputFiles()
    if not input_files:
        warnings.warn(
            "dataset_digest: frame has no backing files (in-memory or view "
            "input) — content changes are undetectable, so the digest is a "
            "per-call sentinel and any ensure_* store keyed on it will "
            "REBUILD every call; persist the input to files first if "
            "build-once reuse matters",
            stacklevel=2,
        )
        return f"{_DEGENERATE}{uuid.uuid4().hex}"
    for f in input_files:
        parent, _, name = f.rpartition("/")
        by_dir[parent].add(name)
    h = hashlib.md5()
    entries: list[str] = []
    for parent, names in by_dir.items():
        p = jvm.org.apache.hadoop.fs.Path(parent)
        fs = p.getFileSystem(conf)
        seen: dict[str, str] = {}
        try:
            statuses = list(fs.listStatus(p))
        except Exception:
            # The input directory vanished between plan and digest (dataset
            # deleted or mid-regeneration). Every file in it reads as
            # 'missing' — a digest CHANGE — so the reuse check falls through
            # to rebuild instead of propagating an opaque JVM error out of a
            # warm read: a damaged input must never brick the store.
            statuses = []
        for st in statuses:
            nm = st.getPath().getName()
            if nm in names:
                seen[nm] = f"{st.getLen()}|{st.getModificationTime()}"
        for nm in names:
            entries.append(f"{parent}/{nm}|{seen.get(nm, 'missing')}\n")
    for line in sorted(entries):
        h.update(line.encode())
    return h.hexdigest()
