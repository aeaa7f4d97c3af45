"""Catalog seam (VERDICT r4 ask #9): the local manifest store is a
conforming `CuratedTable`, the factory routes by config, and the
pipeline consumes the table only through the seam's surface."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from curator_spark.pipeline.catalog import (
    FORMAT_ENV,
    CuratedTable,
    IcebergTable,
    LocalSnapshotTable,
    open_table,
)
from curator_spark.pipeline.snapshot import SnapshotTable


def test_local_store_conforms_to_seam():
    """Virtual-subclass registration doesn't enforce methods — audit
    every abstract method's presence and positional signature on the
    local store, so seam/store drift fails here."""
    assert issubclass(SnapshotTable, CuratedTable)
    for name in CuratedTable.__abstractmethods__:
        impl = getattr(SnapshotTable, name, None)
        assert impl is not None, f"SnapshotTable missing {name}"
        spec = inspect.signature(getattr(CuratedTable, name))
        impl_spec = inspect.signature(impl)
        impl_params = list(impl_spec.parameters)
        for p in spec.parameters:
            if p in ("args", "kwargs"):
                continue
            assert p in impl_params, (
                f"SnapshotTable.{name} lacks param {p!r} of the seam"
            )


def test_factory_routes_local_and_rejects_unknown(tmp_path, monkeypatch):
    t = open_table(str(tmp_path / "t"))
    assert isinstance(t, SnapshotTable)
    assert isinstance(t, CuratedTable)
    assert LocalSnapshotTable is SnapshotTable
    monkeypatch.setenv(FORMAT_ENV, "local")
    assert isinstance(open_table(str(tmp_path / "t2")), SnapshotTable)
    with pytest.raises(ValueError, match="unknown table format"):
        open_table(str(tmp_path / "t3"), fmt="hudi")
    # fmt="iceberg" resolves the ACTIVE session when none is passed:
    # with a live session (any other test created one) the jar probe
    # raises RuntimeError; with truly no session it's a ValueError —
    # either way it must not fall through to a local store
    with pytest.raises(
        (ValueError, RuntimeError),
        match="not reachable|requires a SparkSession",
    ):
        open_table("cat.db.t", fmt="iceberg")


def test_factory_reads_session_conf(spark, tmp_path):
    spark.conf.set("spark.curator.table.format", "local")
    try:
        t = open_table(str(tmp_path / "t"), spark=spark)
        assert isinstance(t, SnapshotTable)
    finally:
        spark.conf.unset("spark.curator.table.format")


def test_iceberg_adapter_fails_cleanly_without_runtime(spark):
    """No Iceberg jar in this sandbox: construction must degrade with
    an actionable error, not a deferred AnalysisException mid-write."""
    with pytest.raises(RuntimeError, match="not reachable"):
        IcebergTable(spark, "nosuchcat.db.tbl")


def test_iceberg_delete_guards_fire_before_any_sql(spark):
    """The adapter's delete/compact argument mapping is validated
    jar-free: every rejection path must raise BEFORE touching SQL
    (the original **kwargs swallow executed `DELETE ... WHERE None`)."""
    t = IcebergTable.__new__(IcebergTable)   # bypass the jar probe
    t.spark, t.identifier, t._catalog = spark, "cat.db.t", "cat"
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="unscoped DELETE"):
        t.delete_where(spark)
    with pytest.raises(ValueError, match="SQL text"):
        t.delete_where(spark, condition=F.col("k") == 1)
    with pytest.raises(ValueError, match="meta-predicate"):
        t.delete_where(spark, condition="k = 1", predicate=lambda m: True)
    with pytest.raises(ValueError, match="meta-predicate"):
        t.compact(spark, predicate=lambda m: True)


def test_full_lifecycle_through_the_seam(spark, tmp_path):
    """Drive append → read → time travel → incremental → merge →
    delete → compact → changelog → expiry via a CuratedTable-typed
    variable only (the production call pattern)."""
    table: CuratedTable = open_table(str(tmp_path / "t"))

    def mk(rows):
        return spark.createDataFrame(rows, "k bigint, v string, bucket_id int")

    table.append(mk([(1, "a", 0), (2, "b", 1)]), {"step": 1},
                 partition_by=["bucket_id"])
    s1 = table.current_snapshot_id()
    table.append(mk([(3, "c", 0)]), {"step": 2}, partition_by=["bucket_id"])

    assert table.read(spark).count() == 3
    assert table.read(spark, as_of=s1).count() == 2
    inc = table.read_incremental(spark, since=s1)
    assert [r.k for r in inc.collect()] == [3]
    assert [c["meta"]["step"] for c in table.active_commits()] == [1, 2]

    table.merge_upsert(spark, mk([(2, "B", 1), (4, "d", 1)]), key_col="k")
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    table.delete_where(spark, condition=F.col("k") == 3,
                       partition_values=[0])
    assert {r.k for r in table.read(spark).collect()} == {1, 2, 4}

    table.compact(spark)
    cl = table.read_changelog(spark, since=s1)
    assert "_change_type" in cl.columns

    stats = table.expire_snapshots(retain_last=1)
    assert isinstance(stats, dict)
    assert {r.k for r in table.read(spark).collect()} == {1, 2, 4}


def test_pipeline_accepts_injected_table(spark, tmp_path):
    from curator_spark.config import QualityConfig
    from curator_spark.engine.synth import write_pages
    from curator_spark.pipeline.run import QualityPipeline

    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 200)
    injected = open_table(str(tmp_path / "out"), fmt="local")
    pipe = QualityPipeline(str(tmp_path / "out"), QualityConfig(),
                           table=injected)
    assert pipe.table is injected
    r = pipe.run(spark, pages)
    assert pipe.read_output(spark, r.fingerprint).count() == 200


# -- jar-free audits of the Iceberg adapter's pure lineage logic ---------

def _commit(sid, parent, op, meta=None):
    return {"snapshot_id": sid, "parent_id": parent, "op": op,
            "meta": meta or {}}


class _FakeIceberg(IcebergTable):
    """Bypasses the jar-probing constructor; active_commits serves a
    fixture lineage and _append_slices records WHICH commits it was
    asked to union — so the window/predicate/refusal semantics of the
    read paths are testable without an Iceberg runtime."""

    def __init__(self, commits):
        self.commits_ = commits
        self.identifier = "cat.db.t"
        self._catalog = "cat"

    def active_commits(self, as_of=None):
        out = list(self.commits_)
        if as_of is not None:
            ids = [c["snapshot_id"] for c in out]
            out = out[: ids.index(as_of) + 1]
        return out

    def _append_slices(self, spark, commits):
        return [c["snapshot_id"] for c in commits]


def test_iceberg_chain_order_resolves_committed_at_ties():
    """Snapshot order comes from the parent_id chain, not committed_at
    (millisecond ties — an overwrite's DELETE+append pair — would
    nondeterministically transpose commits)."""
    a = _commit(11, None, "append")
    b = _commit(22, 11, "delete")
    c = _commit(33, 22, "append")
    # arrival order scrambled (as a committed_at tie could surface it)
    assert IcebergTable._chain_order([c, a, b]) == [a, b, c]
    assert _FakeIceberg([a, b, c]).current_snapshot_id() == 33
    # a branched history (two children of one parent) falls back to
    # the given order rather than inventing a chain
    d = _commit(44, 11, "append")
    scrambled = [a, b, d]
    assert IcebergTable._chain_order(scrambled) == scrambled


def test_iceberg_read_incremental_mirrors_local_contract():
    t = _FakeIceberg([
        _commit(1, None, "append", {"b": 1}),
        _commit(2, 1, "append", {"b": 2}),
        _commit(3, 2, "replace"),          # compaction: skipped
        _commit(4, 3, "append", {"b": 3}),
    ])
    # since=0 bootstrap: the never-refreshed consumer reads every
    # append from the beginning (raw start-snapshot-id=0 would throw)
    assert t.read_incremental(None, 0) == [1, 2, 4]
    # exclusive lower bound by position, replace skipped
    assert t.read_incremental(None, 1) == [2, 4]
    # as_of truncation + predicate over commit meta
    assert t.read_incremental(None, 0, as_of=2) == [1, 2]
    assert t.read_incremental(
        None, 0, predicate=lambda m: m.get("b", 0) >= 2
    ) == [2, 4]
    # replace-only window -> None (DedupIndex's watermark-advance
    # branch; the raw incremental scan can never express this)
    assert t.read_incremental(None, 2, as_of=3) is None
    # unknown watermark raises rather than scanning from nowhere
    with pytest.raises(ValueError, match="not in"):
        t.read_incremental(None, 99)


def test_iceberg_read_incremental_refuses_non_append_windows():
    t = _FakeIceberg([
        _commit(1, None, "append"),
        _commit(2, 1, "delete"),
        _commit(3, 2, "append"),
    ])
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(None, 0)
    # starting AFTER the delete is fine (the local contract)
    assert t.read_incremental(None, 2) == [3]


def test_iceberg_meta_predicate_read_refuses_post_delete():
    """Commit-slice reconstruction would resurrect deleted rows; the
    adapter must refuse loudly, never silently diverge from the local
    store's post-delete view."""
    t = _FakeIceberg([
        _commit(1, None, "append", {"bucket": 7}),
        _commit(2, 1, "delete"),
    ])
    with pytest.raises(ValueError, match="resurrect"):
        t.read(None, predicate=lambda m: m.get("bucket") == 7)
    # an all-append history still serves predicate reads
    t2 = _FakeIceberg([
        _commit(1, None, "append", {"bucket": 7}),
        _commit(2, 1, "append", {"bucket": 8}),
    ])
    assert t2.read(None, predicate=lambda m: m.get("bucket") == 7) == [1]
    assert t2.read(None, predicate=lambda m: m.get("bucket") == 9) is None


def test_sql_literal_quoting():
    from curator_spark.pipeline.catalog import _sql_literal

    assert _sql_literal("o'brien") == "'o''brien'"
    assert _sql_literal(7) == "7"
    assert _sql_literal(True) == "TRUE"
    assert _sql_literal(False) == "FALSE"
    with pytest.raises(ValueError, match="unsupported"):
        _sql_literal(None)


def test_format_conf_read_errors_propagate(tmp_path, monkeypatch):
    """A session whose JVM is gone falls back to the env/default
    format; a programming error in the conf read is not swallowed."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JError

    def session(exc):
        def get(*_a):
            raise exc

        return SimpleNamespace(conf=SimpleNamespace(get=get))

    monkeypatch.delenv(FORMAT_ENV, raising=False)
    tab = open_table(str(tmp_path / "t"), spark=session(Py4JError("gone")))
    assert isinstance(tab, SnapshotTable)
    with pytest.raises(AttributeError):
        open_table(str(tmp_path / "t"), spark=session(AttributeError("bug")))


def test_iceberg_stage_cleanup_swallows_only_storage_errors(monkeypatch):
    """The stage-dir delete after a durable append is best effort: a JVM
    filesystem error is dropped and the new snapshot id returned, while
    a programming error in the cleanup propagates."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JError

    from curator_spark.pipeline import fsutil

    class _Writer:
        def option(self, *_a):
            return self

        def append(self):
            pass

    frame = SimpleNamespace(writeTo=lambda _ident: _Writer())
    t = _FakeIceberg([_commit(5, None, "append")])
    t.spark = SimpleNamespace(read=SimpleNamespace(parquet=lambda _p: frame))

    def delete_raising(exc):
        def delete(_spark, _path):
            raise exc

        return delete

    monkeypatch.setattr(fsutil, "delete", delete_raising(Py4JError("fs gone")))
    assert t.commit("s3a://bucket/stage", {"bucket": 1}) == 5
    monkeypatch.setattr(fsutil, "delete", delete_raising(AttributeError("bug")))
    with pytest.raises(AttributeError):
        t.commit("s3a://bucket/stage", {"bucket": 1})
