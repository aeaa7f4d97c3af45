"""Catalog seam for the snapshot table (VERDICT r4 ask #9).

`SnapshotTable` (pipeline/snapshot.py) implements Iceberg-shaped
semantics — atomic staged commits, snapshot lineage + time travel,
COW delete/merge, incremental + changelog reads, snapshot expiry —
as a manifest-JSON layer over plain Parquet, because this sandbox has
no Iceberg/Delta runtime jar. This module extracts that capability
surface into an explicit interface so a production deployment slots a
real catalog in BY CONFIG and every call site (`QualityPipeline`, the
streaming committers, maintenance jobs) is format-agnostic:

    table = open_table(root_or_identifier, spark=spark)   # conf-driven

- ``CuratedTable``: the abstract surface. The method set is exactly
  what the call sites consume (grep-audited): staged two-phase append
  (stage_dir/commit), append, read(as_of)/read_incremental/
  read_changelog, delete_where/merge_upsert/compact/expire_snapshots,
  and the commit-lineage views (current_snapshot_id/active_commits)
  that resume and exactly-once streaming are built on.
- ``LocalSnapshotTable``: the sandbox implementation = SnapshotTable
  (re-exported; registered as a virtual subclass and signature-audited
  by tests/test_catalog_seam.py so drift between the seam and the
  store fails CI, which plain ABC registration would not).
- ``IcebergTable``: the production adapter, written against the
  PUBLIC Iceberg-Spark SQL surface only (writeTo + snapshot-property
  options, VERSION AS OF, DELETE/MERGE SQL, rewrite_data_files /
  expire_snapshots procedures, the .snapshots/.changes metadata
  tables). It cannot RUN here (no jar — construction degrades with a
  clear error), but the mapping is 1:1 and the interface conformance
  is tested.
"""

from __future__ import annotations

import abc
import json
import os
import uuid
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from curator_spark.pipeline import fsutil
from curator_spark.pipeline.snapshot import SnapshotTable

FORMAT_CONF = "spark.curator.table.format"   # "local" (default) | "iceberg"
FORMAT_ENV = "CURATOR_TABLE_FORMAT"


def _sql_literal(v: Any) -> str:
    """Render a Python value as a Spark SQL literal. repr() is NOT SQL
    quoting: a value containing a single quote would break (or, with
    crafted input, rewrite) the statement, and True/None repr as
    invalid SQL tokens."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(
        f"unsupported partition literal type {type(v).__name__}: {v!r}"
    )


class CuratedTable(abc.ABC):
    """Capability surface the pipeline requires of its output table."""

    # -- two-phase commit protocol (resume + exactly-once streaming) -----
    @abc.abstractmethod
    def stage_dir(self) -> str:
        """A path writers may fill WITHOUT readers seeing the data."""

    @abc.abstractmethod
    def commit(self, data_path: str, meta: dict[str, Any],
               replaces: list[int] | None = None, op: str = "append") -> int:
        """Atomically publish staged data + commit metadata."""

    @abc.abstractmethod
    def commit_parts(self, parts: list[dict[str, str]],
                     meta: dict[str, Any],
                     replaces: list[int] | None = None,
                     op: str = "append") -> int:
        """Publish a multi-part snapshot ({path, base} refs); with
        parts == [] this is a metadata-only commit (zero-row run
        slices still need their bucket bookkeeping committed)."""

    @abc.abstractmethod
    def append(self, df: DataFrame, meta: dict[str, Any],
               partition_by: list[str] | None = None) -> str:
        """stage + write + commit in one call."""

    # -- commit lineage (resume bookkeeping reads meta, never data) -------
    @abc.abstractmethod
    def current_snapshot_id(self) -> int: ...

    @abc.abstractmethod
    def active_commits(self, as_of: int | None = None) -> list[dict[str, Any]]:
        """[{snapshot_id, op, meta, ...}] for all live commits."""

    # -- read paths --------------------------------------------------------
    @abc.abstractmethod
    def read(self, spark: SparkSession, predicate=None,
             as_of: int | None = None) -> DataFrame | None: ...

    @abc.abstractmethod
    def read_incremental(self, spark: SparkSession, since: int,
                         as_of: int | None = None,
                         predicate=None) -> DataFrame | None: ...

    @abc.abstractmethod
    def read_changelog(self, spark: SparkSession, since: int,
                       as_of: int | None = None) -> DataFrame | None: ...

    # -- row-level mutation + maintenance ---------------------------------
    @abc.abstractmethod
    def delete_where(self, spark: SparkSession, **kwargs) -> dict[str, Any]: ...

    @abc.abstractmethod
    def merge_upsert(self, spark: SparkSession, updates: DataFrame,
                     key_col: str, **kwargs) -> int: ...

    @abc.abstractmethod
    def compact(self, spark: SparkSession, predicate=None, **kwargs): ...

    @abc.abstractmethod
    def expire_snapshots(self, retain_last: int = 1,
                         **kwargs) -> dict[str, Any]: ...


# The sandbox implementation. Virtual subclass (not inheritance) so
# snapshot.py stays import-light; tests/test_catalog_seam.py audits
# that every abstractmethod exists on it with a compatible signature.
LocalSnapshotTable = SnapshotTable
CuratedTable.register(SnapshotTable)


class IcebergTable(CuratedTable):
    """Adapter onto a real Iceberg catalog via the public Spark SQL
    surface. `identifier` is a fully-qualified ``catalog.db.table``;
    the catalog must be configured in the session
    (spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog).

    Commit metadata rides in snapshot summary properties
    (``snapshot-property.curator-meta`` write option), so resume and
    exactly-once streaming bookkeeping read the same meta dicts from
    the ``.snapshots`` metadata table that the local store reads from
    its manifests. NOT runnable in this sandbox (no Iceberg jar);
    every mapping below is the documented public API.
    """

    META_PROP = "curator-meta"

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier
        self._catalog = identifier.split(".", 1)[0]
        try:  # fail construction early + clearly when the jar is absent
            spark.sql(f"SELECT 1 FROM {identifier}.snapshots LIMIT 0")
        except Exception as e:  # pragma: no cover - needs Iceberg runtime
            raise RuntimeError(
                f"Iceberg table {identifier!r} is not reachable — is the "
                f"iceberg-spark-runtime jar on the cluster and the "
                f"catalog configured? ({e})"
            ) from e

    # -- two-phase protocol: stage on SHARED storage, publish via writeTo
    STAGE_CONF = "spark.curator.table.stage_dir"

    def stage_dir(self) -> str:
        """A staging path on storage every executor AND the driver can
        see. On a multi-node cluster a driver-local path (spark.local.dir
        /tmp) would scatter the stage write across executor-local disks
        and commit()'s driver-side read-back would publish empty or
        partial data — silent loss. Resolution: the explicit
        ``spark.curator.table.stage_dir`` conf (any shared URI: s3://,
        hdfs://, a mounted NFS path) > the table's own location from
        ``DESCRIBE TABLE EXTENDED`` (already shared storage by
        definition). No local fallback — better to fail loudly at stage
        time than lose data at commit time."""
        base = self.spark.conf.get(self.STAGE_CONF, None)
        if base is None:
            rows = self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {self.identifier}"
            ).collect()
            loc = {r["col_name"]: r["data_type"] for r in rows}.get(
                "Location"
            )
            if not loc:
                raise RuntimeError(
                    f"cannot resolve a shared staging dir for "
                    f"{self.identifier}: set {self.STAGE_CONF} to a "
                    f"storage URI visible to all executors"
                )
            base = loc.rstrip("/") + "/_curator_stage"
        return f"{base.rstrip('/')}/curator-stage-{uuid.uuid4().hex}"

    def commit(self, data_path, meta, replaces=None, op="append") -> int:
        """op='overwrite' must REPLACE table contents (DedupIndex.
        rebuild's contract: stale keys may not survive). Dynamic
        partition overwrite would keep partitions absent from the new
        data, so it is an explicit DELETE FROM + append — two
        snapshots, preserving the table's partition spec; a reader in
        the brief empty window sees "no history", which for every
        consumer here (dedup marking, decontamination) means redo
        work, never lose data. The local store expresses replacement
        through `replaces` manifest edges instead — here Iceberg's own
        snapshot lineage records it, so `replaces` is intentionally
        unused."""
        df = self.spark.read.parquet(data_path)
        if op == "overwrite":
            self.spark.sql(f"DELETE FROM {self.identifier}")
        (df.writeTo(self.identifier)
           .option(f"snapshot-property.{self.META_PROP}", json.dumps(meta))
           .option("snapshot-property.curator-op", op)
           .append())
        sid = self.current_snapshot_id()
        # the append REWROTE the staged bytes into table-owned files
        # (unlike the local store, which consumes its stage dir by
        # renaming it into the table) — drop the stage dir so shared
        # storage doesn't accumulate one orphan dir per run. Best
        # effort: the commit above is already durable, so a storage
        # error from the JVM filesystem is dropped.
        try:
            fsutil.delete(self.spark, data_path)
        except Py4JError:
            pass
        return sid

    def commit_parts(self, parts, meta, replaces=None, op="append") -> int:
        """parts == [] (the zero-row run-slice bookkeeping commit):
        append an empty slice of the table carrying the meta snapshot
        properties. Non-empty by-reference parts exist for the local
        store's COW protocol — Iceberg performs file-level rewrites
        internally (delete_where/merge_upsert/compact map to its SQL
        and procedures), so here the parts are materialized through a
        plain read+append."""
        if not parts:
            if op == "overwrite":
                # zero-part overwrite (e.g. DedupIndex.rebuild of an
                # emptied source): the replacement IS emptiness
                self.spark.sql(f"DELETE FROM {self.identifier}")
            (self.spark.table(self.identifier).limit(0)
                 .writeTo(self.identifier)
                 .option(f"snapshot-property.{self.META_PROP}",
                         json.dumps(meta))
                 .option("snapshot-property.curator-op", op)
                 .append())
            return self.current_snapshot_id()
        df = None
        for p in parts:
            part = self.spark.read.option("basePath", p["base"]).parquet(
                p["path"]
            )
            df = part if df is None else df.unionByName(
                part, allowMissingColumns=True
            )
        (df.writeTo(self.identifier)
           .option(f"snapshot-property.{self.META_PROP}", json.dumps(meta))
           .option("snapshot-property.curator-op", op)
           .append())
        return self.current_snapshot_id()

    def append(self, df, meta, partition_by=None) -> str:
        (df.writeTo(self.identifier)
           .option(f"snapshot-property.{self.META_PROP}", json.dumps(meta))
           .option("snapshot-property.curator-op", "append")
           .append())
        return self.identifier

    # -- lineage -----------------------------------------------------------
    def current_snapshot_id(self) -> int:
        commits = self.active_commits()
        return commits[-1]["snapshot_id"] if commits else 0

    @staticmethod
    def _chain_order(commits: list[dict[str, Any]]) -> list[dict[str, Any]]:
        """Order commits by the parent_id CHAIN, not committed_at:
        `committed_at` has millisecond granularity, and an overwrite's
        DELETE+append pair (or any fast writer) routinely lands two
        snapshots in the same millisecond — an ORDER BY tie that would
        nondeterministically transpose commits (current_snapshot_id
        could return the empty DELETE snapshot of its own overwrite).
        The parent chain in the same metadata rows is the true linear
        history; fall back to the given (committed_at) order only if
        the chain is broken (branched table — not produced by this
        writer)."""
        by_parent = {}
        ids = {c["snapshot_id"] for c in commits}
        for c in commits:
            p = c["parent_id"] if c["parent_id"] in ids else None
            if p in by_parent:
                return commits  # branch: chain order undefined
            by_parent[p] = c
        chain, cur = [], None
        while cur in by_parent and len(chain) < len(commits):
            nxt = by_parent[cur]
            chain.append(nxt)
            cur = nxt["snapshot_id"]
        return chain if len(chain) == len(commits) else commits

    def active_commits(self, as_of=None) -> list[dict[str, Any]]:
        """Chronological commit lineage from the `.snapshots` metadata
        table, ordered by the parent_id chain (see `_chain_order`).
        `as_of` truncates AT that snapshot (inclusive) by POSITION in
        commit order — Iceberg snapshot ids are random 64-bit values,
        so numeric comparison against them would pick an arbitrary
        subset of history."""
        q = (f"SELECT snapshot_id, parent_id, operation, summary "
             f"FROM {self.identifier}.snapshots ORDER BY committed_at")
        rows = self.spark.sql(q).collect()
        out = []
        for r in rows:
            summary = dict(r.summary or {})
            out.append({
                "snapshot_id": int(r.snapshot_id),
                "parent_id": (int(r.parent_id)
                              if r.parent_id is not None else None),
                "op": summary.get("curator-op", r.operation),
                "meta": json.loads(summary.get(self.META_PROP, "{}")),
            })
        out = self._chain_order(out)
        if as_of is not None:
            ids = [c["snapshot_id"] for c in out]
            if as_of not in ids:
                raise ValueError(
                    f"snapshot {as_of} not in {self.identifier} history"
                )
            out = out[: ids.index(as_of) + 1]
        return out

    # -- reads ---------------------------------------------------------------
    def _append_slices(self, spark, commits):
        """Union the per-commit append slices. The exclusive lower
        bound of each one-snapshot slice is the snapshot's PARENT id
        from the .snapshots table — Iceberg ids are random, sid-1 is
        not a snapshot; a parentless root snapshot's full content IS
        its append."""
        df = None
        for c in commits:
            if c["parent_id"] is None:
                part = (
                    spark.read.option("snapshot-id", c["snapshot_id"])
                    .table(self.identifier)
                )
            else:
                part = (
                    spark.read.format("iceberg")
                    .option("start-snapshot-id", c["parent_id"])
                    .option("end-snapshot-id", c["snapshot_id"])
                    .load(self.identifier)
                )
            df = part if df is None else df.unionByName(
                part, allowMissingColumns=True
            )
        return df

    def read(self, spark, predicate=None, as_of=None):
        if predicate is not None:
            # Per-snapshot incremental unions mirror the local store's
            # meta-predicate read — but they reconstruct each commit AS
            # APPENDED, so any later row-level delete/overwrite would be
            # silently resurrected (the local store rewrites parts
            # copy-on-write, so ITS predicate reads see post-delete
            # state). Refuse loudly instead of diverging: after a
            # delete, scope reads by data columns, not commit meta.
            commits = self.active_commits(as_of)
            mutating = [c for c in commits
                        if c["op"] in ("delete", "overwrite")]
            if mutating:
                raise ValueError(
                    f"meta-predicate read on {self.identifier} is not "
                    f"available past row-level mutation snapshots "
                    f"{[c['snapshot_id'] for c in mutating]}: commit "
                    f"slices would resurrect deleted rows; read the "
                    f"full table and filter on data columns instead"
                )
            keep = [c for c in commits
                    if c["op"] != "replace" and predicate(c["meta"])]
            if not keep:
                return None
            return self._append_slices(spark, keep)
        r = spark.read
        if as_of is not None:
            r = r.option("snapshot-id", as_of)
        return r.table(self.identifier)

    def read_incremental(self, spark, since, as_of=None, predicate=None):
        """Appended rows after `since` (exclusive; 0 = from the table's
        beginning — the never-refreshed consumer bootstrap) up to
        `as_of` (inclusive). Mirrors the local store's contract
        EXACTLY: replace (compaction) snapshots in the window are
        skipped, delete/overwrite snapshots raise (appends-only is no
        longer faithful), `predicate` filters commits by meta, and a
        window with no matching appends returns None (the watermark-
        advance branch consumers like DedupIndex.refresh rely on).
        The raw start/end-snapshot-id scan Iceberg offers can express
        none of those four behaviors, so the slices are assembled from
        the commit lineage instead."""
        commits = self.active_commits(as_of)
        if since:
            ids = [c["snapshot_id"] for c in commits]
            if since not in ids:
                raise ValueError(
                    f"snapshot {since} not in {self.identifier} history"
                )
            window = commits[ids.index(since) + 1:]
        else:
            window = commits
        bad = [c for c in window if c["op"] in ("delete", "overwrite")]
        if bad:
            raise ValueError(
                "incremental append scan crosses non-append snapshots "
                f"{[c['snapshot_id'] for c in bad]} "
                f"({[c['op'] for c in bad]}); read a full snapshot "
                "instead or start after them"
            )
        appends = [
            c for c in window
            if c["op"] == "append"
            and (predicate is None or predicate(c["meta"]))
        ]
        if not appends:
            return None
        return self._append_slices(spark, appends)

    def read_changelog(self, spark, since, as_of=None):
        end = as_of if as_of is not None else self.current_snapshot_id()
        view = f"curator_changes_{uuid.uuid4().hex[:8]}"
        # both statements run in the CALLER'S session: the view is
        # session-scoped, so creating it in self.spark and reading it
        # from a different `spark` would raise TABLE_OR_VIEW_NOT_FOUND
        spark.sql(
            f"CALL {self._catalog}.system.create_changelog_view("
            f"table => '{self.identifier}', "
            f"options => map('start-snapshot-id','{since}',"
            f"'end-snapshot-id','{end}'), "
            f"changelog_view => '{view}')"
        )
        return spark.table(view)

    # -- mutation + maintenance (COW is Iceberg-internal) -----------------
    def delete_where(self, spark, condition=None, partition_values=None,
                     partition_col="bucket_id", predicate=None,
                     meta_note="delete", anti_keys=None, key_col="url"):
        """Maps the local store's delete surface onto `DELETE FROM`:
        `anti_keys` (the delete-list DataFrame, e.g. GDPR urls) becomes
        an IN-subquery on a temp view; `partition_values` become an
        explicit partition-column conjunct (Iceberg additionally
        prunes on it); a string `condition` is used verbatim. A
        pyspark Column condition and meta-`predicate` scoping are
        local-store concepts — rejected with guidance rather than
        silently dropped (the silent **kwargs swallow produced
        `DELETE ... WHERE None`)."""
        if predicate is not None:
            raise ValueError(
                "meta-predicate delete scoping is a manifest-store "
                "concept; scope the Iceberg DELETE by a data column"
            )
        clauses = []
        view = None
        if anti_keys is not None:
            view = f"curator_del_{uuid.uuid4().hex[:8]}"
            anti_keys.select(key_col).createOrReplaceTempView(view)
            clauses.append(
                f"{key_col} IN (SELECT {key_col} FROM {view})"
            )
        if condition is not None:
            if not isinstance(condition, str):
                raise ValueError(
                    "the Iceberg adapter needs the delete condition as "
                    "SQL text, not a pyspark Column"
                )
            clauses.append(f"({condition})")
        if partition_values:
            vals = ", ".join(_sql_literal(v) for v in partition_values)
            clauses.append(f"{partition_col} IN ({vals})")
        if not clauses:
            raise ValueError("refusing an unscoped DELETE (no condition)")
        try:
            spark.sql(
                f"DELETE FROM {self.identifier} WHERE "
                + " AND ".join(clauses)
            )
        finally:
            if view is not None:
                spark.catalog.dropTempView(view)
        return {"snapshot_id": self.current_snapshot_id(),
                "note": meta_note}

    def merge_upsert(self, spark, updates, key_col, **kwargs) -> int:
        # uuid-suffixed, dropped after: a fixed view name would let two
        # concurrent merges in one session clobber each other's source
        # frames — the second createOrReplaceTempView replacing the
        # first's updates BEFORE its MERGE is analyzed upserts the
        # wrong rows, silently.
        view = f"curator_merge_{uuid.uuid4().hex[:8]}"
        updates.createOrReplaceTempView(view)
        cols = updates.columns
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols)
        ins = ", ".join(cols)
        vals = ", ".join(f"s.{c}" for c in cols)
        try:
            spark.sql(
                f"MERGE INTO {self.identifier} t USING {view} s "
                f"ON t.{key_col} = s.{key_col} "
                f"WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT ({ins}) VALUES ({vals})"
            )
        finally:
            spark.catalog.dropTempView(view)
        return self.current_snapshot_id()

    def compact(self, spark, predicate=None, where: str | None = None,
                **kwargs):
        """rewrite_data_files; `where` (SQL text) scopes the rewrite —
        the procedure's own `where` argument. The local store's
        meta-`predicate` scoping has no Iceberg analog (snapshot
        summaries don't partition data files), so it is rejected, not
        ignored — an unscoped whole-table rewrite is an expensive
        surprise."""
        if predicate is not None:
            raise ValueError(
                "meta-predicate compaction scoping is a manifest-store "
                "concept; use `where` (a data-column SQL filter) here"
            )
        args = f"table => '{self.identifier}'"
        if where:
            args += f", where => '{where}'"
        spark.sql(
            f"CALL {self._catalog}.system.rewrite_data_files({args})"
        )
        return self.current_snapshot_id()

    def expire_snapshots(self, retain_last=1, **kwargs):
        self.spark.sql(
            f"CALL {self._catalog}.system.expire_snapshots("
            f"table => '{self.identifier}', retain_last => {retain_last})"
        )
        return {"retained_last": retain_last}


def open_table(
    root_or_identifier: str,
    spark: SparkSession | None = None,
    fmt: str | None = None,
) -> CuratedTable:
    """Config-driven table constructor — THE seam.

    Format resolution: explicit `fmt` arg > session conf
    ``spark.curator.table.format`` (from `spark` or, when the caller
    has no session handle — QualityPipeline's constructor — the active
    session) > env ``CURATOR_TABLE_FORMAT`` > "local". For "local",
    `root_or_identifier` is a filesystem root; for "iceberg", a
    fully-qualified table identifier (requires a session).
    """
    if spark is None:
        spark = SparkSession.getActiveSession()
    if fmt is None and spark is not None:
        try:
            fmt = spark.conf.get(FORMAT_CONF, None)
        except Py4JError:  # session's JVM gone: fall through to env
            fmt = None
    if fmt is None:
        fmt = os.environ.get(FORMAT_ENV, "local")
    if fmt == "local":
        return SnapshotTable(root_or_identifier)
    if fmt == "iceberg":
        if spark is None:
            raise ValueError("fmt='iceberg' requires a SparkSession")
        return IcebergTable(spark, root_or_identifier)
    raise ValueError(f"unknown table format {fmt!r} (local|iceberg)")
