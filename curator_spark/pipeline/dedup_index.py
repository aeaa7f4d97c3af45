"""Incremental dedup-index maintenance over a `CuratedTable`.

The reference rebuilds its "already completed" set by re-reading every
response file on every run (reference:
src/bespokelabs/curator/request_processor/base_request_processor.py:609-651)
— an O(history) scan each time. Here the seen-set is a persistent,
bucket-partitioned index TABLE maintained incrementally: each
`refresh()` processes only the rows appended to the source table since
the last indexed snapshot (`read_incremental`), so steady-state
indexing cost is O(new data) regardless of how large history grows.
This is the "dedup-index refresh" consumer the incremental read was
built for (snapshot.py:read_incremental docstring).

Scale design — the parts that matter at 10^12 rows:

- The index stores FIXED-WIDTH keys only (md5 hex of the configured
  key expression, 32 bytes) plus one canonical doc reference,
  partitioned on disk by ``bucket = pmod(xxhash64(key), B)``. Raw
  text/html never enters the index: ~100 bytes/doc of key material vs
  multi-KB pages, and each bucket dir is independently compactable.
- A refresh slice is small relative to history, so **history is never
  shuffled**: dup detection plans as index-scan → broadcast-hash-join
  against the slice's distinct keys (the slice side broadcasts; the
  index streams through un-exchanged, exactly the decontaminate plan
  shape in queries/trainprepq.py). Above ``broadcast_cap`` distinct
  slice keys — the initial build, or a backfill — the route flips to
  a shuffle anti-join on ``key``. The route picks from the slice-side
  count, which refresh already pays (the slice IS the new data being
  indexed; counting the small side is O(new), never O(history)).
- Watermark = ``indexed_through`` (a source snapshot id) carried in
  the index commit's meta. The new keys and the watermark land in ONE
  atomic snapshot commit, so a refresh killed mid-run either fully
  happened or not at all — the next refresh re-reads the same source
  window (idempotent: re-deriving the same keys anti-joins to empty).
- A delete/overwrite snapshot in the source window makes append-only
  indexing unsound (`read_incremental` raises, per the Iceberg
  IncrementalAppendScan contract); `rebuild()` re-derives the index
  from the current source snapshot as one ``overwrite`` commit and
  resets the watermark.

Config pinning: ``n_buckets`` and the key expression are recorded in
the first index commit's meta and re-loaded on every later refresh —
silently re-keying or re-bucketing an existing index would corrupt
membership answers, so a conflicting constructor arg raises.

Concurrency: commits go through the manifest store's create-exclusive
claim, so concurrent refreshes both LAND (no lost update), but two
refreshes of the same window may register overlapping key sets — the
index then holds duplicate key rows. That degrades to redundant
storage only: `mark_history_dups` aggregates the dup set to one row
per key before joining back (row inflation impossible), `refresh`'s
anti-join treats any copy as "seen", and `rebuild()` restores a
unique-key index. Run refreshes single-writer per index (as Iceberg
recommends for MERGE writers) to avoid the wasted bytes.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curator_spark.pipeline.catalog import CuratedTable, open_table

INDEX_COLS = ("key", "bucket", "doc_ref")

# confirm_candidates ships whole shingle ARRAYS (multi-KB per canonical,
# vs 32-byte ids elsewhere), so its lookup broadcast gets its own much
# smaller cap: 100k canonicals x ~2-5 KB of shingles ≈ a few hundred MB,
# comfortably under Spark's broadcast limits.
CONFIRM_BROADCAST_CAP = 100_000


class DedupIndex:
    """Persistent exact-dup index over a source `CuratedTable`.

    Parameters
    ----------
    index : CuratedTable | str
        The index's own table (or a root/identifier routed through
        `open_table`, so the index itself can live in Iceberg on a
        real cluster).
    key_expr : str
        SQL expression over source rows whose md5 is the dedup key.
        Default ``"url"`` (exact-url dedup); use e.g.
        ``"lower(regexp_replace(text, '\\\\s+', ' '))"`` for
        normalized-text dedup.
    id_col : str
        Column naming the canonical document a key maps to.
    n_buckets : int
        On-disk partition count for the index (pmod(xxhash64(key), B)).
    broadcast_cap : int
        Max distinct slice keys that still take the broadcast route.
    """

    def __init__(
        self,
        index: CuratedTable | str,
        key_expr: str = "url",
        id_col: str = "url",
        n_buckets: int = 64,
        broadcast_cap: int = 2_000_000,
        spark: SparkSession | None = None,
        allow_repin: bool = False,
    ):
        self.table = (
            open_table(index, spark) if isinstance(index, str) else index
        )
        self.key_expr = key_expr
        self.id_col = id_col
        self.n_buckets = int(n_buckets)
        self.broadcast_cap = int(broadcast_cap)
        self.allow_repin = bool(allow_repin)
        self._config_conflict: str | None = None
        self._load_pinned_config()

    # -- config pinning -------------------------------------------------------

    def _load_pinned_config(self) -> None:
        for c in self.table.active_commits():
            meta = c.get("meta", {})
            if "index_n_buckets" not in meta:
                continue
            pinned_b = int(meta["index_n_buckets"])
            pinned_k = meta.get("index_key_expr")
            conflict = None
            if pinned_k is not None and pinned_k != self.key_expr:
                conflict = (
                    f"index at {getattr(self.table, 'root', self.table)} was "
                    f"built with key_expr={pinned_k!r}; re-keying to "
                    f"{self.key_expr!r} requires rebuild() (reopen with "
                    f"allow_repin=True, then call rebuild())"
                )
            elif pinned_b != self.n_buckets:
                conflict = (
                    f"index was built with n_buckets={pinned_b}; got "
                    f"{self.n_buckets} — re-bucketing requires rebuild() "
                    f"(reopen with allow_repin=True, then call rebuild())"
                )
            if conflict is None:
                return
            # allow_repin defers the failure so the prescribed remedy is
            # actually reachable: the object can be constructed with the
            # NEW config, but every membership operation refuses until
            # rebuild() has re-derived the index under it (using the new
            # config against old-config index rows would silently
            # corrupt membership answers).
            if not self.allow_repin:
                raise ValueError(conflict)
            self._config_conflict = conflict
            return

    def _require_config_ok(self) -> None:
        if self._config_conflict:
            raise ValueError(
                f"index config conflict pending rebuild(): "
                f"{self._config_conflict}"
            )

    def _meta(self, **extra: Any) -> dict[str, Any]:
        return {
            "index_n_buckets": self.n_buckets,
            "index_key_expr": self.key_expr,
            "index_id_col": self.id_col,
            **extra,
        }

    # -- key derivation -------------------------------------------------------

    def key_col(self):
        """The dedup-key expression (md5 of key_expr) — public so
        other plan builders (streaming marking) derive keys
        identically to the index."""
        return F.md5(F.expr(self.key_expr).cast("string"))

    def _key_col(self):
        # dynamic alias (NOT a class-body binding): subclasses that
        # redefine key_col must see their override here too
        return self.key_col()

    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col("key")), F.lit(self.n_buckets)).cast(
            "int"
        )

    def keys_of(self, df: DataFrame) -> DataFrame:
        """Distinct (key, bucket, doc_ref) rows for a source slice.

        One hash-keyed groupBy with map-side combine; ``min(id)`` makes
        the canonical reference deterministic under retries.
        """
        return (
            df.select(
                self._key_col().alias("key"),
                F.col(self.id_col).cast("string").alias("doc_ref"),
            )
            .where(F.col("key").isNotNull())
            .groupBy("key")
            .agg(F.min("doc_ref").alias("doc_ref"))
            .withColumn("bucket", self._bucket_col())
            .select(*INDEX_COLS)
        )

    # -- state ----------------------------------------------------------------

    @property
    def indexed_through(self) -> int:
        """Source snapshot id of the LATEST watermark-carrying active
        commit (0 = never refreshed). Latest-in-commit-order, not
        max(): Iceberg snapshot ids are random 64-bit values, so
        numeric max over them is meaningless; `active_commits` is
        chronological for both stores."""
        wm = 0
        for c in self.table.active_commits():
            v = c.get("meta", {}).get("indexed_through")
            if v is not None:
                wm = int(v)
        return wm

    def read_keys(self, spark: SparkSession) -> DataFrame | None:
        return self.table.read(spark)

    def has_keys(self) -> bool:
        """True iff the CURRENT index state holds keys — answered from
        commit META alone (zero Spark jobs, portable across catalog
        adapters), so callers can skip building a marking plan against
        an empty index entirely.

        The walk is chronological and a ``rebuilt`` commit RESETS the
        flag to that rebuild's own key count: the local manifest store
        already drops replaced commits from `active_commits`, but the
        Iceberg adapter intentionally returns every snapshot (catalog.py
        — Iceberg's own lineage records replacement), so without the
        reset a rebuild down to zero keys would leave stale pre-rebuild
        `new_keys` commits answering True forever."""
        state = False
        for c in self.table.active_commits():
            m = c.get("meta", {})
            if "index_n_buckets" not in m:
                continue  # foreign commit on a shared table
            if m.get("rebuilt"):
                state = bool(m.get("index_keys", 0))
            elif m.get("new_keys", 0) or m.get("index_keys", 0):
                state = True
        return state

    # -- dup detection plans --------------------------------------------------

    def _dup_keys(
        self, spark: SparkSession, slice_keys: DataFrame, n_slice: int
    ) -> DataFrame | None:
        """Keys of `slice_keys` already present in the index.

        Broadcast route (slice ≤ broadcast_cap): the index scans ONCE
        through a BroadcastHashJoin(leftsemi) with the slice keys as
        the build side — zero exchanges of history, result bounded by
        the slice. Shuffle route: plain semi-join on key (both sides
        exchange; only taken for build-sized slices where the
        "broadcast the small side" premise fails).
        """
        existing = self.read_keys(spark)
        if existing is None:
            return None
        if n_slice <= self.broadcast_cap:
            return existing.join(
                F.broadcast(slice_keys.select("key")), "key", "leftsemi"
            ).select("key", "doc_ref")
        return existing.join(
            slice_keys.select("key"), "key", "leftsemi"
        ).select("key", "doc_ref")

    # -- public operations ----------------------------------------------------

    def refresh(self, spark: SparkSession, source: CuratedTable) -> dict:
        """Index every row appended to `source` since the last refresh.

        O(new data): reads only the incremental append slice, never
        re-scans source history; the index itself is scanned once
        (broadcast route) and never shuffled. Raises ValueError if the
        window crosses a delete/overwrite snapshot — call `rebuild()`.
        """
        self._require_config_ok()
        since = self.indexed_through
        as_of = source.current_snapshot_id()
        # equality, not <=: snapshot ids need not be monotonic
        # (Iceberg's are random 64-bit); a stale/foreign watermark
        # falls through to read_incremental, which validates windows
        if as_of == since:
            return {
                "status": "up_to_date",
                "since": since,
                "as_of": as_of,
                "slice_keys": 0,
                "new_keys": 0,
                "dup_of_history": 0,
            }
        inc = source.read_incremental(spark, since, as_of)
        if inc is None:
            # Window contains only replace snapshots (compaction):
            # logical data unchanged — advance the watermark with a
            # ZERO-PART atomic commit (a parquet dir holding only
            # _SUCCESS would crash the read path's schema discovery,
            # the same pitfall run.py's all-quarantined branch avoids).
            self.table.commit_parts(
                [], self._meta(indexed_through=as_of, new_keys=0)
            )
            return {
                "status": "advanced",
                "since": since,
                "as_of": as_of,
                "slice_keys": 0,
                "new_keys": 0,
                "dup_of_history": 0,
            }
        n_slice, n_new, n_dup = self._ingest_keys(
            spark, self.keys_of(inc), {"indexed_through": as_of, "since": since}
        )
        return {
            "status": "refreshed",
            "since": since,
            "as_of": as_of,
            "slice_keys": n_slice,
            "new_keys": n_new,
            "dup_of_history": n_dup,
        }

    def add_keys(
        self,
        spark: SparkSession,
        df: DataFrame,
        note: dict[str, Any] | None = None,
    ) -> dict:
        """Register a processed batch's keys WITHOUT a source watermark
        — the path-input path (QualityPipeline runs over parquet paths,
        which have no snapshot ids to watermark). Same anti-join plan
        as refresh(); keys already present are not re-added, so calling
        this twice with the same batch is a no-op."""
        self._require_config_ok()
        n_slice, n_new, n_dup = self._ingest_keys(
            spark, self.keys_of(df), dict(note or {})
        )
        return {
            "status": "added",
            "slice_keys": n_slice,
            "new_keys": n_new,
            "dup_of_history": n_dup,
        }

    def _ingest_keys(
        self,
        spark: SparkSession,
        slice_keys: DataFrame,
        meta_extra: dict[str, Any],
    ) -> tuple[int, int, int]:
        slice_keys.persist()
        try:
            n_slice = slice_keys.count()
            dup = self._dup_keys(spark, slice_keys, n_slice)
            if dup is None:
                new_keys, n_dup = slice_keys, 0
            else:
                # distinct BEFORE counting and joining back: the index
                # may hold duplicate key rows (concurrent refreshes that
                # both won their manifest race — the documented degraded
                # state), and without the distinct the dup stat counts
                # index ROWS, not dup keys (it could even exceed
                # n_slice).
                dup_only = dup.select("key").distinct()
                n_dup = dup_only.count()
                # the dup set is bounded by the slice's distinct keys;
                # broadcast-hint the join-back only when the SLICE was
                # broadcast-sized — on the shuffle route (a backfill
                # bigger than broadcast_cap) the dup set can be nearly
                # slice-sized, and forcing it driver-side would hit the
                # broadcast hard limit the route switch exists to avoid.
                if n_dup <= self.broadcast_cap:
                    dup_only = F.broadcast(dup_only)
                new_keys = slice_keys.join(dup_only, "key", "left_anti")
            n_new = new_keys.count()
            meta = self._meta(
                **meta_extra, new_keys=n_new, dup_of_history=n_dup
            )
            if n_new:
                self.table.append(
                    new_keys.repartition("bucket"),
                    meta,
                    partition_by=["bucket"],
                )
            else:
                # all-dup slice: watermark/bookkeeping only — a data
                # dir with zero row files breaks schema discovery on
                # read, so commit zero parts instead.
                self.table.commit_parts([], meta)
        finally:
            slice_keys.unpersist()
        return n_slice, n_new, n_dup

    def rebuild(self, spark: SparkSession, source: CuratedTable) -> dict:
        """Re-derive the whole index from the CURRENT source snapshot
        as one atomic ``overwrite`` commit (the recovery path after a
        source delete/overwrite broke append-only indexing, or after a
        key_expr/n_buckets change). Runs even under a pending config
        conflict (allow_repin) — the overwrite commit re-pins the NEW
        config and clears the conflict."""
        as_of = source.current_snapshot_id()
        full = source.read(spark)
        replaced = [
            int(c["snapshot_id"]) for c in self.table.active_commits()
        ]
        n = 0
        path = None
        if full is not None:
            path = self.table.stage_dir()
            self.keys_of(full).repartition("bucket").write.mode(
                "overwrite"
            ).partitionBy("bucket").parquet(path)
            # explicit schema: a zero-key source (e.g. all-NULL keys)
            # stages a dir with only _SUCCESS, where inference raises
            n = spark.read.schema(
                "key string, bucket int, doc_ref string"
            ).parquet(path).count()
        meta = self._meta(indexed_through=as_of, rebuilt=True, index_keys=n)
        if n:
            self.table.commit(
                path, meta, replaces=replaced or None, op="overwrite"
            )
        else:
            # empty source: zero-part overwrite (an empty parquet dir
            # would break schema discovery on later reads)
            self.table.commit_parts(
                [], meta, replaces=replaced or None, op="overwrite"
            )
        self._config_conflict = None  # the overwrite re-pinned the config
        return {"status": "rebuilt", "as_of": as_of, "index_keys": n}

    # overridden by NearDupIndex (multi-key derivation)
    def _exploded_keys(self, df: DataFrame) -> DataFrame:
        """(__rid, key) pairs for marking — one key per row for the
        exact index; N band keys per row for the near-dup index."""
        return df.select(
            F.col(self.id_col).alias("__rid"),
            self._key_col().alias("key"),
        ).where(F.col("key").isNotNull())

    def mark_history_dups(
        self, spark: SparkSession, df: DataFrame
    ) -> DataFrame:
        """Tag an incoming batch with ``dup_of_history`` (boolean) and
        ``dup_canonical`` (the historical doc it duplicates, else
        NULL), WITHOUT mutating the index.

        Plan: batch keys broadcast into one index scan (history never
        shuffles); the dup set — bounded by the batch's distinct keys
        — joins back (broadcast-hinted only under broadcast_cap; a
        crawl-sized batch's dup set must not be forced driver-side).
        Use before `refresh()` to route known-dup rows away from
        expensive scoring stages.
        """
        self._require_config_ok()
        no_dups = df.withColumn(
            "dup_of_history", F.lit(False)
        ).withColumn("dup_canonical", F.lit(None).cast("string"))
        # Empty-index short-circuit BEFORE the batch-key count: the
        # first crawl against a fresh index must not pay a full
        # key-column scan just to learn there is no history. has_keys
        # answers from commit meta alone — portable to catalogs whose
        # read() returns an empty DataFrame rather than None.
        if not self.has_keys():
            return no_dups
        ek = self._exploded_keys(df)
        batch_keys = ek.select("key").distinct()
        n_batch = batch_keys.count()
        dup = self._dup_keys(spark, batch_keys, n_batch)
        if dup is None:
            return no_dups
        # one row per key before the join-back: duplicate index keys
        # (e.g. two concurrent refreshes that both won their manifest
        # race and registered overlapping slices) must degrade to a
        # redundant-storage problem, never row inflation of the batch
        dup = dup.groupBy("key").agg(F.min("doc_ref").alias("__c"))
        if n_batch <= self.broadcast_cap:
            dup = F.broadcast(dup)
        # per-ROW verdict: a row is dup/candidate if ANY of its keys
        # hit; `hits` is grouped by __rid, so rows repeated in the
        # batch (same id) still come back one-flag-per-input-row
        hits = (
            ek.join(dup, "key")
            .groupBy("__rid")
            .agg(F.min("__c").alias("dup_canonical"))
            .withColumnRenamed("__rid", self.id_col)
        )
        if n_batch <= self.broadcast_cap:
            hits = F.broadcast(hits)
        return df.join(hits, self.id_col, "left").withColumn(
            "dup_of_history", F.col("dup_canonical").isNotNull()
        )


class NearDupIndex(DedupIndex):
    """Cross-run NEAR-dup candidate index: the MinHash-LSH analog of
    the exact index, for catching re-crawled pages whose bytes
    CHANGED (boilerplate swap, timestamp, ad rotation) — the common
    case exact url/text keys miss.

    Keys are LSH band buckets: each doc contributes LSH_BANDS keys
    ``"<band_id>:<band_hash>"`` derived from the same one-permutation
    -hashing signature as `dedup_minhash_lsh` (queries/dedupq.py —
    delegated, not re-implemented, so index and batch query agree on
    candidate semantics by construction). The index stores ONE row per
    distinct band bucket (min doc as the bucket representative), so it
    grows with distinct buckets, not with docs x bands.

    `mark_candidates` answers "LSH candidate of history": probability
    ~1-(1-j^r)^b per the banding curve (~0.99 at Jaccard 0.9, ~2e-5 at
    0.1 with the repo's K=16/b=4). A candidate is a ROUTING verdict —
    send to exact verification (shingle Jaccard against the
    representative's text) or a human threshold — NOT a drop decision;
    that is why this class is not wired into QualityPipeline's keep/
    drop path. Docs under 2 words produce no shingles, hence no keys:
    they are never indexed or flagged here (the exact index covers
    them).

    Shares the whole DedupIndex lifecycle: incremental refresh
    (O(new data), history never shuffled), atomic watermark commits,
    rebuild(), config pinning (the text expression is pinned through
    key_expr, so reopening with a different tokenization raises).
    """

    def __init__(
        self,
        index: CuratedTable | str,
        text_expr: str = "text",
        id_col: str = "url",
        n_buckets: int = 64,
        broadcast_cap: int = 2_000_000,
        spark: SparkSession | None = None,
    ):
        self.text_expr = text_expr
        super().__init__(
            index,
            key_expr=f"minhash-lsh({text_expr})",
            id_col=id_col,
            n_buckets=n_buckets,
            broadcast_cap=broadcast_cap,
            spark=spark,
        )

    def key_col(self):  # single-key derivation is undefined here
        raise NotImplementedError(
            "NearDupIndex derives multiple band keys per row; use "
            "_exploded_keys / mark_candidates"
        )

    def _exploded_keys(self, df: DataFrame) -> DataFrame:
        from curator_spark.functions.textstats import word_ngrams, words
        from curator_spark.queries.dedupq import (
            LSH_BANDS,
            MINHASH_K,
            _band_col,
            _minhash_agg_cols,
        )

        sh = df.select(
            F.col(self.id_col).alias("__rid"),
            words(F.expr(self.text_expr)).alias("__ws"),
        ).select(
            "__rid",
            F.explode(F.array_distinct(word_ngrams("__ws", 2))).alias("s"),
        ).select("__rid", F.md5(F.col("s").cast("binary")).alias("h"))
        sig = sh.groupBy("__rid").agg(*_minhash_agg_cols())
        r = MINHASH_K // LSH_BANDS
        return sig.select(
            "__rid",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(":", F.lit(str(b)), _band_col(b, r))
                        for b in range(LSH_BANDS)
                    ]
                )
            ).alias("key"),
        )

    def keys_of(self, df: DataFrame) -> DataFrame:
        """One row per DISTINCT band bucket in the slice (min doc as
        representative) — same shuffle shape as the exact index's
        distinct-key agg, over bands x docs rows."""
        return (
            self._exploded_keys(df)
            .groupBy("key")
            .agg(F.min(F.col("__rid").cast("string")).alias("doc_ref"))
            .withColumn("bucket", self._bucket_col())
            .select(*INDEX_COLS)
        )

    def mark_candidates(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """`mark_history_dups` under candidate naming: adds
        ``near_dup_candidate`` (any band collision with history) and
        ``near_dup_canonical`` (a colliding bucket's representative
        doc, for the exact-verify lookup)."""
        return (
            self.mark_history_dups(spark, df)
            .withColumnRenamed("dup_of_history", "near_dup_candidate")
            .withColumnRenamed("dup_canonical", "near_dup_canonical")
        )

    def confirm_candidates(
        self,
        spark: SparkSession,
        marked: DataFrame,
        history: DataFrame,
        threshold: float = 0.5,
    ) -> DataFrame:
        """The verify step of verify-then-drop: exact 2-gram shingle
        Jaccard between each flagged candidate and its canonical's
        text, adding ``near_dup_jaccard`` (NULL for non-candidates)
        and ``near_dup_confirmed``.

        `history` is a (id_col, text) view of the corpus the index was
        built over. Plan: the candidate canonical set (bounded by the
        batch) semi-filters history — one scan, no history shuffle
        under broadcast_cap — then the canonical texts (again
        batch-bounded) join back onto the candidates and the Jaccard
        is a native array fold (array_intersect sizes, whole-stage
        codegen, no Python). LSH banding only ever produces false
        POSITIVES at this stage (a collision despite low similarity);
        confirm removes them. False negatives (a true near-dup with no
        band collision) are governed by the banding curve and are not
        recoverable here.
        """
        from curator_spark.functions.textstats import word_ngrams, words

        cand_canon = (
            marked.where(F.col("near_dup_candidate"))
            .select(F.col("near_dup_canonical").alias("__canon"))
            .distinct()
        )
        # Broadcasts are GATED, not forced: a re-crawl where most pages
        # are candidates (this class's motivating case) makes the
        # canonical set nearly batch-sized. The id-only semi-filter set
        # gates on broadcast_cap (32-byte ids); the shingled lookup rows
        # are multi-KB each, so they get a much smaller cap — above
        # either cap the join runs as a plain shuffle join, which is the
        # right plan for a candidate-heavy batch anyway.
        n_canon = cand_canon.count()
        canon_filter = (
            F.broadcast(cand_canon)
            if n_canon <= self.broadcast_cap
            else cand_canon
        )
        # canonical set is bounded by the batch's distinct canonicals;
        # history may hold the same id across snapshots — dedupe to ONE
        # text per canonical (deterministic min) so the join-back below
        # can never inflate candidate rows
        canon_sh = (
            history.select(
                F.col(self.id_col).cast("string").alias("__canon"),
                F.expr(self.text_expr).cast("string").alias("__ctext"),
            )
            .join(canon_filter, "__canon", "leftsemi")
            .groupBy("__canon")
            .agg(F.min("__ctext").alias("__ctext"))
            .select("__canon", words(F.col("__ctext")).alias("__cws"))
            .select(
                "__canon",
                F.array_distinct(word_ngrams("__cws", 2)).alias("__csh"),
            )
        )
        # shingle only the flagged rows: candidates are typically a
        # small fraction of a crawl batch, and the shingle expression
        # (regex split + 2-gram concat) is the costly part of this
        # projection — non-candidates keep a NULL and skip the work
        is_cand = F.col("near_dup_candidate")
        out = marked.withColumn(
            "__ws_b", F.when(is_cand, words(F.expr(self.text_expr)))
        ).withColumn(
            "__csh_b",
            F.when(is_cand, F.array_distinct(word_ngrams("__ws_b", 2))),
        )
        canon_lookup = canon_sh.withColumnRenamed(
            "__canon", "near_dup_canonical"
        )
        if n_canon <= CONFIRM_BROADCAST_CAP:
            canon_lookup = F.broadcast(canon_lookup)
        out = out.join(canon_lookup, "near_dup_canonical", "left")
        inter = F.size(F.array_intersect(F.col("__csh_b"), F.col("__csh")))
        union = (
            F.size(F.col("__csh_b")) + F.size(F.col("__csh")) - inter
        )
        jac = F.when(
            F.col("near_dup_candidate") & F.col("__csh").isNotNull()
            & (union > 0),
            inter.cast("double") / union.cast("double"),
        )
        return (
            out.withColumn("near_dup_jaccard", jac)
            .withColumn(
                "near_dup_confirmed",
                F.coalesce(
                    F.col("near_dup_jaccard") >= F.lit(threshold),
                    F.lit(False),
                ),
            )
            .drop("__ws_b", "__csh_b", "__csh")
        )
