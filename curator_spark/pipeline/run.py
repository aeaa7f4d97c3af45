"""Pipeline orchestration: fingerprint → resume → stage chain → bucket commit.

The Spark restatement of the reference's `LLM.__call__` lifecycle
(reference: llm/llm.py:190-337, SURVEY.md §3.1):

  ingest → fingerprint → cache probe → execute remainder → materialize

re-expressed as: read parquet → derive url-hash bucket_id →
anti-select already-committed buckets (row-level resume, reference:
base_request_processor.py:609-651) → one Arrow UDF for the model scores
and rule stats + native rule flags and decision →
single shuffle on bucket_id → partitioned write → atomic manifest
commit carrying per-bucket lineage counters (the reference's
OnlineStatusTracker counters, online_status_tracker.py:46-95).

Scale notes (100 TB): the whole job is ONE scan of the input and ONE
shuffle (the final repartition("bucket_id") for the partitioned
write); all UDF scoring runs pre-shuffle at full scan parallelism.
Failed-extraction rows ride the same write under a sentinel
bucket_id=-1 partition and are relocated to the quarantine dir before
commit — no second scan of the input for the failed branch (html
re-extraction over 100 TB twice was the alternative). n_buckets
bounds write parallelism — use ≥4× executor count in production (32
here for local[32]). Metrics are computed by re-reading the freshly
written (column-pruned) output, never by re-running UDFs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curator_spark.config import QualityConfig
from curator_spark.pipeline import fsutil
from curator_spark.pipeline.fingerprint import run_fingerprint
from curator_spark.pipeline.catalog import CuratedTable, open_table
from curator_spark.stages.decide import with_decision
from curator_spark.stages.extract import extracted_text, with_extracted_text
from curator_spark.stages.rules import with_rule_flags
from curator_spark.stages.score import with_scores

OUT_COLS = [
    "url",
    "bucket_id",
    "lang_pred",
    "lang_score",
    "perplexity",
    "keep",
    "drop_reason",
    "scrubbed_text",
    "scrub_counts",
]


def _table_ident(table: CuratedTable) -> str:
    """Stable identity string for an input table (Iceberg identifier
    or local store root)."""
    return (
        getattr(table, "identifier", None)
        or getattr(table, "root", None)
        or type(table).__name__
    )


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket_id", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def quality_plan(
    df: DataFrame,
    cfg: QualityConfig,
    text_col: str = "text",
) -> DataFrame:
    """The full logical plan over a pages-shaped DataFrame (no I/O).

    Scores langid + perplexity + scrub + the rule stats in ONE
    ArrowEvalPython node (one text round-trip per batch,
    stages/score.py); the rule flags and the decision are native
    comparisons on the returned columns.
    """
    df = with_scores(df, cfg, text_col)
    df = with_rule_flags(df, cfg)
    df = with_decision(df, cfg)
    # dropped rows carry no scrubbed payload (they are not emitted downstream)
    df = df.withColumn(
        "scrubbed_text", F.when(F.col("keep"), F.col("scrubbed_text"))
    )
    return df


def staged_plan(
    pages: DataFrame, cfg: QualityConfig, from_html: bool = True
) -> DataFrame:
    """The complete write-side plan over a bucketed pages DataFrame:
    extraction, scoring, decision, quarantine routing, final
    bucket repartition. One scan of the input, one shuffle —
    tests/test_plans.py pins that shape.

    Failed-extraction rows ride the same write under sentinel
    bucket -1 (the scorers are pure and cheap on empty text, and
    their outputs are overridden below); run() relocates that
    partition to the quarantine dir before commit.

    If the input carries a `dup_of_history` flag (run() with a
    DedupIndex marks it pre-plan), flagged rows pay for NOTHING
    downstream: their html is nulled before extraction and their
    doc_text before scoring (the same cheap-on-empty property the
    quarantine path relies on), and they emit as regular output rows
    with keep=false, drop_reason='dup_of_history' in their normal
    bucket — at 100 TB a re-crawl that is 80% previously-seen urls
    skips 80% of extraction + model-scoring bytes while still
    recording a per-url decision row.
    """
    has_dup = "dup_of_history" in pages.columns
    dup = (
        F.coalesce(F.col("dup_of_history"), F.lit(False))
        if has_dup
        else F.lit(False)
    )
    if from_html:
        if has_dup:
            # conditional INSIDE the doc_text expression: codegen
            # evaluates the extraction branch per-row only for non-dup
            # rows — no rewritten html projection (wrapping the binary
            # column itself in a when() copied every page's html bytes
            # through an extra Project, +58% on a zero-dup run)
            pages = pages.withColumn(
                "doc_text",
                F.when(dup, F.lit(None).cast("string")).otherwise(
                    extracted_text(F.col("html"))
                ),
            )
        else:
            pages = with_extracted_text(pages, out="doc_text")
    else:
        pages = pages.withColumn(
            "doc_text",
            F.when(dup, F.lit(None).cast("string")).otherwise(F.col("text")),
        )

    failed_pred = (
        F.col("doc_text").isNull() | (F.col("doc_text") == "")
    ) & ~dup
    pages = pages.withColumn(
        "bucket_id",
        F.when(failed_pred, F.lit(-1)).otherwise(F.col("bucket_id")),
    )

    scored = quality_plan(pages, cfg, text_col="doc_text")
    is_failed = F.col("bucket_id") == -1
    # dup must be re-derivable post-select: OUT_COLS drops the flag
    is_dup = (
        F.coalesce(F.col("dup_of_history"), F.lit(False))
        if has_dup
        else F.lit(False)
    )
    scored = scored.select(*OUT_COLS, *(["dup_of_history"] if has_dup else []))
    return (
        scored
        .withColumn(
            "keep",
            F.when(is_failed | is_dup, F.lit(False)).otherwise(F.col("keep")),
        )
        .withColumn(
            "drop_reason",
            F.when(is_failed, F.lit("extract_failed"))
            .when(is_dup, F.lit("dup_of_history"))
            .otherwise(F.col("drop_reason")),
        )
        .select(*OUT_COLS)
        .repartition("bucket_id")
    )


class FailedRowsError(RuntimeError):
    """Rows failed extraction while require_all_rows is set — the
    strictness contract (reference require_all_responses,
    request_processor/config.py:30). cli.py maps exactly this class to
    exit code 3; other failures must not masquerade as it."""


@dataclass
class RunResult:
    fingerprint: str
    cached: bool
    buckets_processed: list[int] = field(default_factory=list)
    docs_seen: int = 0
    docs_kept: int = 0
    failed_rows: int = 0
    snapshot_id: int = 0


class QualityPipeline:
    def __init__(
        self,
        out_root: str,
        cfg: QualityConfig | None = None,
        table: CuratedTable | None = None,
        dedup_index=None,
        update_dedup_index: bool = False,
    ):
        self.cfg = cfg or QualityConfig()
        # catalog seam: env/conf-driven format (local manifest store in
        # this sandbox; a real Iceberg/Delta catalog on a cluster), or
        # an injected CuratedTable for tests/embedding
        self.table = table if table is not None else open_table(out_root)
        # Optional cross-run dedup: a pipeline/dedup_index.DedupIndex
        # (keyed on a column present in BOTH input and output, i.e.
        # url). When set, previously-indexed urls skip extraction and
        # scoring entirely and emit keep=false/dup_of_history; with
        # update_dedup_index the run's urls are registered after the
        # data commit (a crash between the two re-scores at most one
        # run's urls on the next crawl — work lost, never data).
        self.dedup_index = dedup_index
        self.update_dedup_index = update_dedup_index
        if dedup_index is not None and dedup_index.id_col != "url":
            raise ValueError(
                "pipeline dedup index must be url-keyed (id_col='url', "
                "key_expr over url): registration runs over the OUTPUT "
                f"table, whose only input-carried column is url; got "
                f"id_col={dedup_index.id_col!r}"
            )

    # -- resume bookkeeping (from manifest meta, no data read) -------------
    def committed_buckets(self, fp: str) -> set[int]:
        done: set[int] = set()
        for c in self.table.active_commits():
            m = c["meta"]
            if m.get("run_fingerprint") == fp:
                done.update(int(b) for b in m.get("buckets", {}))
        return done

    def compact(self, spark: SparkSession, fp: str) -> int | None:
        """Rewrite this fingerprint's incremental commits into one
        (bucket-partitioned) commit; lineage counters merge losslessly
        because each bucket is committed by exactly one run."""

        def merge(metas: list[dict]) -> dict:
            out = dict(metas[0])
            out["buckets"] = {}
            out["failed_rows"] = 0
            for m in metas:
                out["buckets"].update(m.get("buckets", {}))
                out["failed_rows"] += m.get("failed_rows", 0)
            out["compacted"] = True
            return out

        return self.table.compact(
            spark,
            predicate=lambda m: m.get("run_fingerprint") == fp,
            meta_merge=merge,
            partition_by=["bucket_id"],
        )

    def delete_urls(
        self, spark: SparkSession, urls: list[str], fp: str | None = None
    ) -> dict:
        """GDPR/takedown row deletes: remove `urls` from committed
        output (all fingerprints, or one). Rewrites ONLY the url-hash
        bucket directories that can contain those urls —
        partition-granularity copy-on-write via
        `SnapshotTable.delete_where`; every other bucket's parquet
        files are carried forward by reference, untouched. Manifest
        lineage counters keep their original processing values (they
        are a processing log, not a live row count); the replacing
        manifest records `deleted_rows`."""
        pred = (lambda m: m.get("run_fingerprint") == fp) if fp else None
        # bucket pruning must hash with EVERY n_buckets present among
        # the targeted commits (configs with different bucket counts
        # coexist in one table under different fingerprints): hashing
        # only with the CURRENT config would miss the other layouts'
        # partitions and silently leave their rows in place. The union
        # over layouts only weakens pruning, never correctness.
        nbs = {
            json.loads(c["meta"]["config"]).get(
                "n_buckets", self.cfg.n_buckets
            )
            for c in self.table.active_commits()
            if "config" in c["meta"] and (pred is None or pred(c["meta"]))
        } or {self.cfg.n_buckets}
        keys = spark.createDataFrame([(u,) for u in urls], "url string")
        buckets = sorted(
            {
                r["bucket_id"]
                for nb in nbs
                for r in with_bucket(keys, nb).select("bucket_id").collect()
            }
        )
        # anti-join delete, not an isin literal: a 100k-url takedown
        # list must not be embedded into every rewrite plan
        return self.table.delete_where(
            spark,
            partition_values=buckets,
            predicate=pred,
            meta_note="delete_urls",
            anti_keys=keys,
            key_col="url",
        )

    def read_output(self, spark: SparkSession, fp: str) -> DataFrame | None:
        return self.table.read(spark, lambda m: m.get("run_fingerprint") == fp)

    def metrics(self, spark: SparkSession, fp: str | None = None) -> DataFrame:
        rows = []
        for c in self.table.active_commits():
            m = c["meta"]
            if fp is not None and m.get("run_fingerprint") != fp:
                continue
            for b, bm in m.get("buckets", {}).items():
                rows.append(
                    {
                        "run_fingerprint": m["run_fingerprint"],
                        "bucket_id": int(b),
                        "docs_seen": bm["docs_seen"],
                        "docs_kept": bm["docs_kept"],
                        "docs_dropped": bm["docs_seen"] - bm["docs_kept"],
                        "dropped_by_rule": bm["dropped_by_rule"],
                        "committed_at": m["committed_at"],
                    }
                )
        schema = (
            "run_fingerprint string, bucket_id int, docs_seen long, docs_kept long,"
            " docs_dropped long, dropped_by_rule map<string,long>, committed_at string"
        )
        return spark.createDataFrame(rows, schema=schema)

    # -- execution ----------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        input_path: str | None = None,
        max_buckets: int | None = None,
        from_html: bool = True,
        input_table: CuratedTable | None = None,
    ) -> RunResult:
        """Process `input_path` (a pages parquet dir) or `input_table`
        (a CuratedTable — the north rule's "reads Iceberg tables"
        face; exactly one of the two).

        Table input is SNAPSHOT-PINNED: the current snapshot id is
        resolved once, baked into the run fingerprint, and the read
        time-travels to exactly that snapshot — so a crawler appending
        mid-run cannot tear the input (rows appearing between buckets
        would otherwise be half-processed under one fingerprint), a
        killed run resumes against the identical bytes, and a grown
        table is a NEW fingerprint (full run) by construction."""
        cfg = self.cfg
        if (input_path is None) == (input_table is None):
            raise ValueError(
                "exactly one of input_path / input_table is required"
            )
        if input_table is not None:
            in_sid = input_table.current_snapshot_id()
            ident = _table_ident(input_table)
            input_path = f"table:{ident}@{in_sid}"
            fp = run_fingerprint(input_path, cfg, identity=input_path)

            def pages_fn() -> DataFrame:
                pages = (
                    input_table.read(spark, as_of=in_sid) if in_sid else None
                )
                if pages is None:
                    raise ValueError(
                        f"input table {input_path} has no data commits"
                    )
                return pages
        else:
            fp = run_fingerprint(input_path, cfg, spark=spark)
            path = input_path

            def pages_fn() -> DataFrame:
                return spark.read.parquet(path)

        return self._execute(
            spark, fp, pages_fn, input_path, max_buckets, from_html, {}
        )

    def run_incremental(
        self,
        spark: SparkSession,
        input_table: CuratedTable,
        max_buckets: int | None = None,
        from_html: bool = True,
    ) -> RunResult:
        """Process ONLY the rows appended to `input_table` since the
        last COMPLETE incremental slice — the growing-crawl face.

        `run(input_table=...)` reprocesses the whole table whenever
        the snapshot changes (correct, but at 10^12 docs a crawl that
        appends 1% must not pay 100%). This consumer instead keeps a
        watermark IN THE OUTPUT TABLE's commit meta (`input_ident` /
        `input_since` / `input_to`): each call reads the append slice
        `(watermark, current]` via `read_incremental` (compaction
        `replace` snapshots are skipped; delete/overwrite snapshots
        raise — appends-only is no longer faithful, run a full
        `run(input_table=...)` instead), processes it through the
        normal bucketed plan, and commits it under a fingerprint of
        the SLICE (`table:<ident>@<since>..<to>`), so a killed slice
        resumes its remaining buckets exactly like any run. The
        watermark only advances once a slice's buckets are ALL
        committed — discovery walks the newest matching commit and
        resumes an incomplete slice (pinned to its recorded `to`)
        before opening a new one, so a crash can never skip rows.
        No separate state store: the watermark lives in the same
        atomically-committed manifest as the data it describes.

        Incremental lineage is linear per input table; interleaving
        `run()` commits is harmless (they carry no `input_ident` and
        are ignored by the walk).

        Caveat — config changes mid-slice: the slice fingerprint
        includes the config, so changing it while a slice is
        incomplete reprocesses that slice fully under the new config
        while the old config's partial commits remain in the table
        (they are per-fingerprint outputs, exactly like an abandoned
        `run()` fingerprint). Cross-slice reads (`table.read()`) then
        see the overlap twice — scope reads by fingerprint, or clear
        the abandoned fingerprint with
        `delete_where(predicate=...run_fingerprint...)`, or change
        config only at slice boundaries."""
        cfg = self.cfg
        ident = _table_ident(input_table)
        since, to_pin = self._incremental_slice(ident)
        to = to_pin if to_pin is not None else (
            input_table.current_snapshot_id()
        )
        if to == since:
            return RunResult(
                fingerprint="", cached=True,
                snapshot_id=self.table.current_snapshot_id(),
            )
        sl = input_table.read_incremental(spark, since, as_of=to)
        if sl is None:
            # window holds only skipped (replace/compaction) snapshots
            # or no matching appends: nothing to do. The watermark is
            # NOT advanced (that requires a committed slice); repeat
            # calls re-walk metadata only — no data is read.
            return RunResult(
                fingerprint="", cached=True,
                snapshot_id=self.table.current_snapshot_id(),
            )
        desc = f"table:{ident}@{since}..{to}"
        fp = run_fingerprint(desc, cfg, identity=desc)
        return self._execute(
            spark, fp, lambda: sl, desc, max_buckets, from_html,
            {"input_ident": ident, "input_since": since, "input_to": to},
        )

    def incremental_state(self, input_table) -> list[dict]:
        """Chronological slice lineage for an input table (or its
        identity string): one entry per slice with {since, to,
        fingerprint, buckets_done, n_buckets, docs_seen, complete} —
        the operator-facing view of the watermark (the newest
        `complete` entry's `to`). Metadata-only: no data is read."""
        ident = (
            input_table if isinstance(input_table, str)
            else _table_ident(input_table)
        )
        groups: dict[str, dict] = {}
        order: list[str] = []
        for c in self.table.active_commits():
            m = c["meta"]
            if m.get("input_ident") != ident:
                continue
            fp = m["run_fingerprint"]
            g = groups.get(fp)
            if g is None:
                try:
                    n_b = json.loads(m["config"]).get(
                        "n_buckets", self.cfg.n_buckets
                    )
                except (KeyError, ValueError):
                    n_b = self.cfg.n_buckets
                g = groups[fp] = {
                    "since": m["input_since"], "to": m["input_to"],
                    "fingerprint": fp, "n_buckets": n_b,
                    "_buckets": set(), "docs_seen": 0,
                }
                order.append(fp)
            g["_buckets"].update(int(b) for b in m.get("buckets", {}))
            g["docs_seen"] += sum(
                bm["docs_seen"] for bm in m.get("buckets", {}).values()
            )
        out = []
        for fp in order:
            g = groups[fp]
            done = g.pop("_buckets")
            out.append({
                **g,
                "buckets_done": len(done),
                "complete": len(done) >= g["n_buckets"],
            })
        return out

    def _incremental_slice(self, ident: str) -> tuple[int, int | None]:
        """(since, to_pin): resume the newest incomplete slice whose
        window lies beyond the watermark (pinned to its recorded `to`
        so the fingerprint — and with it bucket resume — matches),
        else open a new slice from the watermark; (0, None) bootstraps
        from the table's beginning.

        The watermark is the furthest COMPLETE slice group's `to` —
        computed over slice GROUPS, never from raw commit order:
        `compact(fp)` re-appends an old slice's merged meta as the
        NEWEST commit, so a newest-matching-commit walk would hand the
        watermark to whichever slice was compacted last, and the next
        append would open a window overlapping already-processed
        slices (duplicating their rows — pinned in
        tests/test_table_input.py). Incomplete groups at or below the
        watermark are abandoned mid-slice config changes (see the
        caveat above) — never resumed."""
        groups = self.incremental_state(ident)
        watermark = max(
            (g["to"] for g in groups if g["complete"]), default=0
        )
        pending = [
            g for g in groups if not g["complete"] and g["to"] > watermark
        ]
        if pending:
            g = pending[-1]  # newest opener (groups are chronological)
            return g["since"], g["to"]
        return watermark, None

    def _execute(
        self,
        spark: SparkSession,
        fp: str,
        pages_fn,
        input_path: str,
        max_buckets: int | None,
        from_html: bool,
        extra_meta: dict,
    ) -> RunResult:
        cfg = self.cfg
        done = self.committed_buckets(fp)
        todo = sorted(set(range(cfg.n_buckets)) - done)
        if max_buckets is not None:
            todo = todo[:max_buckets]
        if not todo:
            # strictness survives the cache: the first strict run
            # commits its buckets BEFORE raising on quarantined rows
            # (the commit is the inspection artifact), so a bare
            # cached=True here would let a retry mask the violation
            # forever — re-raise from the recorded failed_rows instead.
            prior_failed = sum(
                c["meta"].get("failed_rows", 0)
                for c in self.table.active_commits()
                if c["meta"].get("run_fingerprint") == fp
            )
            if cfg.require_all_rows and prior_failed:
                raise FailedRowsError(
                    f"{prior_failed} rows failed extraction in committed "
                    "runs of this fingerprint and require_all_rows is set "
                    "(quarantined alongside their stage dirs)"
                )
            return RunResult(fingerprint=fp, cached=True,
                             failed_rows=prior_failed,
                             snapshot_id=self.table.current_snapshot_id())

        pages = with_bucket(pages_fn(), cfg.n_buckets)
        if len(todo) < cfg.n_buckets:
            pages = pages.filter(F.col("bucket_id").isin(todo))
        if self.dedup_index is not None and self.dedup_index.has_keys():
            # One url-only pruned pass over the slice marks history
            # dups (index scanned once, never shuffled); the flag is
            # consumed by staged_plan. An EMPTY index skips marking
            # entirely (metadata check) so a first crawl plans
            # byte-identically to an index-free run. NOTE: the dedup
            # consult is not part of the run fingerprint — committed
            # buckets are never reprocessed even if the index grew
            # since.
            pages = self.dedup_index.mark_history_dups(spark, pages).drop(
                "key", "dup_canonical"
            )

        out = staged_plan(pages, cfg, from_html=from_html)

        # stage data invisibly, then publish via one atomic manifest commit
        stage_dir = self.table.stage_dir()
        out.write.mode("overwrite").partitionBy("bucket_id").parquet(stage_dir)

        # relocate the quarantine partition out of the to-be-committed dir;
        # counting it reads parquet footers of a (tiny) quarantine set
        # only. fsutil, not os.*: the Iceberg route stages on SHARED
        # storage (s3://, hdfs://) where os.path.isdir is always False —
        # failed rows would be committed into the table and failed_rows
        # would read 0, silently defeating require_all_rows.
        n_failed = 0
        quarantine = stage_dir.rstrip("/") + "/bucket_id=-1"
        if fsutil.exists(spark, quarantine):
            fsutil.rename(spark, quarantine, stage_dir + "_failed")
            n_failed = spark.read.parquet(stage_dir + "_failed").count()

        # lineage counters from the committed bytes (column-pruned re-read;
        # never re-runs the UDFs). Explicit schema: when EVERY row was
        # quarantined (or the resume slice held no rows) the stage dir
        # has only _SUCCESS, and schema inference would raise
        # UNABLE_TO_INFER_SCHEMA — with the plan's own schema the read
        # is simply empty and the zero-row bucket bookkeeping below
        # still commits the buckets as done.
        written = spark.read.schema(out.schema).parquet(stage_dir)
        # ONE aggregate job: keep is exactly `drop_reason IS NULL`
        # (with_decision derives it so, and staged_plan names a reason
        # for every row it forces to keep=false), so the NULL-reason
        # group of a bucket holds its kept rows and the others its
        # per-rule drops; the per-bucket fold runs on the driver.
        scrub_keys = ("emails", "ids", "phones", "toxic")
        groups = (
            written.groupBy("bucket_id", "drop_reason")
            .agg(
                F.count("*").alias("n"),
                *(F.sum(f"scrub_counts.{k}").alias(k) for k in scrub_keys),
            )
            .collect()
        )
        buckets_meta: dict[str, dict] = {}
        for r in sorted(
            groups, key=lambda r: (r["bucket_id"], r["drop_reason"] or "")
        ):
            b = buckets_meta.setdefault(
                str(r["bucket_id"]),
                {"docs_seen": 0, "docs_kept": 0, "dropped_by_rule": {},
                 "scrub_counts": dict.fromkeys(scrub_keys)},
            )
            b["docs_seen"] += r["n"]
            if r["drop_reason"] is None:
                b["docs_kept"] += r["n"]
            else:
                b["dropped_by_rule"][r["drop_reason"]] = r["n"]
            # SQL sum semantics across the groups: NULL only when every
            # row of the bucket has NULL counts (e.g. all dup_of_history)
            sc = b["scrub_counts"]
            for k in scrub_keys:
                if r[k] is not None:
                    sc[k] = (sc[k] or 0) + r[k]
        # buckets that had zero valid rows still count as committed
        for b in todo:
            buckets_meta.setdefault(
                str(b),
                {"docs_seen": 0, "docs_kept": 0, "dropped_by_rule": {},
                 "scrub_counts": dict.fromkeys(scrub_keys, 0)},
            )

        meta = {
            "run_fingerprint": fp,
            "input_path": input_path,
            "config": cfg.stable_json(),
            "buckets": buckets_meta,
            "failed_rows": n_failed,
            "committed_at": datetime.now(timezone.utc).isoformat(),
            **extra_meta,
        }
        # fsutil, not os.walk: on a shared-storage stage dir os.walk
        # yields nothing, which would route EVERY run into the
        # zero-data bookkeeping branch below — whole runs swallowed
        has_parquet = fsutil.has_file_with_suffix(spark, stage_dir, ".parquet")
        if has_parquet:
            sid = self.table.commit(stage_dir, meta)
        else:
            # all rows quarantined: commit the bucket bookkeeping with
            # ZERO data parts (an empty data dir would crash the read
            # path's schema discovery) and drop the empty stage dir
            sid = self.table.commit_parts([], meta)
            fsutil.delete(spark, stage_dir)

        if self.dedup_index is not None and self.update_dedup_index:
            # Register AFTER the data commit so the index never claims
            # urls whose output rows did not land. add_keys anti-joins
            # against the index, so dup rows cost nothing to re-offer.
            self.dedup_index.add_keys(
                spark,
                written.select("url"),
                note={"run_fingerprint": fp, "output_snapshot_id": sid},
            )

        docs_seen = sum(b["docs_seen"] for b in buckets_meta.values())
        docs_kept = sum(b["docs_kept"] for b in buckets_meta.values())
        if cfg.require_all_rows and n_failed:
            raise FailedRowsError(
                f"{n_failed} rows failed extraction and require_all_rows is set "
                f"(quarantined at {stage_dir}_failed)"
            )
        return RunResult(
            fingerprint=fp,
            cached=False,
            buckets_processed=todo,
            docs_seen=docs_seen,
            docs_kept=docs_kept,
            failed_rows=n_failed,
            snapshot_id=sid,
        )
