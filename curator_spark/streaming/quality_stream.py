"""Structured Streaming face of the quality-filter pipeline.

The reference is a batch system whose "streaming" is incremental file
append + resume bookkeeping (reference: base_online_request_processor
.py:609-631 — append one JSONL line per completed response; SURVEY
§2.9). Spark restates that capability properly: the SAME logical plan
(`quality_plan` — one Arrow scoring UDF for the models, the scrub
and the rule stats, then native rule flags and decision, all
stateless maps) runs unchanged under `readStream`, and the streaming
engine's checkpoint (source offsets + file-sink transaction log)
replaces the reference's completed-id resume scan: a killed run
restarted with the same checkpoint processes each input file exactly
once.

Two entry points:
- `score_stream`: file-source stream of pages -> scored stream
  (stateless; any sink/trigger).
- `run_available_now`: drain everything currently in the input dir to
  a parquet sink and stop — incremental batch, the Spark-native analog
  of the reference's "process whatever request files exist" loop
  (base:requests_to_responses). Re-running after new files arrive
  processes ONLY the new files (checkpoint), i.e. row-level resume
  without any custom bookkeeping.
- `keep_rate_stream`: watermarked event-time windowed aggregation of
  keep/drop counts — late pages beyond the watermark are dropped
  deterministically.

Scale notes: stateless stages keep the stream shuffle-free end-to-end;
only `keep_rate_stream` shuffles (by window x decision), with
watermark-bounded state. maxFilesPerTrigger bounds per-batch memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from curator_spark.config import QualityConfig
from curator_spark.engine.schema import PAGES
from curator_spark.pipeline.run import OUT_COLS, quality_plan, with_bucket


def history_key_table(spark: SparkSession, dedup_index) -> DataFrame | None:
    """(key, dup_canonical) static table for stream marking — one row
    per key even if the index holds duplicates (row inflation
    impossible). None when the index is absent/empty. The CALLER owns
    persist()/unpersist() (run_into_snapshot persists for the query's
    lifetime and releases it after — a persist inside the plan builder
    would leak cache across a long-lived session)."""
    if dedup_index is None or not dedup_index.has_keys():
        return None
    return (
        dedup_index.read_keys(spark)
        .groupBy("key")
        .agg(F.min("doc_ref").alias("dup_canonical"))
    )


def score_stream(
    spark: SparkSession,
    input_dir: str,
    cfg: QualityConfig | None = None,
    max_files_per_trigger: int | None = None,
    dedup_index=None,
    history_keys: DataFrame | None = None,
) -> DataFrame:
    """Scored stream over a pages dir. With `dedup_index` (a
    pipeline/dedup_index.DedupIndex), urls already registered in the
    index skip scoring per-row (doc_text nulled inside the plan) and
    emit keep=false / drop_reason='dup_of_history' — the CROSS-RUN
    skip: a fresh checkpoint re-draining overlapping input does not
    re-score history. Layering: the index static side is resolved at
    QUERY START (keys registered mid-stream are not visible to it);
    WITHIN-run cross-batch dedup is `dedup_stream`'s keyed-state job.
    The stream-static join broadcasts/persists the key table — right
    while the index fits executor memory; at 10^12 keys bucket both
    sides (index is bucket-partitioned for exactly that) or front with
    `dedup_stream_bounded`'s Bloom state.
    """
    cfg = cfg or QualityConfig()
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)
    pages = with_bucket(pages, cfg.n_buckets)
    dup = F.lit(False)
    if history_keys is None:
        history_keys = history_key_table(spark, dedup_index)
    if history_keys is not None:
        pages = (
            pages.withColumn("key", dedup_index.key_col())
            .join(history_keys, "key", "left")  # stream-static left join
            .withColumn("dup_of_history", F.col("dup_canonical").isNotNull())
            .drop("key", "dup_canonical")
        )
        dup = F.col("dup_of_history")
        pages = pages.withColumn(
            "doc_text",
            F.when(dup, F.lit(None).cast("string")).otherwise(F.col("text")),
        )
    else:
        pages = pages.withColumn("doc_text", F.col("text"))
    # batch parity: staged_plan routes NULL/empty text to the sentinel
    # quarantine bucket with drop_reason='extract_failed'; without the
    # same guard here a NULL-text page would be fillna('')-scored and
    # labeled by whatever the scorers say about empty text — the
    # streaming face must emit the identical decision.
    failed_pred = (
        F.col("doc_text").isNull() | (F.col("doc_text") == "")
    ) & ~dup
    pages = pages.withColumn(
        "bucket_id",
        F.when(failed_pred, F.lit(-1)).otherwise(F.col("bucket_id")),
    )
    scored = quality_plan(pages, cfg, text_col="doc_text")
    is_failed = F.col("bucket_id") == -1
    scored = scored.withColumn(
        "keep",
        F.when(is_failed | dup, F.lit(False)).otherwise(F.col("keep")),
    ).withColumn(
        "drop_reason",
        F.when(is_failed, F.lit("extract_failed"))
        .when(dup, F.lit("dup_of_history"))
        .otherwise(F.col("drop_reason")),
    )
    return scored.select("warc_ts", *OUT_COLS)


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: QualityConfig | None = None,
) -> StreamingQuery:
    """Drain all currently-available input, then stop (incremental)."""
    scored = score_stream(spark, input_dir, cfg)
    q = (
        scored.drop("warc_ts")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def checkpoint_lineage(checkpoint_dir: str) -> str:
    """Identity of a checkpoint's lineage: the streaming query id Spark
    persists at `<ckpt>/metadata` on first start. Using the PATH string
    (the pre-r4 behavior) broke exactly-once twice over: a DELETED
    checkpoint at the same path restarted batch ids at 0 under the old
    lineage key (new batches silently dropped as 'replays'), and two
    spellings of one path ('ckpt' vs its abspath) made one checkpoint
    two lineages (crash-replay under the other spelling re-appended).
    Falls back to the absolute path only before the query has ever
    started (no metadata file yet).

    The metadata read rides fsutil: a shared-storage checkpoint
    (s3://, hdfs:// — the normal choice on a real cluster) is
    unreadable through plain open(), which silently demoted EVERY
    remote lineage to the path fallback — and os.path.abspath over a
    schemed URI prepends the driver's CWD, so a restart from a
    different working directory minted a NEW lineage key and replayed
    batches re-appended (the exact double-write this function
    guards). Schemed paths fall back to the URI verbatim instead."""
    import json as _json
    import os as _os

    from py4j.protocol import Py4JError

    from curator_spark.pipeline import fsutil

    meta_file = checkpoint_dir.rstrip("/") + "/metadata"
    try:
        text = fsutil.read_text(None, meta_file)
        if text is not None:
            meta = _json.loads(text)
            qid = meta.get("id") if isinstance(meta, dict) else None
            if qid:
                return str(qid)
    except (ValueError, OSError, Py4JError):
        # a truncated or non-UTF-8 metadata file raises ValueError
        # (json.JSONDecodeError / UnicodeDecodeError), a local read
        # OSError, a remote-FS hiccup a py4j error — unreadable
        # metadata must degrade to the path fallback, not kill the
        # stream at its first micro-batch. Anything else is a bug.
        pass
    if fsutil.is_local_path(checkpoint_dir):
        return _os.path.abspath(checkpoint_dir)
    return checkpoint_dir.rstrip("/")


def make_snapshot_batch_committer(table, checkpoint_dir: str,
                                  dedup_index=None):
    """foreachBatch body committing each micro-batch to a SnapshotTable
    exactly once.

    Structured Streaming's foreachBatch is at-least-once: a crash
    between the batch function and the checkpoint advance replays the
    same (batch_id, data). Exactly-once therefore = idempotent commit
    keyed by (lineage, batch_id) — a replayed batch sees its key
    already committed and becomes a no-op (the same construction as
    the Delta/Iceberg `txnAppId`/`txnVersion` idempotent-write
    pattern). The lineage is the checkpoint's persisted query id
    (resolved lazily at the first batch — the metadata file exists
    once the query starts), so a fresh checkpoint is a new lineage by
    construction.

    The already-committed set is scanned from the manifests ONCE per
    committer (i.e. once per query start) and kept in memory after —
    a per-batch rescan would make replay-guard manifest I/O quadratic
    over a long stream's lifetime. Rewrites that merged streaming
    commits carry their keys forward in meta['stream_batches']
    (snapshot._merge_metas_default), which is honored here too."""

    state: dict = {"lineage": None, "done": None}

    def commit_batch(df: DataFrame, batch_id: int) -> None:
        if state["lineage"] is None:
            lineage = checkpoint_lineage(checkpoint_dir)
            done: set[int] = set()
            for c in table.active_commits():
                m = c["meta"]
                if m.get("stream_lineage") == lineage:
                    done.add(int(m["stream_batch_id"]))
                for pair in m.get("stream_batches", []):
                    if pair[0] == lineage:
                        done.add(int(pair[1]))
            state["lineage"], state["done"] = lineage, done
        if batch_id in state["done"]:
            return  # replay after crash-before-checkpoint: drop it
        path = table.stage_dir()
        (
            df.drop("warc_ts")
            .write.mode("overwrite")
            .partitionBy("bucket_id")
            .parquet(path)
        )
        table.commit(
            path,
            {"stream_lineage": state["lineage"], "stream_batch_id": batch_id},
        )
        state["done"].add(batch_id)
        if dedup_index is not None:
            # Register AFTER the data commit; add_keys anti-joins the
            # index, so a replayed batch (guarded above) or re-offered
            # urls cost nothing. A crash between commit and this call
            # loses only the registration — the next crawl re-scores
            # those urls once and registers them itself (work lost,
            # never data; same contract as the batch pipeline).
            dedup_index.add_keys(
                df.sparkSession,
                df.select("url"),
                note={
                    "stream_lineage": state["lineage"],
                    "stream_batch_id": batch_id,
                },
            )

    return commit_batch


def run_into_snapshot(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint_dir: str,
    cfg: QualityConfig | None = None,
    max_files_per_trigger: int | None = None,
    dedup_index=None,
):
    """Drain available input into a SnapshotTable with exactly-once
    batch commits (source checkpoint handles which files are consumed;
    the idempotent manifest commit handles replayed batches). Returns
    the SnapshotTable.

    With `dedup_index`, previously-registered urls skip scoring
    (score_stream marking) and each committed batch's urls register
    into the index — so a LATER drain with a fresh checkpoint over
    overlapping input re-scores only genuinely new urls."""
    from curator_spark.pipeline.catalog import open_table

    if dedup_index is not None and dedup_index.id_col != "url":
        raise ValueError(
            "streaming dedup index must be url-keyed (id_col='url'); "
            f"got {dedup_index.id_col!r}"
        )
    table = open_table(table_root, spark=spark)
    keys = history_key_table(spark, dedup_index)
    if keys is not None:
        keys.persist()  # static side: materialize once, not per batch
    scored = score_stream(spark, input_dir, cfg, max_files_per_trigger,
                          dedup_index=dedup_index, history_keys=keys)
    try:
        q = (
            scored.writeStream.foreachBatch(
                make_snapshot_batch_committer(table, checkpoint_dir,
                                              dedup_index=dedup_index)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if keys is not None:
            keys.unpersist()
    return table


def keep_rate_stream(
    spark: SparkSession,
    input_dir: str,
    cfg: QualityConfig | None = None,
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Event-time keep/drop counts with late-data watermark.

    In append mode a window is emitted once the watermark passes its
    end; bound files-per-trigger (several micro-batches) so the
    watermark actually advances across a static backlog."""
    scored = score_stream(spark, input_dir, cfg, max_files_per_trigger)
    return (
        # NULL event times are excluded from watermarked windows
        # silently; fall back to processing time so those rows still
        # count (standard ingest-time fallback)
        scored.withColumn(
            "warc_ts", F.coalesce("warc_ts", F.current_timestamp())
        )
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("keep"))
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "keep",
            "n_docs",
        )
    )


def run_keep_rate_available_now(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: QualityConfig | None = None,
) -> StreamingQuery:
    agg = keep_rate_stream(spark, input_dir, cfg, max_files_per_trigger=1)
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def domain_session_stream(
    spark: SparkSession,
    input_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Dynamic session windows per domain over event time — the
    native stateful-streaming operator (session_window merges
    overlapping [ts, ts+gap) intervals as rows arrive; watermark
    bounds state and finalizes sessions for append-mode sinks).
    Batch `sessionize` (queries/relationalq.py) is the lag-based
    batch twin; this is what replaces it when pages arrive as a
    stream. One shuffle on (domain, merging session keys); state is
    per open session, evicted at the watermark."""
    pages = spark.readStream.schema(PAGES).parquet(input_dir)
    # no trailing slash: bare-domain urls ("https://example.com") are
    # common in crawl data and must not collapse into domain=''
    domain = F.regexp_extract("url", r"https?://([^/]+)", 1)
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(
            F.session_window("warc_ts", gap),
            domain.alias("domain"),
        )
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "domain",
            "n_pages",
        )
    )


def run_domain_sessions_available_now(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> StreamingQuery:
    q = (
        domain_session_stream(spark, input_dir, gap, watermark)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
