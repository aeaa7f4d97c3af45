"""spark-submit entry point for the quality-filter pipeline.

North-rule deployment shape: `spark-submit --py-files curator_spark.zip
--files langid_lm.npz cli.py --input ... --out ...` — the package zip
makes the Arrow UDFs importable on executors, and the model artifact
rides SparkFiles (the reference ships its "model" as an API endpoint /
vLLM checkpoint instead; SURVEY §2.8 M2). `submit_command()` prints the
exact command line; running `python -m curator_spark.cli` locally is
equivalent because engine/session.ship_package addPyFile's the same
zip.

Exit codes: 0 ok, 3 = failed rows with require_all_rows (the
reference's require_all_responses hard-fail,
reference: request_processor/config.py:30).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import tempfile

from curator_spark.config import QualityConfig
from curator_spark.engine.session import default_cores


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="curator-spark")
    p.add_argument("--input", required=True, help="pages parquet dir")
    p.add_argument("--input-format", choices=("parquet", "table"),
                   default="parquet",
                   help="'table' treats --input as a CuratedTable root/"
                        "identifier (routed local|iceberg by "
                        "spark.curator.table.format) and snapshot-pins "
                        "the read — the north rule's Iceberg input face")
    p.add_argument("--incremental", action="store_true",
                   help="with --input-format table: process only rows "
                        "appended since the last complete slice "
                        "(watermark kept in the output table's commit "
                        "meta)")
    p.add_argument("--incremental-state", action="store_true",
                   help="with --input-format table: print the slice "
                        "lineage for this input table (one JSON array on "
                        "one line, one object per slice: since/to/"
                        "fingerprint/buckets_done/n_buckets/docs_seen/"
                        "complete) and exit without "
                        "running — metadata-only, no data read")
    p.add_argument("--out", required=True, help="output snapshot-table root")
    p.add_argument("--cores", type=int, default=default_cores(),
                   help="local[N] task slots (default SPARK_GRAFT_CPUS, "
                        "else this process's CPU affinity)")
    p.add_argument("--master", default=None,
                   help="override master (default local[cores]; under "
                        "spark-submit pass --master there instead)")
    p.add_argument("--buckets", type=int, default=None,
                   help="override cfg.n_buckets")
    p.add_argument("--max-buckets", type=int, default=None,
                   help="process at most N not-yet-committed buckets "
                        "(incremental run)")
    p.add_argument("--from-text", action="store_true",
                   help="score the text column directly (skip html extract)")
    p.add_argument("--target-lang", default=None)
    p.add_argument("--allow-failed-rows", action="store_true",
                   help="disable require_all_rows strictness")
    p.add_argument("--ship-model-npz", action="store_true",
                   help="materialize model tables to an .npz and ship via "
                        "SparkFiles instead of training in-worker")
    p.add_argument("--print-submit", action="store_true",
                   help="print the spark-submit command line and exit")
    p.add_argument("--compact", action="store_true",
                   help="after the run (or cache no-op), rewrite this "
                        "fingerprint's incremental commits into one "
                        "bucket-partitioned commit (small-files compaction)")
    p.add_argument("--delete-urls", default=None, metavar="FILE",
                   help="GDPR/takedown: newline-separated url list to DELETE "
                        "from this fingerprint's committed output "
                        "(partition-granularity copy-on-write; only the "
                        "urls' hash-bucket dirs are rewritten)")
    p.add_argument("--dedup-index", default=None, metavar="DIR",
                   help="cross-run url dedup index root (pipeline/"
                        "dedup_index.py): urls already indexed skip "
                        "extraction+scoring and emit keep=false/"
                        "dup_of_history; pair with --update-dedup-index "
                        "to register this run's urls for future crawls")
    p.add_argument("--update-dedup-index", action="store_true",
                   help="after the data commit, add this run's processed "
                        "urls to --dedup-index (idempotent anti-join)")
    p.add_argument("--expire-snapshots", type=int, default=None, metavar="K",
                   help="after the run, expire replaced snapshots outside "
                        "the trailing-K time-travel window and delete data "
                        "dirs no retained manifest references (Iceberg "
                        "expire_snapshots + remove_orphan_files analog)")
    return p


def make_config(args: argparse.Namespace) -> QualityConfig:
    overrides = {}
    if args.buckets is not None:
        overrides["n_buckets"] = args.buckets
    if args.target_lang is not None:
        overrides["target_lang"] = args.target_lang
    if args.allow_failed_rows:
        overrides["require_all_rows"] = False
    import dataclasses

    return dataclasses.replace(QualityConfig(), **overrides)


def submit_command(args: argparse.Namespace) -> str:
    from curator_spark.engine.packaging import build_pyfiles_zip

    zip_path = build_pyfiles_zip()
    parts = [
        "spark-submit",
        "--master", args.master or f"local[{args.cores}]",
        "--py-files", zip_path,
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.sql.adaptive.enabled=true",
    ]
    if args.ship_model_npz:
        npz = os.path.join(tempfile.mkdtemp(prefix="curator_model_"),
                           "langid_lm.npz")
        from curator_spark.functions.vectorized import save_artifacts

        save_artifacts(npz, QualityConfig().langs)
        parts += ["--files", npz]
    parts += [os.path.abspath(__file__),
              "--input", args.input, "--out", args.out]
    # forward every behavioral flag — a submit line carrying only
    # --input/--out would run a DIFFERENT pipeline than requested
    # (html extraction on a text corpus, wrong target lang, strictness
    # the caller disabled, ...)
    if args.buckets is not None:
        parts += ["--buckets", str(args.buckets)]
    if args.max_buckets is not None:
        parts += ["--max-buckets", str(args.max_buckets)]
    if args.from_text:
        parts += ["--from-text"]
    if args.target_lang is not None:
        parts += ["--target-lang", args.target_lang]
    if args.allow_failed_rows:
        parts += ["--allow-failed-rows"]
    if args.ship_model_npz:
        parts += ["--ship-model-npz"]
    if args.compact:
        parts += ["--compact"]
    if args.delete_urls:
        parts += ["--delete-urls", args.delete_urls]
    if args.expire_snapshots is not None:
        parts += ["--expire-snapshots", str(args.expire_snapshots)]
    return shlex.join(parts)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.print_submit:
        print(submit_command(args))
        return 0

    cfg = make_config(args)

    from curator_spark.engine.session import get_spark
    from curator_spark.pipeline.run import QualityPipeline

    extra_conf = {"spark.master": args.master} if args.master else {}
    npz = None
    if args.ship_model_npz:
        # artifact built BEFORE the session so the executor env can be
        # declared at context creation: a driver-side os.environ set
        # after startup reaches executors only in local mode (by env
        # inheritance); on a real cluster resolve_models would read an
        # empty env var and silently train in-worker instead of
        # loading the shipped artifact.
        npz = os.path.join(tempfile.mkdtemp(prefix="curator_model_"),
                           "langid_lm.npz")
        from curator_spark.functions.vectorized import save_artifacts

        save_artifacts(npz, cfg.langs)
        extra_conf["spark.executorEnv.SPARK_LANGID_NPZ"] = npz

    spark = get_spark("curator-spark-cli", cores=args.cores,
                      extra_conf=extra_conf or None)
    if npz:
        spark.sparkContext.addFile(npz)
        os.environ["SPARK_LANGID_NPZ"] = npz

    from curator_spark.pipeline.run import FailedRowsError

    dedup_index = None
    if args.dedup_index:
        from curator_spark.pipeline.dedup_index import DedupIndex

        dedup_index = DedupIndex(args.dedup_index, key_expr="url")
    pipe = QualityPipeline(
        args.out, cfg,
        dedup_index=dedup_index,
        update_dedup_index=args.update_dedup_index,
    )
    input_table = None
    if args.input_format == "table":
        from curator_spark.pipeline.catalog import open_table

        input_table = open_table(args.input, spark=spark)
    elif args.incremental or args.incremental_state:
        raise SystemExit(
            "--incremental/--incremental-state require --input-format table"
        )
    if args.incremental_state:
        print(json.dumps(pipe.incremental_state(input_table)))
        return 0
    try:
        if args.incremental:
            res = pipe.run_incremental(
                spark, input_table,
                max_buckets=args.max_buckets,
                from_html=not args.from_text,
            )
        else:
            res = pipe.run(
                spark,
                args.input if input_table is None else None,
                max_buckets=args.max_buckets,
                from_html=not args.from_text,
                input_table=input_table,
            )
    except FailedRowsError as e:
        # exit 3 is RESERVED for the strictness contract (failed rows
        # under require_all_rows); any other failure propagates as a
        # normal traceback so automation never mistakes an internal
        # error for quarantined rows
        print(json.dumps({"error": str(e)}))
        return 3
    compacted = pipe.compact(spark, res.fingerprint) if args.compact else None
    deleted = None
    if args.delete_urls:
        with open(args.delete_urls) as fh:
            urls = [ln.strip() for ln in fh if ln.strip()]
        if urls:
            # `or None`: a no-op incremental run reports fingerprint ""
            # — a GDPR delete must then apply to ALL fingerprints, not
            # silently scope to an empty one and delete nothing
            deleted = pipe.delete_urls(spark, urls, fp=res.fingerprint or None)
    expired = (
        pipe.table.expire_snapshots(retain_last=args.expire_snapshots)
        if args.expire_snapshots is not None else None
    )
    print(json.dumps({
        "fingerprint": res.fingerprint,
        "cached": res.cached,
        "buckets_processed": res.buckets_processed,
        "docs_seen": res.docs_seen,
        "docs_kept": res.docs_kept,
        "failed_rows": res.failed_rows,
        "snapshot_id": res.snapshot_id,
        "compacted_snapshot_id": compacted,
        "deleted": deleted,
        "expired": expired,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
