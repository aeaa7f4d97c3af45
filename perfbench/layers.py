"""Per-layer probes, run only with --trace 1.

- The Spark-side ladder: one plan per rung, built from the package's
  public functions and timed with a noop write. The difference between
  adjacent rungs is that layer's cost.
- The Python cores, timed in-process and single-threaded on the
  workload's own texts, in batches of the session's Arrow batch size.
- The pinned 1-CPU process for the scaling ratio.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from curator_spark.functions import vectorized as V
from curator_spark.functions.scrub_core import scrub_series
from curator_spark.pipeline.run import OUT_COLS, QualityPipeline, quality_plan, staged_plan, with_bucket
from curator_spark.stages.extract import with_extracted_text
from curator_spark.stages.rules import with_rule_flags, with_rule_stats
from curator_spark.stages.score import with_scores

from host import now

RULE_FLAGS = [
    "fail_rule_word_count", "fail_rule_mean_word_length", "fail_rule_symbol_ratio",
    "fail_rule_repeated_lines", "fail_rule_stopword_density",
]
# the scoring UDF's return schema: the identity rung ships the same
# columns back, so the rung above it differs only by the compute
SCORE_RET = (
    "lang_pred string, lang_score double, perplexity double, "
    "scrubbed_text string, emails long, ids long, phones long, toxic long"
)
# layer metric -> (rung, rung below it)
LADDER_METRICS = {
    "engine.scan_s": ("scan", None),
    "stages.extract_s": ("extract", "scan"),
    "stages.rules_s": ("rules", "extract"),
    "stages.score.arrow_io_s": ("identity_udf", "rules"),
    "stages.score.compute_s": ("score", "identity_udf"),
    "stages.decide_s": ("decide", "score"),
    "pipeline.staged_write_s": ("staged_write", "decide"),
    "pipeline.commit_s": ("run", "staged_write"),
}


def make_identity_udf():
    @pandas_udf(SCORE_RET)
    def identity(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            n = len(texts)
            zf, zi = np.zeros(n), np.zeros(n, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "lang_pred": np.full(n, "en", dtype=object),
                    "lang_score": zf, "perplexity": zf,
                    "scrubbed_text": pd.Series([None] * n, dtype=object),
                    "emails": zi, "ids": zi, "phones": zi, "toxic": zi,
                }
            )

    return identity


def ladder(spark, pages_dir: str, cfg, work, tracer) -> dict:
    """Seconds per rung, each timed once: more repetitions would not fit
    a traced run into the benchmark's time budget."""
    ident = make_identity_udf()
    b = with_bucket(spark.read.parquet(pages_dir), cfg.n_buckets)
    x = with_extracted_text(b, out="doc_text")
    r = with_rule_flags(with_rule_stats(x, "doc_text"), cfg)
    keep = ["url", "bucket_id"]
    noop_rungs = {
        "scan": b.select(*keep, "html"),
        "extract": x.select(*keep, "doc_text"),
        "rules": r.select(*keep, "doc_text", *RULE_FLAGS),
        "identity_udf": r.withColumn("_s", ident(F.col("doc_text"))).select(
            *keep, "doc_text", *RULE_FLAGS, "_s"
        ),
        "score": with_scores(r, cfg, "doc_text").select(
            *keep, *RULE_FLAGS, "lang_pred", "lang_score", "perplexity",
            "scrubbed_text", "scrub_counts",
        ),
        "decide": quality_plan(x, cfg, text_col="doc_text").select(*OUT_COLS),
    }
    t: dict[str, float] = {}
    for name, df in noop_rungs.items():
        with tracer.span(f"ladder.{name}"):
            t0 = now()
            df.write.format("noop").mode("overwrite").save()
            t[name] = now() - t0
    with tracer.span("ladder.staged_write"):
        t0 = now()
        staged_plan(b, cfg).write.mode("overwrite").partitionBy("bucket_id").parquet(work.fresh("stage"))
        t["staged_write"] = now() - t0
    with tracer.span("ladder.run"):
        t0 = now()
        QualityPipeline(work.fresh("ladder"), cfg).run(spark, input_path=pages_dir)
        t["run"] = now() - t0
    out = {f"ladder.{k}_s": v for k, v in t.items()}
    for metric, (rung, below) in LADDER_METRICS.items():
        out[metric] = t[rung] - (t[below] if below else 0.0)
    return out


def cores(texts: list[str], cfg, batch: int, tracer) -> dict:
    """The fused UDF's Python cores, single-threaded on these texts."""
    table, lm = V.get_langid_table(cfg.langs), V.get_bigram_lm()
    t = dict.fromkeys(("encode", "langid", "ppl", "scrub", "arrow"), 0.0)
    n = len(texts)
    sent = returned = cand = hits = pii_hits = 0
    for i in range(0, n, batch):
        b = texts[i : i + batch]
        s = pd.Series(b, dtype=object)
        with tracer.span("functions.vectorized.encode_texts"):
            t0 = now()
            enc = V.encode_texts(b)
            t["encode"] += now() - t0
        with tracer.span("functions.vectorized.langid_scores"):
            t0 = now()
            V.langid_scores(b, cfg.langs, table, encoded=enc)
            t["langid"] += now() - t0
        with tracer.span("functions.vectorized.perplexities"):
            t0 = now()
            V.perplexities(b, lm, encoded=enc)
            t["ppl"] += now() - t0
        with tracer.span("functions.scrub_core.scrub_series"):
            t0 = now()
            scrubbed, counts = scrub_series(s)
            t["scrub"] += now() - t0
        with tracer.span("arrow.pandas_roundtrip"):
            t0 = now()
            pa.Array.from_pandas(pa.array(b, pa.string()).to_pandas())
            t["arrow"] += now() - t0
        is_cand = s.str.contains(r"[@0-9]", regex=True).values
        touched = counts.sum(axis=1).values > 0
        pii = counts[["emails", "ids", "phones"]].sum(axis=1).values > 0
        cand += int(is_cand.sum())
        hits += int(touched.sum())
        pii_hits += int(pii.sum())
        sent += int(s.str.len().sum())
        returned += int(scrubbed[touched].str.len().sum())
    return {
        "functions.vectorized.encode_texts_s": t["encode"],
        "functions.vectorized.langid_scores_s": t["langid"],
        "functions.vectorized.perplexities_s": t["ppl"],
        "functions.scrub_core.scrub_series_s": t["scrub"],
        "functions.scrub_core.candidate_frac": cand / max(1, n),
        "functions.scrub_core.hit_frac": hits / max(1, n),
        "functions.scrub_core.useful_ratio": pii_hits / max(1, cand),
        "arrow.pandas_roundtrip_s": t["arrow"],
        "stages.score.text_return_frac": returned / max(1, sent),
    }


class PinnedLevel:
    """A child benchmark process pinned to one CPU with its own local[1]
    session. It runs QualityPipeline.run on request, so runs of the two
    levels can alternate, and queued runs let it warm up while the
    parent does."""

    def __init__(self, cpu: int, work_root: str) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        # the child pins itself: a preexec_fn is unsafe in this
        # process, which runs a sampler thread
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "run.py"),
             "--child-level", work_root, "--child-cpu", str(cpu)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.pending = 0

    def submit(self, pages_dir: str) -> None:
        """Queue one run; `collect` waits for the queued runs."""
        self.proc.stdin.write(json.dumps({"pages": pages_dir}) + "\n")
        self.proc.stdin.flush()
        self.pending += 1

    def collect(self) -> list[float]:
        out = [json.loads(self.proc.stdout.readline())["s"] for _ in range(self.pending)]
        self.pending = 0
        return out

    def run(self, pages_dir: str) -> float:
        self.submit(pages_dir)
        return self.collect()[0]

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)


def child_level(work_root: str, cpu: int) -> None:
    """Body of the pinned process: one run per request line on stdin.
    The JVM and its Python workers inherit the pinning."""
    from host import WorkDir, start_spark, stop_spark

    os.sched_setaffinity(0, {cpu})
    work = WorkDir(work_root)
    spark = start_spark("perfbench-1cpu", 1, work)
    try:
        for line in sys.stdin:
            pages = json.loads(line)["pages"]
            t0 = now()
            QualityPipeline(work.fresh("c")).run(spark, input_path=pages)
            print(json.dumps({"s": now() - t0}), flush=True)
    finally:
        stop_spark(spark)
        work.cleanup()


def scaling(spark, child: PinnedLevel, pages_dir: str, n_docs: int, cpus: int, work, tracer) -> dict:
    """docs/s at all CPUs vs the pinned 1-CPU level, on the same pages:
    three pairs of alternating runs, each level's figure the median of
    its runs. The child must have been warmed up on these pages."""
    full, one = [], []
    for _ in range(3):
        with tracer.span("scaling.run_ncpu"):
            t0 = now()
            QualityPipeline(work.fresh("s")).run(spark, input_path=pages_dir)
            full.append(now() - t0)
        with tracer.span("scaling.run_1cpu"):
            one.append(child.run(pages_dir))
    dps_n = n_docs / statistics.median(full)
    dps_1 = n_docs / statistics.median(one)
    return {
        "scaling.docs_per_s_1cpu": dps_1,
        "scaling.eff_1toN": dps_n / (cpus * dps_1),
        "scaling.runs_ncpu_s": full,
        "scaling.runs_1cpu_s": one,
    }
