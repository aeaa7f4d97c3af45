"""The scoring stage: langid, perplexity, PII/toxicity scrub and the
Gopher/C4 rule stats in ONE Arrow round-trip per batch.

A UDF's cost is the Arrow transfer of its input column plus the
interpreted compute, so every scored column comes out of one iterator
pandas UDF: chaining one UDF per scorer would plan one ArrowEvalPython
node each and ship the text JVM->Python->JVM once per node. Callers
pick the column groups they need (`outputs`, a subset of `GROUPS`);
the return schema follows that subset, the model groups share one
codepoint-encode pass, and the scrub regexes run only when asked for.
The `rules` group computes the five rule stats from Arrow C++ kernels
over the same batch (functions/rule_core.py), so the pipeline does not
scan the text again with JVM regexes for them. The compute cores are
shared with the oracle (functions/vectorized.py,
functions/scrub_core.py) or value-identical to it (rule_core), so a
column is bit-identical whichever subset produced it.

The model tables are built or loaded once per Python worker and reused
across batches (`SPARK_LANGID_NPZ`, or the same file name under
SparkFiles, switches to a shipped .npz artifact for spark-submit
--files).

Reference analog: the offline processor loads its model once per
worker and scores everything a batch needs in one call
(vllm_offline_request_processor.py:41-53,167-201).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import SparkContext, TaskContext
from pyspark.files import SparkFiles
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from curator_spark.config import QualityConfig
from curator_spark.functions import vectorized as V
from curator_spark.functions.rule_core import rule_stats
from curator_spark.functions.scrub_core import scrub_series
from curator_spark.stages.rules import STAT_COLS

GROUPS = ("langid", "perplexity", "scrub", "rules")
ALL = frozenset(GROUPS)
_MODEL_GROUPS = frozenset({"langid", "perplexity"})
_COUNTS = ("emails", "ids", "phones", "toxic")
_SCHEMA = {
    "langid": "lang_pred string, lang_score double",
    "perplexity": "perplexity double",
    "scrub": "scrubbed_text string, "
    + ", ".join(f"{c} long" for c in _COUNTS),
    "rules": "word_count int, "
    + ", ".join(f"{c} double" for c in STAT_COLS[1:]),
}

# Shipped artifacts, loaded once per worker per path: every task
# resolves the models, and a fresh table per task would pin a new
# ~1 MB entry in the langid transpose cache (keyed on the table
# object) for the life of a reused worker.
_ARTIFACTS: dict[str, tuple[np.ndarray, np.ndarray, tuple[str, ...]]] = {}


def resolve_models(
    langs: tuple[str, ...],
) -> tuple[np.ndarray, tuple[str, ...], np.ndarray]:
    """(langid table, its language order, bigram LM) for this worker."""
    path = os.environ.get("SPARK_LANGID_NPZ", "")
    if not path:
        return V.get_langid_table(langs), langs, V.get_bigram_lm()
    # SparkFiles resolves only inside a task or on a driver with a live
    # SparkContext (elsewhere, e.g. the oracle, its getter fails on an
    # assert): without either, use the path as given
    in_task = TaskContext.get() is not None
    if in_task or SparkContext._active_spark_context is not None:
        cand = SparkFiles.get(os.path.basename(path))
        if os.path.exists(cand):
            path = cand
    if path not in _ARTIFACTS:
        _ARTIFACTS[path] = V.load_artifacts(path)
    table, lm, art_langs = _ARTIFACTS[path]
    return table, art_langs, lm


def _groups(outputs: Iterable[str]) -> frozenset[str]:
    got = frozenset(outputs)
    if not got or got - ALL:
        raise ValueError(
            f"outputs must be a non-empty subset of {GROUPS}: {sorted(got)}"
        )
    return got


def make_score_udf(cfg: QualityConfig, outputs: Iterable[str] = ALL):
    outputs = _groups(outputs)
    langs = cfg.langs
    ret = ", ".join(_SCHEMA[g] for g in GROUPS if g in outputs)

    @pandas_udf(ret)
    def score_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        if outputs & _MODEL_GROUPS:
            table, model_langs, lm = resolve_models(langs)
            lang_arr = np.array(model_langs, dtype=object)
        for texts in it:
            out = {}
            # NULL text: the models score it as "" (lang "und",
            # perplexity 1e9); the scrub columns come back NULL, as
            # regexp functions do in the oracle.
            nulls = texts.isna().values
            if outputs & _MODEL_GROUPS:
                t = texts.fillna("").tolist()
                enc = V.encode_texts(t)
                if "langid" in outputs:
                    pred_idx, conf = V.langid_scores(
                        t, model_langs, table, encoded=enc
                    )
                    out["lang_pred"] = np.where(
                        pred_idx >= 0, lang_arr[np.maximum(pred_idx, 0)], "und"
                    )
                    out["lang_score"] = conf
                if "perplexity" in outputs:
                    out["perplexity"] = V.perplexities(t, lm, encoded=enc)
            if "scrub" in outputs:
                scrubbed, counts = scrub_series(texts)
                # Arrow return-path compression: rows the scrub did not
                # touch (all counts zero; replacements never reintroduce
                # a pattern, so zero counts <=> byte-identical text)
                # come back as NULL and with_scores restores them with a
                # coalesce on the original column. Web text is mostly
                # PII-free, so this removes most of the output text
                # bytes from the Python->JVM transfer.
                unchanged = (counts.sum(axis=1).values == 0) & ~nulls
                out["scrubbed_text"] = scrubbed.mask(unchanged | nulls, None)
                for c in _COUNTS:
                    out[c] = pd.array(
                        np.where(nulls, None, counts[c].values), dtype="Int64"
                    )
            if "rules" in outputs:
                arr = pa.Array.from_pandas(texts, type=pa.large_string())
                out.update(rule_stats(arr))
            yield pd.DataFrame(out)

    return score_udf


def with_scores(
    df: DataFrame,
    cfg: QualityConfig,
    text_col: str = "text",
    outputs: Iterable[str] = ALL,
) -> DataFrame:
    """Add the columns of the requested groups from one Arrow pass:
    langid -> lang_pred, lang_score; perplexity -> perplexity;
    scrub -> scrubbed_text, scrub_counts; rules -> the five STAT_COLS."""
    outputs = _groups(outputs)
    df = df.withColumn("_score", make_score_udf(cfg, outputs)(F.col(text_col)))
    s = F.col("_score")
    cols = {}
    if "langid" in outputs:
        cols["lang_pred"] = s["lang_pred"]
        cols["lang_score"] = s["lang_score"]
    if "perplexity" in outputs:
        cols["perplexity"] = s["perplexity"]
    if "scrub" in outputs:
        # NULL from the UDF means "scrub touched nothing"
        cols["scrubbed_text"] = F.coalesce(s["scrubbed_text"], F.col(text_col))
        cols["scrub_counts"] = F.struct(*(s[c].alias(c) for c in _COUNTS))
    if "rules" in outputs:
        cols.update({c: s[c] for c in STAT_COLS})
    return df.withColumns(cols).drop("_score")
