"""Heuristic quality rules (Gopher/C4 style).

`with_rule_flags` turns the five `STAT_COLS` into boolean
`fail_rule_*` columns with native comparisons. The pipeline
(`quality_plan`) takes the stats themselves from the scoring UDF's
`rules` group (stages/score.py, functions/rule_core.py), which reads
the text batch the models already receive. `with_rule_stats` is the
JVM-side form of the same stats (split/size/filter/array_distinct/
length arithmetic inside whole-stage codegen); it stays for the
cascade student's Python-free features (stages/cascade.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from curator_spark.config import QualityConfig
from curator_spark.functions import textstats as ts

STAT_COLS = (
    "word_count",
    "mean_word_length",
    "symbol_ratio",
    "repeated_line_fraction",
    "stopword_density",
)


def with_rule_stats(
    df: DataFrame, text_col: str = "text", fast: bool = True
) -> DataFrame:
    """Adds the five stat columns, computing the word count ONCE as a
    materialized column that the three ratio stats reference.
    Catalyst does not collapse the two Projects because the alias is
    consumed multiple times, so the word count is evaluated once per
    row instead of four times (measured 5.3 -> 4.9 s for the full
    rules stage on the 960k-page bench corpus, back when word_count
    was a split+filter array build; it is now a single regexp_count
    pass — see ts.word_count — and sharing it still saves the three
    re-evaluations). Values are identical to ts.all_stats."""
    t = F.col(text_col)
    df = df.withColumn("word_count", ts.word_count(t))
    # the line array is consumed twice (count + distinct count) and
    # interpreted HOF/array exprs are not CSE'd within a projection —
    # materializing it once measured 1.80 -> 1.42 s for the whole
    # rules stage over the 320k-page bench corpus; same values
    df = df.withColumn("_ls", ts.lines(t))
    wc = F.col("word_count")
    n_lines = F.size(F.col("_ls"))
    hits = ts.stopword_hits_fast(t) if fast else ts.stopword_hits(t)
    zero = F.lit(0.0)
    return (
        df.withColumn(
            "mean_word_length",
            F.when(wc > 0, ts.non_ws_chars(t) / wc).otherwise(zero),
        )
        .withColumn(
            "symbol_ratio", F.when(wc > 0, ts.symbol_count(t) / wc).otherwise(zero)
        )
        .withColumn(
            "repeated_line_fraction",
            F.when(
                n_lines > 0,
                (n_lines - F.size(F.array_distinct(F.col("_ls")))) / n_lines,
            ).otherwise(zero),
        )
        .withColumn(
            "stopword_density", F.when(wc > 0, hits / wc).otherwise(zero)
        )
        .drop("_ls")
    )


def with_rule_flags(df: DataFrame, cfg: QualityConfig) -> DataFrame:
    """Adds fail_rule_* booleans; expects stat columns present."""
    c = F.col
    return (
        df.withColumn(
            "fail_rule_word_count",
            (c("word_count") < cfg.min_words) | (c("word_count") > cfg.max_words),
        )
        .withColumn(
            "fail_rule_mean_word_length",
            (c("mean_word_length") < cfg.min_mean_word_length)
            | (c("mean_word_length") > cfg.max_mean_word_length),
        )
        .withColumn(
            "fail_rule_symbol_ratio", c("symbol_ratio") > cfg.max_symbol_to_word_ratio
        )
        .withColumn(
            "fail_rule_repeated_lines",
            c("repeated_line_fraction") > cfg.max_repeated_line_fraction,
        )
        .withColumn(
            "fail_rule_stopword_density",
            c("stopword_density") < cfg.min_stopword_density,
        )
    )
