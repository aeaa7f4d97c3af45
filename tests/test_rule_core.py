"""The Arrow rule stats (functions/rule_core.py, the scorer's `rules`
group) against the two definitions they replace on the pipeline path:
the oracle's Python `_stats_row` and the JVM `ts.all_stats(fast=True)`.
Every value must be equal, not close: the keep/drop labels compare the
stats with thresholds."""

from __future__ import annotations

import random

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from curator_spark.functions import textstats as ts
from curator_spark.functions.rule_core import rule_stats
from curator_spark.oracle.quality_oracle import _stats_row
from curator_spark.stages.rules import STAT_COLS
from curator_spark.stages.score import with_scores

NULL_STATS = (-1, 0.0, 0.0, 0.0, 0.0)

ADVERSARIAL = [
    None,
    "",
    "   ",
    " \t\n\x0b\f\r ",
    "a\x0bthe\fof\rand",
    "the line\r\nthe line\r\nother\r\n",
    "x\n\nx\n   \n x\nx \n\n",
    "  the  \n  the  \nthe",
    "the cat the cat",
    "\u0085the 　the the　",
    "of\x1cthe and",
    "😀 the 😀\n😀 the 😀\n",
    "The the THE tHe the, the. (the)",
    "#$% ^^ & [x] {y} \\ / _ | ~ <> += the",
    "###############",
    "naïve café über the straße",
]

# stopwords in any case, Java \s and the characters it excludes, and
# symbols: every branch of the word, line and stopword definitions
ALPHABET = [
    "the", "The", "THE", "and", "AnD", "of", "x", "word", "the,", "é",
    " ", "  ", "\t", "\n", "\n\n", "\x0b", "\f", "\r", "\r\n",
    " ", "\u0085", "　", "\x1c", "😀", "#", "$", "_", "[", "\\",
]


def _fuzz(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 40)))
        for _ in range(n)
    ]


def _rows(stats: dict) -> list[tuple]:
    return list(zip(*(stats[c].tolist() for c in STAT_COLS)))


@pytest.mark.parametrize(
    "texts", [ADVERSARIAL, _fuzz(20_000, seed=7)], ids=["adversarial", "fuzz"]
)
def test_rule_stats_equal_oracle(texts):
    got = rule_stats(pa.array(texts, pa.large_string()))
    assert list(got) == list(STAT_COLS)
    for t, g in zip(texts, _rows(got)):
        assert g == (NULL_STATS if t is None else _stats_row(t)), repr(t)


def test_rule_stats_empty_batch():
    got = rule_stats(pa.array([], pa.large_string()))
    assert all(len(v) == 0 for v in got.values())


def test_scorer_rules_equal_jvm_stats(spark, cfg):
    """Through the UDF (pandas -> Arrow conversion, NULLs, return
    schema) the `rules` columns equal the native expressions the
    pipeline used before, row for row."""
    texts = ADVERSARIAL + _fuzz(3_000, seed=11)
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(len(texts)), "text": texts}),
        "id long, text string",
    )
    jvm = ts.all_stats(F.col("text"), fast=True)
    want = df.select("id", *(jvm[c].alias(c) for c in STAT_COLS))
    got = with_scores(df, cfg, "text", outputs=("rules",)).select(
        "id", *STAT_COLS
    )
    assert dict(got.dtypes) == dict(want.dtypes)
    w = want.orderBy("id").toPandas()
    g = got.orderBy("id").toPandas()
    pd.testing.assert_frame_equal(g, w, check_exact=True)
