"""The one scoring UDF (stages/score.py): every column a caller's
`outputs` subset returns is bit-identical to the same column from the
full scorer, on the edge rows the return-path rules exist for."""

from __future__ import annotations

import pandas as pd
import pytest

from curator_spark.stages.rules import STAT_COLS
from curator_spark.stages.score import GROUPS, with_scores

ROWS = [
    (0, None),
    (1, ""),
    (2, "  \n\t "),
    (3, "Mail john.doe@example.com or call 555-123-4567, you idiot."),
    (4, "Der Hund läuft über die Straße, während die Katze schläft."),
    (5, "The quick brown fox jumps over the lazy dog near the river."),
]
COLS = {
    "langid": ["lang_pred", "lang_score"],
    "perplexity": ["perplexity"],
    "scrub": ["scrubbed_text"]
    + [f"scrub_counts.{c}" for c in ("emails", "ids", "phones", "toxic")],
    "rules": list(STAT_COLS),
}


def _scored(spark, cfg, outputs) -> pd.DataFrame:
    df = spark.createDataFrame(ROWS, "id int, text string")
    out = with_scores(df, cfg, "text", outputs=outputs)
    added = set(out.columns) - set(df.columns)
    want = {c.split(".")[0] for g in outputs for c in COLS[g]}
    assert added == want
    cols = [c for g in outputs for c in COLS[g]]
    return out.select("id", *cols).orderBy("id").toPandas()


@pytest.fixture(scope="module")
def full(spark, cfg):
    return _scored(spark, cfg, GROUPS)


def test_full_scorer_edge_rows(full):
    null, pii = full.iloc[0], full.iloc[3]
    assert null["lang_pred"] == "und" and null["perplexity"] == 1e9
    assert null["scrubbed_text"] is None and pd.isna(null["emails"])
    assert null["word_count"] == -1 and (null[list(STAT_COLS[1:])] == 0.0).all()
    assert pii["scrubbed_text"] == "Mail <EMAIL> or call <PHONE>, you <TOX>."
    assert (pii[["emails", "phones", "toxic"]] == 1).all()
    # untouched rows come back byte-identical through the coalesce
    assert full.loc[4, "scrubbed_text"] == ROWS[4][1]
    assert full.loc[2, "scrubbed_text"] == ROWS[2][1]


@pytest.mark.parametrize(
    "outputs", [("langid",), ("scrub",), ("rules",), ("langid", "perplexity")]
)
def test_subset_columns_match_full_scorer(spark, cfg, full, outputs):
    sub = _scored(spark, cfg, outputs)
    pd.testing.assert_frame_equal(sub, full[sub.columns], check_exact=True)


def test_outputs_must_be_known_groups(spark, cfg):
    df = spark.createDataFrame(ROWS, "id int, text string")
    for bad in ((), ("langid", "toxicity")):
        with pytest.raises(ValueError):
            with_scores(df, cfg, outputs=bad)
