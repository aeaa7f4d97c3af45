"""Property-based tests (hypothesis) for the scoring cores.

The load-bearing invariant at cluster scale is PARTITIONING
INDEPENDENCE: every per-row score must be a pure function of that row,
bit-identical no matter how rows are grouped into Arrow batches or
Spark partitions (SURVEY §7.3 "determinism under parallelism"). These
properties pin it directly on the numpy cores, where a whole-batch
cumsum or shared accumulator would silently break it.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from curator_spark.config import QualityConfig
from curator_spark.functions import vectorized as V
from curator_spark.functions.scrub_core import scrub_series
from curator_spark.stages.score import resolve_models

CFG = QualityConfig()
TABLE, LANGS, LM = resolve_models(CFG.langs)

texts_strategy = st.lists(
    st.text(max_size=200), min_size=1, max_size=12
)


@settings(max_examples=150, deadline=None)
@given(texts=texts_strategy, split=st.integers(min_value=0, max_value=12))
def test_model_scores_composition_independent(texts, split):
    """The model scores of A + B must equal those of A ++ those of B
    bit-for-bit — no cross-row leakage through batch composition.
    Scored as the UDF scores a batch: one shared encode pass."""
    split = min(split, len(texts))

    def scores(batch):
        enc = V.encode_texts(batch)
        pred, conf = V.langid_scores(batch, LANGS, TABLE, encoded=enc)
        return pred, conf, V.perplexities(batch, LM, encoded=enc)

    p_all, c_all, ppl_all = scores(texts)
    pa, ca, ppla = scores(texts[:split])
    pb, cb, pplb = scores(texts[split:])
    assert (p_all == np.concatenate([pa, pb])).all()
    assert (c_all == np.concatenate([ca, cb])).all()
    assert (ppl_all == np.concatenate([ppla, pplb])).all()


@settings(max_examples=100, deadline=None)
@given(texts=texts_strategy, split=st.integers(min_value=0, max_value=12))
def test_scrub_batch_composition_independent(texts, split):
    import pandas as pd

    split = min(split, len(texts))
    s_all, n_all = scrub_series(pd.Series(texts))
    s_a, n_a = scrub_series(pd.Series(texts[:split]))
    s_b, n_b = scrub_series(pd.Series(texts[split:]))
    assert list(s_all) == list(s_a) + list(s_b)
    for col in n_all.columns:
        assert list(n_all[col]) == list(n_a[col]) + list(n_b[col])


@settings(max_examples=200, deadline=None)
@given(text=st.text(max_size=300))
def test_encode_matches_naive_char_map(text):
    """The dense-LUT encoder must agree with the per-char definition:
    space->1, known letters (case-folded)->their slot, everything
    else->0."""
    lut = V._CP_LUT
    codes, offsets = V.encode_texts([text])
    assert offsets[-1] == len(text)
    expected = [
        int(lut[min(ord(ch), V._LUT_SIZE)]) for ch in text
    ]
    assert codes.tolist() == expected


@settings(max_examples=100, deadline=None)
@given(text=st.text(alphabet=st.characters(), max_size=120))
def test_scrub_preserves_non_matching_text(text):
    """Scrubbing must be byte-identical on text containing none of the
    scrub targets (email/id/phone/toxic) — the byte-stability
    invariant behind 'byte-identical scrubbed text per url'."""
    import pandas as pd

    out, counts = scrub_series(pd.Series([text]))
    if int(counts.iloc[0].sum()) == 0:
        assert out.iloc[0] == text
