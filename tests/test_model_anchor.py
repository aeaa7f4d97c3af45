"""Independent anchor for the PINNED golden oracles (ADVICE r2).

The pinned VALUES tables in curator_spark/queries/_pinned.py are
generated by running this repo's own query code, so by themselves the
driver's hash check detects drift-since-pinning, not correctness. This
test breaks that circle: it re-derives langid prediction, confidence
and perplexity for a sample of real fixture docs from the WRITTEN SPEC
(per-row, pure-Python, no shared code with functions/vectorized.py
beyond the corpus word lists that define the model) and asserts
bit-exact agreement with

  1. the vectorized batch core (functions/vectorized.py), and
  2. the pinned oracle rows for those doc_ids (model_scores_pinned and
     quality_full_docs, sf0.001).

If a model bug were introduced and the pins regenerated, (2) would go
red here even though the driver's self-referential hash check stays
green. No Spark session needed — reads the fixture parquet directly.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"
# doc_ids to anchor: a contiguous head run plus spread-out picks so a
# partial re-pin (or a bug affecting only some partitions) can't slip
# past the anchor
SAMPLE = list(range(8)) + [50, 100, 199, 250, 333, 400, 450, 499]

# ---------------------------------------------------------------------------
# Independent restatement of the model spec (keep in sync with the
# DOCUMENTED definition, not the implementation):
#   alphabet: 0=other, 1=space, 2+i = i-th letter (case-folded)
#   langid:   hashed char-trigram profile per language, add-0.5
#             smoothing over 2^14 buckets, f32 log-probs; score = mean
#             per-row log-prob, softmax over langs
#   ppl:      char-bigram English LM, add-0.5 smoothing, f64;
#             ppl = exp(-mean log-prob)
# ---------------------------------------------------------------------------
LETTERS = "abcdefghijklmnopqrstuvwxyzäöüßàâçéèêëîïôùûñáíóúìò'"
K = 2 + len(LETTERS)
TRI_BUCKETS = 1 << 14
HASH_MULT = 2654435761
LANGS = ("en", "de", "fr", "es", "it")


def _char_index() -> dict[str, int]:
    m = {" ": 1}
    for i, ch in enumerate(LETTERS):
        m[ch] = 2 + i
        up = ch.upper()
        if len(up) == 1 and up != ch:
            m[up] = 2 + i
    return m


_CHAR = _char_index()


def naive_encode(text: str) -> list[int]:
    return [_CHAR.get(ch, 0) for ch in text]


def naive_tri_bucket(a: int, b: int, c: int) -> int:
    t = a * K * K + b * K + c
    return ((t * HASH_MULT) % (1 << 64) >> 7) & (TRI_BUCKETS - 1)


def _corpus(lang: str) -> str:
    from curator_spark.models.corpora import WORDS

    return " " + " ".join(WORDS[lang]) + " "


def naive_langid_table() -> list[list[float]]:
    """f32 log-prob rows per language (stored as the exact f64 value of
    each f32, as the scorer reads them)."""
    table = []
    for lang in LANGS:
        codes = naive_encode(_corpus(lang))
        counts = [0] * TRI_BUCKETS
        for i in range(len(codes) - 2):
            counts[naive_tri_bucket(codes[i], codes[i + 1], codes[i + 2])] += 1
        total = sum(counts)
        row = [
            float(np.float32(math.log((c + 0.5) / (total + 0.5 * TRI_BUCKETS))))
            for c in counts
        ]
        table.append(row)
    return table


def naive_bigram_lm() -> list[float]:
    codes = naive_encode(_corpus("en"))
    counts = [0] * (K * K)
    for i in range(len(codes) - 1):
        counts[codes[i] * K + codes[i + 1]] += 1
    total = sum(counts)
    return [
        math.log((c + 0.5) / (total + 0.5 * K * K)) for c in counts
    ]


def naive_score(text: str, table, lm) -> tuple[int, float, float]:
    """(lang_idx, confidence, perplexity) for one row, per the spec."""
    codes = naive_encode(text)
    # langid over trigrams fully inside the row
    n_tri = max(len(codes) - 2, 0)
    if n_tri < 1:
        pred, conf = -1, 0.0
    else:
        means = []
        for li in range(len(LANGS)):
            s = 0.0
            for i in range(n_tri):
                s += table[li][
                    naive_tri_bucket(codes[i], codes[i + 1], codes[i + 2])
                ]
            means.append(s / n_tri)
        mx = max(means)
        ex = [math.exp(m - mx) for m in means]
        conf = max(ex) / _seqsum(ex)
        pred = means.index(mx)
    # perplexity over bigrams fully inside the row
    n_bi = max(len(codes) - 1, 0)
    if n_bi < 1:
        ppl = 1e9
    else:
        s = 0.0
        for i in range(n_bi):
            s += lm[codes[i] * K + codes[i + 1]]
        ppl = math.exp(-s / n_bi)
    return pred, conf, ppl


def _seqsum(xs) -> float:
    s = 0.0
    for x in xs:
        s += x
    return s


def _round_half_up(v: float, scale: int) -> int:
    """Spark's round(double, 0): shortest-repr decimal, HALF_UP."""
    return int(
        Decimal(repr(v * scale)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )


@pytest.fixture(scope="module")
def sample_docs():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pandas()
    tbl = tbl[tbl.doc_id.isin(SAMPLE)].sort_values("doc_id")
    assert len(tbl) == len(SAMPLE)
    return list(zip(tbl.doc_id.tolist(), tbl.text.tolist()))


@pytest.fixture(scope="module")
def naive_results(sample_docs):
    table, lm = naive_langid_table(), naive_bigram_lm()
    return {
        doc_id: naive_score(text, table, lm) for doc_id, text in sample_docs
    }


def test_naive_matches_vectorized_core(sample_docs, naive_results):
    """Spec reimplementation == vectorized batch core.

    Predictions exact; confidences/perplexities to 1e-12 relative —
    numpy's SIMD exp differs from libm's math.exp by <=1 ulp, which is
    the one permitted divergence (far below the micro/milli rounding
    the pinned oracles compare at)."""
    from curator_spark.functions import vectorized as V

    texts = [t for _, t in sample_docs]
    enc = V.encode_texts(texts)
    pred, conf = V.langid_scores(texts, LANGS, encoded=enc)
    ppl = V.perplexities(texts, encoded=enc)
    for j, (doc_id, _) in enumerate(sample_docs):
        n_pred, n_conf, n_ppl = naive_results[doc_id]
        assert pred[j] == n_pred, doc_id
        assert conf[j] == pytest.approx(n_conf, rel=1e-12), doc_id
        assert ppl[j] == pytest.approx(n_ppl, rel=1e-12), doc_id


def test_pinned_model_scores_anchored(naive_results):
    """Pinned model_scores_pinned rows == independently derived values."""
    import duckdb

    from curator_spark.queries._pinned import PINNED

    sql = PINNED["model_scores_pinned"]["sf0.001"]
    rows = duckdb.sql(sql).df()
    rows = rows[rows.doc_id.isin(SAMPLE)].sort_values("doc_id")
    assert len(rows) == len(SAMPLE)
    for _, r in rows.iterrows():
        n_pred, n_conf, _ = naive_results[int(r.doc_id)]
        want_lang = LANGS[n_pred] if n_pred >= 0 else "und"
        assert r.lang_pred == want_lang, r.doc_id
        assert int(r.score_micro) == _round_half_up(n_conf, 10**6), r.doc_id


def test_pinned_quality_full_docs_anchored(naive_results):
    """Pinned quality_full_docs model scalars == independent values."""
    import duckdb

    from curator_spark.queries._pinned import PINNED

    sql = PINNED["quality_full_docs"]["sf0.001"]
    rows = duckdb.sql(sql).df()
    rows = rows[rows.doc_id.isin(SAMPLE)].sort_values("doc_id")
    assert len(rows) == len(SAMPLE)
    for _, r in rows.iterrows():
        n_pred, n_conf, n_ppl = naive_results[int(r.doc_id)]
        want_lang = LANGS[n_pred] if n_pred >= 0 else "und"
        assert r.lang_pred == want_lang, r.doc_id
        assert int(r.score_micro) == _round_half_up(n_conf, 10**6), r.doc_id
        assert int(r.ppl_milli) == _round_half_up(n_ppl, 10**3), r.doc_id


def test_pinned_scrub_md5_anchored(sample_docs):
    """Pinned scrub_md5 == md5 of an independently scrubbed kept text.

    The scrub spec (restated literally here, in application order —
    emails, SSN ids, phones, toxicity lexicon) applied per-row via
    stdlib re.sub; the pipeline applies the same rewrites through a
    pandas str.replace batch path with a candidate prefilter.
    Agreement pins that the batch path equals the plain sequential
    definition, byte-for-byte."""
    import duckdb

    from curator_spark.queries._pinned import PINNED

    spec_rules = (
        (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
        (r"(?:\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b",
         "<PHONE>"),
        (r"(?i)\b(?:idiot|moron|stupid|dumb|jerk|loser)\b", "<TOX>"),
    )
    sql = PINNED["quality_full_docs"]["sf0.001"]
    rows = duckdb.sql(sql).df()
    rows = rows[rows.doc_id.isin(SAMPLE)].sort_values("doc_id")
    texts = dict(sample_docs)
    for _, r in rows.iterrows():
        if int(r.keep) != 1:
            assert r.scrub_md5 is None or (
                isinstance(r.scrub_md5, float) and math.isnan(r.scrub_md5)
            )
            continue
        scrubbed = texts[int(r.doc_id)]
        for pat, repl in spec_rules:
            scrubbed = re.sub(pat, repl, scrubbed)
        assert r.scrub_md5 == hashlib.md5(scrubbed.encode("utf-8")).hexdigest()
