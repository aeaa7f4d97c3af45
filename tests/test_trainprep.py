"""Semantic properties of the training-set preparation queries
(trainprepq.py) beyond the DuckDB value-hash parity that
test_queries_oracle.py already enforces:

- decontaminate: the flag is exactly "shares a 5-gram with the eval
  split", eval docs never appear, and the flag is non-trivial (synth
  corpus plants near-dups that straddle the split).
- sample_stratified: every language keeps exactly min-class-count
  docs and the selection is deterministic across runs.
- shard_packing: greedy-prefix invariants — shard ids contiguous from
  0 per (lang, bucket); every non-final shard's prefix token sum
  crosses its budget boundary; no shard exceeds budget + max doc.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from curator_spark.functions.textstats import word_ngrams
from curator_spark.queries import trainprepq as tp

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"no testdata at {SF_DIR}"
)


def test_decontaminate_flag_semantics(spark):
    out = tp.q_decontaminate(spark, SF_DIR).toPandas()
    assert (out.doc_id % tp.EVAL_MOD != 0).all()
    n_flagged = int(out.contaminated.sum())
    assert 0 < n_flagged < len(out)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sh = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda w: w != F.lit("")).alias("ws"),
    ).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams("ws", tp.NGRAM))).alias("s"),
    ).toPandas()
    eval_set = set(sh[sh.doc_id % tp.EVAL_MOD == 0].s)
    expect = {
        int(r.doc_id)
        for r in sh.itertuples()
        if r.doc_id % tp.EVAL_MOD != 0 and r.s in eval_set
    }
    got = set(out[out.contaminated].doc_id)
    assert got == expect


def test_sample_stratified_balanced_and_deterministic(spark):
    a = tp.q_sample_stratified(spark, SF_DIR).toPandas()
    b = tp.q_sample_stratified(spark, SF_DIR).toPandas()
    assert sorted(a.doc_id) == sorted(b.doc_id)
    per_lang = a.groupby("lang").size()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    target = docs.groupby("lang").size().min()
    assert (per_lang == target).all()
    assert set(per_lang.index) == set(docs.lang.unique())


def test_downsample_lang_rates_and_row_purity(spark):
    out = tp.q_downsample_lang(spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    n = docs.groupby("lang").size()
    kept = out.groupby("lang").size().reindex(n.index, fill_value=0)
    for lang, cnt in n.items():
        rate = tp.DOWNSAMPLE_RATES.get(lang, 1.0)
        if rate == 1.0:
            assert kept[lang] == cnt  # unlisted languages untouched
        else:
            # binomial 4-sigma envelope around the nominal rate
            import math

            sigma = math.sqrt(cnt * rate * (1 - rate))
            assert abs(kept[lang] - cnt * rate) <= 4 * sigma + 1
    # row purity: membership is a function of the row alone, so the
    # kept set must be the per-row rule applied independently
    import hashlib

    def row_keep(doc_id, lang):
        rate = tp.DOWNSAMPLE_RATES.get(lang, 1.0)
        if rate == 1.0:
            return True
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:8]
        return h < tp._rate_cutoff_hex(rate)

    expect = {
        int(r.doc_id) for r in docs.itertuples() if row_keep(r.doc_id, r.lang)
    }
    assert set(out.doc_id) == expect


def test_shard_packing_invariants(spark):
    out = tp.q_shard_packing(spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    max_doc_tok = docs.text.str.split().str.len().max()
    for (_, _), g in out.groupby(["lang", "bucket"]):
        g = g.sort_values("shard_id")
        assert list(g.shard_id) == list(range(len(g)))
        prefix = 0
        for _, row in g.iterrows():
            prefix += row.n_tokens
            if row.shard_id < len(g) - 1:
                assert prefix >= tp.PACK_BUDGET * (row.shard_id + 1)
            assert row.n_tokens < tp.PACK_BUDGET + max_doc_tok
        assert (g.n_docs > 0).all()
