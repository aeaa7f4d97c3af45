"""UDF-scored pipeline queries.

The model-scored queries run the Arrow-vectorized scoring stage
(stages/score.py), which has no faithful ANSI-SQL restatement: the
driver hash-checks them against pinned golden values or records a
weaker rows-only check; full value-level verification lives in tests/
against the shared-core Python oracle (FIXTURES.md pattern;
reference golden-hash tests tests/integrations/test_all.py:24-25,58-61).
`dedup_simhash` IS fully SQL-expressible (md5 is shared by both
engines) and carries a bit-exact DuckDB oracle below.

`quality_full_docs` is the flagship: the complete
langid + perplexity + heuristic-rules + scrub + decision pipeline
(north_rule) applied to the `documents` table.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from curator_spark.config import DEFAULT_CONFIG as CFG
from curator_spark.pipeline.run import quality_plan
from curator_spark.queries.common import spread, t
from curator_spark.stages.score import with_scores


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3): per predicted language, docs are bucketed
    by LM perplexity into terciles — `head` (lowest-ppl third) is the
    high-quality slice a pretraining mix samples preferentially.

    Scale shape: the exact tercile thresholds ride the scored stream
    as unbounded-frame window aggregates over lang_pred, so the model
    UDF runs ONCE and the data shuffles once (a separate
    groupBy-thresholds branch re-ran the whole Arrow scoring stage —
    Spark does not share subplans across join branches — measured 7.3s
    vs 3.4s at sf0.1); langid + perplexity score in ONE Arrow node
    (with_scores) so the text crosses the Python boundary once, not
    twice. A mega-language single-tasks its window
    partition at corpus scale; CCNet's own answer applies there too:
    compute thresholds from a sample (or percentile_approx) and
    broadcast them, leaving the corpus stream shuffle-free.
    Rows-only by design (model UDF); golden parity vs the shared-core
    Python oracle in tests/test_mixq.py (same float64 scoring path,
    same linear-interpolation percentile formula)."""
    from pyspark.sql import Window

    d = spread(t(spark, sf_dir, "documents"), spark)
    d = with_scores(d, CFG, "text", outputs=("langid", "perplexity")).select(
        "doc_id", "lang_pred", "perplexity"
    )
    by_lang = Window.partitionBy("lang_pred")
    q1 = F.expr("percentile(perplexity, 1.0D/3.0D)").over(by_lang)
    q2 = F.expr("percentile(perplexity, 2.0D/3.0D)").over(by_lang)
    bucket = (
        F.when(F.col("perplexity") <= q1, F.lit("head"))
        .when(F.col("perplexity") <= q2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    # ppl_milli (= round(perplexity*1000) as BIGINT) instead of a float
    # column: integer outputs hash identically across engines, which
    # lets the driver verify this model query against the PINNED
    # golden oracle (see _pinned.py) with no float-repr fragility.
    return d.select(
        "doc_id",
        "lang_pred",
        F.round(F.col("perplexity") * 1000, 0).cast("long").alias("ppl_milli"),
        bucket.alias("ppl_bucket"),
    )


def q_model_scores_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level driver verification for the M2 vectorized model
    stages (VERDICT r1 item 9): PER-DOC langid prediction and integer
    (micro-rounded) langid score, hash-verified against a pinned
    golden oracle (a VALUES table in queries/_pinned.py, regenerated
    by `python tools/pin_oracles.py` whenever the model code or the
    driver fixtures change). Integer outputs make the hash bit-stable
    under any partitioning / engine float-repr. Together with
    ccnet_ppl_buckets' pinned per-doc ppl_milli this gives both model
    stages per-row driver verification. The pin is self-referential
    (generated by this code), so it proves drift-freedom since
    pinning; correctness itself is anchored by
    tests/test_model_anchor.py, an independent per-row
    reimplementation that must match a sample of the pinned rows."""
    d = spread(t(spark, sf_dir, "documents"), spark)
    d = with_scores(d, CFG, "text", outputs=("langid",))
    return d.select(
        "doc_id",
        "lang_pred",
        F.round(F.col("lang_score") * 1e6, 0).cast("long").alias("score_micro"),
    )


def q_quality_full_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-payload flagship variant (scrubbed_text as the actual
    string) — what `__spark_entry__.entry()` returns and what a user
    consumes downstream. Rows-only at the driver gate (free-text
    float/string payload); the MEASURED twin `quality_full_docs`
    below re-emits the same pipeline as pinned-verifiable scalars."""
    d = t(spark, sf_dir, "documents").withColumnRenamed("lang", "lang_claim")
    # single-file local input -> fan out so the Arrow UDF stages use all cores
    d = spread(d, spark)
    scored = quality_plan(d, CFG, text_col="text")
    return scored.select(
        "doc_id",
        "lang_pred",
        F.round("lang_score", 6).alias("lang_score"),
        F.round("perplexity", 6).alias("perplexity"),
        "keep",
        "drop_reason",
        "scrubbed_text",
    )


def q_quality_full_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline (langid + perplexity + rules + scrub +
    decision) re-emitted as pure scalars so the driver can hash-verify
    it against a PINNED golden oracle (VERDICT r2 ask #2): integer
    micro/milli-rounded model scores, keep as int, and md5 of the
    scrubbed text (pins the exact output bytes per doc — the north
    rule's "byte-identical scrubbed text" check, without embedding
    free text in the VALUES table). Dropped rows emit NULL scrub_md5
    (no scrubbed payload is produced for them)."""
    d = t(spark, sf_dir, "documents").withColumnRenamed("lang", "lang_claim")
    d = spread(d, spark)
    scored = quality_plan(d, CFG, text_col="text")
    return scored.select(
        "doc_id",
        "lang_pred",
        F.round(F.col("lang_score") * 1e6, 0).cast("long").alias("score_micro"),
        F.round(F.col("perplexity") * 1000, 0).cast("long").alias("ppl_milli"),
        F.col("keep").cast("int").alias("keep"),
        "drop_reason",
        F.md5("scrubbed_text").alias("scrub_md5"),
    )


# ---------------------------------------------------------------------------
# simhash — 64-bit SimHash over word features, Arrow-vectorized.
# ---------------------------------------------------------------------------

def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Batch-vectorized 64-bit SimHash (VERDICT r2 ask #3 — no per-row
    Python loop). Per Arrow batch: tokenize ALL rows with pyarrow's C
    regex split (same "[ \\t\\n\\r\\f\\v]+" pattern as the repo-wide
    word definition — functions/textstats.words and SQL_WORDS — so
    Python, Spark and the DuckDB oracle agree by construction),
    dictionary-encode the flattened words, reduce to per-row DISTINCT
    (row, code) pairs with one np.unique over a combined key, md5 each
    batch-unique word ONCE (web docs share most of their vocabulary —
    measured 3,750x fewer md5 calls on the sf0.1 corpus), unpack its
    64 feature bits into a ±1 vote row, then scatter-add votes to
    (row, bit) with np.add.at. The only Python-level iteration is one
    md5 call per unique word — the hash function itself. Bit-exact
    with the per-row definition (same tokenizer, same md5 prefix, same
    sign rule), pinned by the DuckDB oracle below and
    tests/test_simhash_vectorized.py. Measured on 10k sf0.1 docs per
    core (warm): per-row loop 2.8k docs/s → unique-word md5 3.8k →
    this all-C tokenize + segment-sum path ~30k."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    # large_string: the flattened token buffer is BIGGER than the input
    # text, so a batch whose concatenated text nears 2 GiB would
    # overflow 32-bit string offsets mid-split (ArrowInvalid).
    # split_pattern_regex and dictionary_encode both support large
    # types, so 64-bit offsets cost nothing here.
    arr = pa.array(texts.fillna(""), type=pa.large_string())
    lists = pc.split_pattern_regex(arr, pattern="[ \t\n\r\f\v]+")
    flat = pc.list_flatten(lists)
    parent = pc.list_parent_indices(lists)
    keep = pc.not_equal(flat, "")
    flat = pc.filter(flat, keep)
    parent = pc.filter(parent, keep)
    if len(flat) == 0:
        return pd.Series(out)
    dic = pc.dictionary_encode(flat)
    codes = dic.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = dic.dictionary.to_pylist()
    all_rows = parent.to_numpy(zero_copy_only=False).astype(np.int64)
    # per-row DISTINCT (row, word) pairs via one combined-key unique
    key = np.unique(all_rows * len(uniq) + codes)
    rows = key // len(uniq)
    inv = key % len(uniq)
    # batch-global unique words: md5 each ONCE
    md5 = hashlib.md5
    hashes = np.fromiter(
        (
            int.from_bytes(md5(w.encode("utf-8")).digest()[:8], "big")
            for w in uniq
        ),
        dtype=np.uint64,
        count=len(uniq),
    )
    # (n_uniq, 64) bit matrix: bit b of hash h
    bits = (
        (hashes[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
        & np.uint64(1)
    ).astype(np.int64)
    # Vote sign per (row, bit): sum of ±1 votes = 2*ones - n_words, so
    # sign ⟺ 2*ones > n_words. The (row, code) pairs are row-sorted
    # (np.unique on the combined key), so `ones` is one buffered
    # segment-sum (np.add.reduceat) — an unbuffered np.add.at scatter
    # here measured 1.9x slower than the whole rest of the batch.
    present, starts = np.unique(rows, return_index=True)
    ones = np.add.reduceat(bits[inv], starts, axis=0)
    n_words = np.diff(np.append(starts, len(rows)))
    bitsign = (2 * ones) > n_words[:, None]
    # fold 64 sign bits into a two's-complement BIGINT
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    vals = (bitsign.astype(np.uint64) * weights[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    # zero-word rows keep simhash 0 (no votes -> all signs false)
    out[present] = vals.astype(np.int64)
    return pd.Series(out)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("long")
    def simhash_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            yield _simhash_batch(texts)

    d = spread(t(spark, sf_dir, "documents"), spark)
    return d.select("doc_id", simhash_udf("text").alias("simhash"))


def q_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Student–teacher cascade over the model decision
    (stages/cascade.py): a logistic student fitted on a deterministic
    teacher-labeled sample scores the corpus through an INLINED native
    sigmoid; only the sample plus the student's uncertain band pays
    the Arrow teacher. Rows-only at the gate (training is iterative,
    not SQL-expressible); fidelity/cost/determinism invariants are
    pinned in tests/test_cascade.py."""
    from curator_spark.stages.cascade import cascade_quality

    d = spread(
        t(spark, sf_dir, "documents").withColumnRenamed("lang", "lang_claim"),
        spark,
    )
    return cascade_quality(d, CFG)


QUERIES = {
    "model_scores_pinned": q_model_scores_pinned,
    "ccnet_ppl_buckets": q_ccnet_ppl_buckets,
    "quality_full_docs": q_quality_full_docs,
    "quality_full_text": q_quality_full_text,
    "quality_cascade": q_quality_cascade,
    "dedup_simhash": q_dedup_simhash,
}

# quality_full_text: rows-only by design (model UDF with a free-text
# payload).
# model_scores_pinned / ccnet_ppl_buckets / quality_full_docs:
# hash-verified against PINNED
# golden VALUES oracles computed once from this repo's own model code
# on the driver's fixed sf-dirs (tools/pin_oracles.py) — the reference's
# golden-fixture strategy (SURVEY §5.1) applied at the driver gate.
# dedup_simhash: bit-exact SQL restatement — per distinct word, the
# first 8 md5 bytes big-endian are the 64-bit feature hash (identical
# hex in both engines); per bit, the +1/-1 vote sum's sign sets the
# bit; bit 63 is folded in as two's-complement so the BIGINT sum never
# overflows.
ORACLES: dict[str, str] = {
    "dedup_simhash": r"""
WITH words AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[ \t\n\v\f\r]+'),
                                  x -> x <> '')) AS w
        FROM documents)
),
bits AS (
  SELECT h.doc_id, b.b,
         CASE WHEN SUM(CASE WHEN (h.h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN 1 ELSE 0 END AS bit
  FROM (SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h
        FROM words) h
  CROSS JOIN (SELECT unnest(range(64)) AS b) b
  GROUP BY h.doc_id, b.b
),
per_doc AS (
  SELECT doc_id,
         (SUM(CASE WHEN b < 63 THEN bit * (1::BIGINT << b) ELSE 0 END)
          + CASE WHEN MAX(CASE WHEN b = 63 THEN bit ELSE 0 END) = 1
                 THEN -9223372036854775808 ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
)
-- zero-word docs have no feature votes: simhash 0 (matches the UDF)
SELECT d.doc_id, COALESCE(p.simhash, 0) AS simhash
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
}

# Pinned golden oracles (generated by tools/pin_oracles.py). Keyed by
# sf-dir basename; the driver's contract runs at sf0.01, so that
# variant is exported through ORACLES. The in-repo pytest gate (which
# runs at sf0.001) resolves its variant via oracle/compare.py.
try:
    from curator_spark.queries._pinned import PINNED
except ImportError:  # pragma: no cover - before first generation
    PINNED = {}

for _name, _by_sf in PINNED.items():
    if "sf0.01" in _by_sf:
        ORACLES[_name] = _by_sf["sf0.01"]
