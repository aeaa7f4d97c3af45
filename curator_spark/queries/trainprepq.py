"""Training-set preparation operators over the `documents` table.

Three curation ops every large-scale training-data pipeline runs after
quality filtering (build brief: "the operations a large-scale
training-data pipeline would need"); the reference stops at per-row
scoring (SURVEY §2.8), so these extend it the way its users extend it
downstream:

- `decontaminate` — benchmark decontamination: flag training docs that
  share any 5-word n-gram with a held-out eval set (the classic
  13-gram-overlap rule of GPT-3/PaLM data prep, shortened to 5 because
  the synthetic docs are 10-99 words). Scale shape: the eval set is
  tiny relative to the corpus, so its distinct shingle set is
  BROADCAST and the train-side shingle stream is semi-joined without a
  shuffle — the explode is bounded per row and never materializes.
- `sample_stratified` — deterministic language-balanced downsampling:
  every language keeps exactly min-class-count docs, chosen by md5
  rank (seedless, reproducible, engine-portable — md5 hex strings
  order identically in Spark and DuckDB). The per-lang counts are a
  tiny aggregate cross-joined back (broadcast), NOT a whole-table
  window over (), which would single-task the corpus.
- `shard_packing` — pack docs into fixed token-budget training shards.
  Packing is per (lang, bucket) so parallelism is langs × buckets, not
  langs — a per-lang-only running sum would put an entire language's
  corpus through one window task at 100 TB. Within a group the
  exclusive running token sum divided by the budget assigns shard ids
  deterministically (greedy sequential packing by doc_id order).

Engine-parity notes: shingle construction, md5 ranking, and window
frames are written identically on both sides from shared constants;
counts cast to BIGINT (queries/common.py contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curator_spark.functions.textstats import word_ngrams, words
from curator_spark.functions.topk import salted_partition_rank
from curator_spark.queries.common import spread, sql_words, t

NGRAM = 5          # decontamination shingle width (words)
EVAL_MOD = 29      # doc_id % EVAL_MOD == 0 -> held-out eval split
PACK_BUCKETS = 4   # shard-packing parallelism buckets per language
PACK_BUDGET = 512  # tokens per training shard


# DuckDB twin of F.array_distinct(word_ngrams("ws", NGRAM)) (1-based
# list slicing, inclusive ends).
SQL_SHINGLES = (
    f"CASE WHEN len(ws) >= {NGRAM} THEN list_distinct(list_transform("
    f"range(1, len(ws) - {NGRAM} + 2), "
    f"i -> list_aggregate(ws[i:i+{NGRAM}-1], 'string_agg', ' '))) "
    "ELSE CAST([] AS VARCHAR[]) END"
)

# canonical tokenizer from common.sql_words — see dedupq.SQL_WS_CTE
SQL_WS_CTE = (
    f"SELECT doc_id, lang, {sql_words('text')} AS ws FROM documents"
)


# ---------------------------------------------------------------------------
# decontaminate — eval-overlap flag per training doc.
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # shingle construction is the compute-heavy part (interpreted HOFs);
    # single-file local input coalesces to 1 split, so fan out first
    # (no-op at corpus scale — see spread())
    d = spread(d, spark)
    sh = d.withColumn("ws", words(F.col("text"))).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams("ws", NGRAM))).alias("s"),
    )
    eval_sh = sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("s").distinct()
    train_sh = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = (
        train_sh.join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    train = d.filter(F.col("doc_id") % EVAL_MOD != 0).select("doc_id")
    return train.join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


def q_decontaminate_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`decontaminate` with an 8-BYTE-KEY broadcast prefilter — the
    100 TB-corpus shape of exact decontamination. q_decontaminate
    broadcasts the eval shingle STRINGS — at a realistic benchmark
    suite's ~10^7 distinct shingles × ~30-60 bytes, hundreds of MB
    shipped to and hashed on every executor. Here the broadcast is
    xxhash64(s) longs — 8 bytes per
    shingle, 5–20× narrower — and the corpus shingle stream probes it
    without shuffling, exactly as before. Hashing has no false
    negatives, so recall is exact; the (tiny) candidate hit stream
    then CONFIRMS on the real strings via one ordinary join against
    the eval set — collision-proof, so the output is byte-identical
    to q_decontaminate (same oracle). The confirm exchange carries
    |candidates| + |eval shingles| rows, trivial next to the corpus
    scan; AQE broadcasts it outright when the candidate set is small.
    """
    d = spread(t(spark, sf_dir, "documents"), spark)
    sh = d.withColumn("ws", words(F.col("text"))).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams("ws", NGRAM))).alias("s"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_h = sh.filter(is_eval).select(F.xxhash64("s").alias("h")).distinct()
    cand = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_h), F.xxhash64("s") == F.col("h"), "left_semi")
        .select("doc_id", "s")
    )
    eval_s = sh.filter(is_eval).select("s").distinct()
    hits = (
        cand.join(eval_s, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    train = d.filter(~is_eval).select("doc_id")
    return train.join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


SQL_DECONTAMINATE = f"""
WITH ws AS ({SQL_WS_CTE}),
sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES}) AS s FROM ws
),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_MOD} = 0),
hits AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (s)
  WHERE sh.doc_id % {EVAL_MOD} <> 0
)
SELECT d.doc_id, (hits.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
WHERE d.doc_id % {EVAL_MOD} <> 0
"""


# ---------------------------------------------------------------------------
# decontaminate_fuzzy — NEAR-DUP benchmark decontamination: flag a
# training doc when its word-3gram Jaccard similarity to ANY eval doc
# reaches FUZZY_THRESHOLD (exact-ngram `decontaminate` misses light
# paraphrases/retokenizations; fuzzy overlap is how Llama/Gopher data
# cards describe eval-set decontamination). Scale shape: the eval
# side's exploded shingles are tiny and BROADCAST into the candidate
# join, so the corpus shingle stream never shuffles; the only exchange
# aggregates (train_doc, eval_doc) candidates. Shingle width bounds
# that stream: 3-grams are rare enough that candidates ~= true
# near-dup pairs (measured at sf0.01: 2-grams produce 24,820 candidate
# rows, 3-grams only the handful of genuine near-dups). At corpus
# scale, if the candidate stream still runs hot (boilerplate-heavy
# corpora), the bounded path is MinHash-LSH between corpus and eval
# (dedup_minhash_lsh machinery) or a document-frequency cap on
# shingles; AQE turns the final corpus<-jac join into a broadcast when
# the contaminated set is small.
# ---------------------------------------------------------------------------

FUZZY_NGRAM = 3        # shingle width for fuzzy overlap (docs are 10-99 words)
FUZZY_THRESHOLD = 0.5  # max-Jaccard flag level: bimodal at sf0.01 — true
                       # near-dups sit at ~0.96, background noise < 0.1


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"), spark)
    sh = d.withColumn("ws", words(F.col("text"))).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams("ws", FUZZY_NGRAM))).alias("s"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), "s"
    )
    cand = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_common"))
    )
    jac = (
        cand.join(sizes, "doc_id")
        .join(
            F.broadcast(
                sizes.filter(is_eval)
                .withColumnRenamed("doc_id", "eval_id")
                .withColumnRenamed("n_sh", "n_eval")
            ),
            "eval_id",
        )
        .groupBy("doc_id")
        .agg(
            F.max(
                F.col("n_common")
                / (F.col("n_sh") + F.col("n_eval") - F.col("n_common"))
            ).alias("mj")
        )
    )
    train = d.filter(~is_eval).select("doc_id")
    return train.join(jac, "doc_id", "left").select(
        "doc_id",
        F.round(F.coalesce("mj", F.lit(0.0)), 6).alias("max_jaccard"),
        (F.coalesce("mj", F.lit(0.0)) >= FUZZY_THRESHOLD).alias("contaminated"),
    )


_SQL_FUZZY_SHINGLES = (
    f"CASE WHEN len(ws) >= {FUZZY_NGRAM} THEN list_distinct(list_transform("
    f"range(1, len(ws) - {FUZZY_NGRAM} + 2), "
    f"i -> list_aggregate(ws[i:i+{FUZZY_NGRAM}-1], 'string_agg', ' '))) "
    "ELSE CAST([] AS VARCHAR[]) END"
)

SQL_DECONTAMINATE_FUZZY = f"""
WITH ws AS ({SQL_WS_CTE}),
sh AS (SELECT doc_id, unnest({_SQL_FUZZY_SHINGLES}) AS s FROM ws),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
cand AS (
  SELECT tr.doc_id AS doc_id, ev.doc_id AS eval_id, count(*) AS n_common
  FROM sh tr JOIN sh ev USING (s)
  WHERE tr.doc_id % {EVAL_MOD} <> 0 AND ev.doc_id % {EVAL_MOD} = 0
  GROUP BY 1, 2
),
jac AS (
  SELECT cand.doc_id,
    max(n_common::DOUBLE / (st.n_sh + se.n_sh - n_common)) AS mj
  FROM cand
  JOIN sizes st ON st.doc_id = cand.doc_id
  JOIN sizes se ON se.doc_id = cand.eval_id
  GROUP BY 1
)
SELECT d.doc_id,
  round(coalesce(jac.mj, 0.0), 6) AS max_jaccard,
  coalesce(jac.mj, 0.0) >= {FUZZY_THRESHOLD} AS contaminated
FROM documents d LEFT JOIN jac ON d.doc_id = jac.doc_id
WHERE d.doc_id % {EVAL_MOD} <> 0
"""


# ---------------------------------------------------------------------------
# sample_stratified — md5-ranked language-balanced downsample.
# ---------------------------------------------------------------------------

def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    target = (
        d.groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").alias("target"))
    )
    # exact per-lang md5 rank via the salted two-level scheme
    # (functions/topk.salted_partition_rank): the corpus window
    # partitions by (lang, salt) so a mega-language (English ~ half a
    # web corpus) never lands in one task; per-salt offsets merge the
    # within-salt ranks back to the exact global per-lang rank.
    ranked = salted_partition_rank(
        d, "lang", F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        ranked.join(F.broadcast(target))
        .filter(F.col("rk") <= F.col("target"))
        .select("doc_id", "lang")
    )


SQL_SAMPLE_STRATIFIED = """
WITH ranked AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents
),
target AS (
  SELECT min(cnt) AS target
  FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
)
SELECT doc_id, lang FROM ranked, target WHERE rk <= target
"""


# ---------------------------------------------------------------------------
# downsample_lang — shuffle-free per-language hash-rate downsampling.
#
# The production scale path for language rebalancing (the CCNet-style
# "downsample English" op, and the shuffle-free alternative the
# sample_stratified plan-census row points at): keep a doc iff the
# first 8 hex chars of md5(doc_id) fall below the language's rate
# cutoff. Pure narrow filter — no shuffle, no window, no count pass;
# the sample is a deterministic property of the row alone, so it is
# stable under retries, resume, and repartitioning at any scale.
# Rate precision is 1/2^32; cutoffs are shared Python constants so
# Spark and DuckDB compare identical hex strings lexicographically.
# ---------------------------------------------------------------------------

DOWNSAMPLE_RATES = {"en": 0.25, "zh": 0.5}  # unlisted languages keep 1.0


def _rate_cutoff_hex(rate: float) -> str:
    return format(int(rate * 16**8), "08x")


def q_downsample_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    keep = F.lit(True)
    for lang, rate in DOWNSAMPLE_RATES.items():
        keep = F.when(
            F.col("lang") == lang, h < F.lit(_rate_cutoff_hex(rate))
        ).otherwise(keep)
    return d.filter(keep)


def sql_downsample_lang() -> str:
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN substr(md5(doc_id::VARCHAR), 1, 8)"
        f" < '{_rate_cutoff_hex(rate)}'"
        for lang, rate in DOWNSAMPLE_RATES.items()
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE CASE {arms} ELSE TRUE END
"""


# ---------------------------------------------------------------------------
# shard_packing — fixed-token-budget shard assignment per (lang, bucket).
# ---------------------------------------------------------------------------

def q_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    d = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        F.size(words(F.col("text"))).alias("tok"),
    )
    w = (
        Window.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("tok").over(w), F.lit(0))
    return (
        d.withColumn("shard_id", F.floor(cum_excl / PACK_BUDGET))
        .groupBy("lang", "bucket", "shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("n_tokens"),
        )
    )


SQL_SHARD_PACKING = f"""
WITH base AS (
  SELECT doc_id, lang, doc_id % {PACK_BUCKETS} AS bucket,
    len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\v\\f\\r]+'), x -> x <> '')) AS tok
  FROM documents
),
packed AS (
  SELECT lang, bucket,
    floor(coalesce(sum(tok) OVER (PARTITION BY lang, bucket ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / {PACK_BUDGET}) AS shard_id,
    tok
  FROM base
)
SELECT lang, bucket, shard_id::BIGINT AS shard_id,
  count(*)::BIGINT AS n_docs, sum(tok)::BIGINT AS n_tokens
FROM packed GROUP BY lang, bucket, shard_id
"""


# ---------------------------------------------------------------------------
# curation_e2e — the whole training-data curation flow in ONE plan:
# heuristic quality rules -> exact-dedup canonical selection ->
# eval-split exclusion + n-gram decontamination -> boilerplate-fraction
# threshold, with a first-failing-stage label per doc. Each stage is a
# reused registry operator composed into one DAG. Note each join
# branch re-scans the source (Spark does not materialize shared
# subplans across branches) — the scans are column-pruned to what each
# stage needs; at corpus scale you would persist the projected
# (doc_id, text) base once (or run stages against the same cached
# snapshot) and the composition is unchanged.
# ---------------------------------------------------------------------------

BP_MAX_FRAC = 0.5  # drop docs whose boilerplate fraction exceeds this


def q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curator_spark.queries.dedupq import q_boilerplate_segments
    from curator_spark.queries.textq import q_quality_keepdrop

    rules = q_quality_keepdrop(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    # min-over-window, not groupBy + join-back: ONE exchange of the
    # corpus-sized (doc_id, h) projection instead of two plus a join —
    # same shape as the oracle's `min(doc_id) OVER (PARTITION BY
    # md5(text))`. Dup groups are tiny, so no hot-partition risk.
    w = Window.partitionBy("h")
    canonical = (
        d.select("doc_id", h.alias("h"))
        .select(
            "doc_id",
            (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
        )
    )
    dec = q_decontaminate(spark, sf_dir)  # train-split docs only
    bp = q_boilerplate_segments(spark, sf_dir).select(
        "doc_id", "boilerplate_frac"
    )
    out = (
        rules.join(canonical, "doc_id")
        .join(dec, "doc_id", "left")
        .join(bp, "doc_id", "left")
    )
    stage = (
        F.when(~F.col("rule_keep"), F.lit("rules"))
        .when(~F.col("is_canonical"), F.lit("duplicate"))
        .when(F.col("doc_id") % EVAL_MOD == 0, F.lit("eval_split"))
        .when(F.coalesce(F.col("contaminated"), F.lit(False)), F.lit("contaminated"))
        .when(
            F.coalesce(F.col("boilerplate_frac"), F.lit(0.0)) > BP_MAX_FRAC,
            F.lit("boilerplate"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return out.select(
        "doc_id", stage.alias("drop_stage"), stage.isNull().alias("final_keep")
    )


def sql_curation_e2e() -> str:
    from curator_spark.queries.dedupq import SQL_BOILERPLATE
    from curator_spark.queries.textq import sql_quality_keepdrop

    return f"""
WITH rules AS (
  SELECT doc_id, keep AS rule_keep FROM ({sql_quality_keepdrop()})
),
canon AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM documents
),
dec AS (
  SELECT * FROM ({SQL_DECONTAMINATE})
),
bp AS (
  SELECT doc_id, boilerplate_frac FROM ({SQL_BOILERPLATE})
),
staged AS (
  SELECT r.doc_id,
    CASE WHEN NOT r.rule_keep THEN 'rules'
         WHEN NOT c.is_canonical THEN 'duplicate'
         WHEN r.doc_id % {EVAL_MOD} = 0 THEN 'eval_split'
         WHEN coalesce(dec.contaminated, FALSE) THEN 'contaminated'
         WHEN coalesce(bp.boilerplate_frac, 0.0) > {BP_MAX_FRAC}
           THEN 'boilerplate'
         END AS drop_stage
  FROM rules r
  JOIN canon c USING (doc_id)
  LEFT JOIN dec USING (doc_id)
  LEFT JOIN bp USING (doc_id)
)
SELECT doc_id, drop_stage, drop_stage IS NULL AS final_keep FROM staged
"""


QUERIES = {
    "decontaminate": q_decontaminate,
    "decontaminate_hashed": q_decontaminate_hashed,
    "decontaminate_fuzzy": q_decontaminate_fuzzy,
    "curation_e2e": q_curation_e2e,
    "sample_stratified": q_sample_stratified,
    "downsample_lang": q_downsample_lang,
    "shard_packing": q_shard_packing,
}

ORACLES = {
    "decontaminate": SQL_DECONTAMINATE,
    # identical output by construction (hash prefilter + exact confirm)
    "decontaminate_hashed": SQL_DECONTAMINATE,
    "decontaminate_fuzzy": SQL_DECONTAMINATE_FUZZY,
    "curation_e2e": sql_curation_e2e(),
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "downsample_lang": sql_downsample_lang(),
    "shard_packing": SQL_SHARD_PACKING,
}
