"""Data-mixing operators over the `documents` table — the selection /
rebalancing layer a training-data pipeline runs AFTER quality filtering
and dedup (build brief: "operations a large-scale training-data
pipeline would need"). The reference stops at per-row scoring
(SURVEY §2.8); these are the published downstream selection ops:

- `dsir_importance` — Data Selection via Importance Resampling (Xie et
  al. 2023, arXiv:2302.03169): score every raw-web doc by how much it
  looks like a trusted target corpus, using hashed word-feature bucket
  distributions. log w(x) = sum_b count_b(x) * (ln p_target[b] -
  ln p_raw[b]) with add-1 smoothing over B hashed buckets. Scale
  shape: the bucket log-ratio table is B rows (constant) and is
  BROADCAST; the corpus stream aggregates (doc, bucket) with map-side
  partial combine — one data shuffle keyed by (doc_id, bucket), no
  global structure. Bucket key = md5-hex prefix of the word (string),
  identical in Spark and DuckDB, so no engine-specific integer hashing.
- `domain_quota` — at most Q docs per source/domain (the per-domain
  cap of CC pipelines that stops a single crawler-friendly domain from
  dominating the mix). Two-phase at scale: a shuffle-free hash-rate
  prefilter (keep h < cutoff where cutoff oversamples the quota by
  QUOTA_OVERSAMPLE) bounds each domain's survivor pool to ~O(Q), then
  the exact md5-rank window runs over survivors only — the window
  never sees a mega-domain's full row stream. Deterministic: both
  phases are pure functions of (doc_id, per-source count).
- `temperature_rebalance` — multilingual temperature sampling (XLM /
  mBERT style): language l keeps target_l = min(floor(T * q_l), c_l)
  docs where q_l = c_l^alpha / sum_m c_m^alpha (alpha=0.5 flattens the
  language skew), T = floor(BUDGET_FRAC * N). sqrt is IEEE-754
  correctly rounded in both engines, so targets agree bit-exactly.
  Selection is the md5-rank stratified draw (same shape as
  sample_stratified; `downsample_lang` documents the shuffle-free
  rate-based scale path).

Engine-parity notes (queries/common.py contract): counts BIGINT both
sides; multi-accumulation floats rounded to 6 decimals both sides; the
DSIR `selected` flag derives from the ROUNDED weight so both engines
compare the same 6-decimal value; float->int conversions go through
floor() before CAST (DuckDB CAST rounds, Spark truncates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curator_spark.functions.textstats import words
from curator_spark.functions.topk import mark_top_frac, salted_partition_rank
from curator_spark.queries.common import spread, sql_words, t

# DSIR: hashed-feature bucket key = first DSIR_HEX chars of md5(word).
DSIR_HEX = 2                      # 16^2 = 256 buckets
DSIR_BUCKETS = 16 ** DSIR_HEX
DSIR_TARGET_SOURCES = ("src0", "src1")  # the trusted "target" corpus

DSIR_KEEP_FRAC = 0.2              # select the top 20% by weight

QUOTA_PER_SOURCE = 10   # domain quota Q
QUOTA_OVERSAMPLE = 3    # prefilter keeps ~OVERSAMPLE*Q per source

TEMP_BUDGET_FRAC = 0.5  # temperature sampling: total budget T = frac*N


# ---------------------------------------------------------------------------
# dsir_importance — hashed n-gram importance weights vs a target corpus.
# ---------------------------------------------------------------------------

def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(t(spark, sf_dir, "documents"), spark)
    is_t = F.col("source").isin(*DSIR_TARGET_SOURCES)

    def buckets(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", F.explode(words(F.col("text"))).alias("w")
        ).select("doc_id", F.substring(F.md5("w"), 1, DSIR_HEX).alias("b"))

    # ONE explode+shuffle over the raw corpus: the per-doc bucket
    # counts; the raw bucket distribution derives from it (identical
    # subtree -> ReuseExchange dedupes the shuffle, verified in the
    # plan), so the big text column is read and exploded exactly once.
    # The target side scans only the target sources (filter pushed to
    # the scan) — tiny relative to the corpus by construction.
    dc = buckets(d.filter(~is_t)).groupBy("doc_id", "b").agg(
        F.count("*").alias("c")
    )
    # totals ride as broadcast scalars over the <=B-row tables (no
    # window anywhere in this plan — the query's census row asserts
    # Window-free); totals attach from their own aggregates so nt
    # counts target buckets absent from the raw corpus too
    cr = dc.groupBy("b").agg(F.sum("c").alias("cr"))
    nr = cr.agg(F.sum("cr").alias("nr"))
    ct = buckets(d.filter(is_t)).groupBy("b").agg(F.count("*").alias("ct"))
    nt = ct.agg(F.sum("ct").alias("nt"))
    # buckets absent from the raw corpus can't appear in any scored
    # doc, so a left join from the raw distribution suffices; nt/nr are
    # broadcast scalars so target-only buckets still count toward nt
    lr = cr.join(ct, "b", "left").join(F.broadcast(nt)).join(
        F.broadcast(nr)
    ).select(
        "b",
        (
            F.log(
                (F.coalesce("ct", F.lit(0)) + 1.0)
                / (F.col("nt") + DSIR_BUCKETS)
            )
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + DSIR_BUCKETS))
        ).alias("logratio"),
    )
    w = (
        dc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("logratio")).alias("logw"))
    )
    raw = d.filter(~is_t).select("doc_id")
    lw = F.round(F.coalesce("logw", F.lit(0.0)), 6)
    scored = raw.join(w, "doc_id", "left").select(
        "doc_id", lw.alias("dsir_logw")
    )
    # DSIR resamples the TOP-K by weight (not a fixed threshold — the
    # add-1 smoothing asymmetry between the small target and the large
    # raw corpus shifts all weights by a constant, so 0 is arbitrary).
    # Selection semantics = rank <= floor(frac*n) over (weight DESC,
    # doc_id ASC) on the ROUNDED weight — the DuckDB oracle states it
    # as that rank window. The PLAN, however, is threshold-style
    # (functions/topk.py): a quantile sketch pins an approximate pivot,
    # exact counts + bounded boundary probes resolve the exact n_keep-th
    # element, and `selected` becomes a narrow shuffle-free filter — no
    # unpartitioned window, so nothing single-tasks at corpus scale.
    return mark_top_frac(scored, "dsir_logw", "doc_id", DSIR_KEEP_FRAC)


def sql_dsir_importance() -> str:
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return f"""
WITH wb AS (
  SELECT doc_id, source IN ({tgt}) AS is_t,
         substr(md5(w), 1, {DSIR_HEX}) AS b
  FROM (SELECT doc_id, source, unnest({sql_words()}) AS w FROM documents)
),
bc AS (
  SELECT b,
    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
    sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS cr
  FROM wb GROUP BY 1
),
tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
lr AS (
  SELECT b, ln((ct + 1.0) / (nt + {DSIR_BUCKETS}))
           - ln((cr + 1.0) / (nr + {DSIR_BUCKETS})) AS logratio
  FROM bc, tot
),
dc AS (
  SELECT doc_id, b, count(*) AS c FROM wb WHERE NOT is_t GROUP BY 1, 2
),
w AS (
  SELECT doc_id, sum(c * logratio) AS logw
  FROM dc JOIN lr USING (b) GROUP BY 1
),
scored AS (
  SELECT d.doc_id, round(coalesce(w.logw, 0.0), 6) AS dsir_logw
  FROM documents d LEFT JOIN w USING (doc_id)
  WHERE d.source NOT IN ({tgt})
)
SELECT doc_id, dsir_logw,
  row_number() OVER (ORDER BY dsir_logw DESC, doc_id)
    <= floor({DSIR_KEEP_FRAC} * count(*) OVER ()) AS selected
FROM scored
"""


# ---------------------------------------------------------------------------
# domain_quota — at most Q docs per source, md5-preferred, two-phase.
# ---------------------------------------------------------------------------

def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    cnt = d.groupBy("source").agg(F.count("*").alias("cnt"))
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    # prefilter cutoff: keep h < hex(floor(rate * 2^32)); saturated
    # sources (cnt <= OVERSAMPLE*Q) skip the filter entirely so the
    # 9-hex-digit overflow string never participates in a compare
    rate = F.lit(QUOTA_OVERSAMPLE * QUOTA_PER_SOURCE) / F.col("cnt")
    cutoff = F.format_string(
        "%08x", F.floor(rate * F.lit(float(16 ** 8))).cast("long")
    )
    survivors = (
        d.withColumn("h", h)
        .join(F.broadcast(cnt), "source")
        .filter(
            (F.col("cnt") <= QUOTA_OVERSAMPLE * QUOTA_PER_SOURCE)
            | (F.col("h") < cutoff)
        )
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= QUOTA_PER_SOURCE)
        .select("doc_id", "source")
    )


SQL_DOMAIN_QUOTA = f"""
WITH cnt AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
survivors AS (
  SELECT d.doc_id, d.source, substr(md5(d.doc_id::VARCHAR), 1, 8) AS h
  FROM documents d JOIN cnt USING (source)
  WHERE cnt <= {QUOTA_OVERSAMPLE * QUOTA_PER_SOURCE}
     OR substr(md5(d.doc_id::VARCHAR), 1, 8) <
        printf('%08x', CAST(floor(
          {QUOTA_OVERSAMPLE * QUOTA_PER_SOURCE} / cnt::DOUBLE
          * {float(16 ** 8)}) AS BIGINT))
),
ranked AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM survivors
)
SELECT doc_id, source FROM ranked WHERE rk <= {QUOTA_PER_SOURCE}
"""


# ---------------------------------------------------------------------------
# temperature_rebalance — p^alpha language rebalancing, alpha = 0.5.
# ---------------------------------------------------------------------------

def q_temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    cnt = d.groupBy("lang").agg(F.count("*").alias("cnt"))
    tot = cnt.agg(
        F.sum("cnt").alias("n"), F.sum(F.sqrt("cnt")).alias("z")
    )
    target = cnt.join(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.floor(
                F.floor(F.lit(TEMP_BUDGET_FRAC) * F.col("n"))
                * F.sqrt("cnt") / F.col("z")
            ),
            F.col("cnt"),
        ).alias("target"),
    )
    # salted two-level rank (functions/topk.salted_partition_rank):
    # exact-count semantics without single-tasking a mega-language
    ranked = salted_partition_rank(
        d, "lang", F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        ranked.join(F.broadcast(target), "lang")
        .filter(F.col("rk") <= F.col("target"))
        .select("doc_id", "lang")
    )


SQL_TEMPERATURE_REBALANCE = f"""
WITH cnt AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
tot AS (SELECT sum(cnt) AS n, sum(sqrt(cnt)) AS z FROM cnt),
target AS (
  SELECT lang,
    least(floor(floor({TEMP_BUDGET_FRAC} * n) * sqrt(cnt) / z), cnt)
      AS target
  FROM cnt, tot
),
ranked AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM ranked JOIN target USING (lang)
WHERE rk <= target
"""


QUERIES = {
    "dsir_importance": q_dsir_importance,
    "domain_quota": q_domain_quota,
    "temperature_rebalance": q_temperature_rebalance,
}

ORACLES = {
    "dsir_importance": sql_dsir_importance(),
    "domain_quota": SQL_DOMAIN_QUOTA,
    "temperature_rebalance": SQL_TEMPERATURE_REBALANCE,
}
