"""Advanced relational coverage: as-of join, grouping sets, JSON
repair, seeded distractor sampling, sketch profiling.

- `asof_last_click_before_error`: as-of join (reference has no joins
  at all, SURVEY §2.3; DuckDB has native ASOF JOIN) composed from
  Spark primitives: union-tag + partitioned window last() — one
  shuffle on user_id, no range explosion.
- `events_type_hour_cube`: CUBE grouping sets. It is the registry's
  one grouping-sets query; CUBE subsumes the ROLLUP hierarchy.
- `json_repair_stats`: truncated-JSON repair + JSON unpack + per-type
  histogram.
- `distractor_sample`: the RAFT distractor join over an md5-bucketed
  candidate pool.
- `corpus_profile_sketch`: HLL / GK-sketch per-source profile (no
  DuckDB oracle; bounded against exact pandas values in its test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from curator_spark.queries.common import t


# ---------------------------------------------------------------------------
# asof_last_click_before_error — for every error event, the most recent
# strictly-earlier click by the same user (NULL if none).
# ---------------------------------------------------------------------------

def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    # union-tag + window: last click seen strictly before each row.
    tagged = errors.withColumn("kind", F.lit("e")).withColumn(
        "click_id", F.lit(None).cast("long")
    ).unionByName(
        clicks.withColumn("kind", F.lit("c")).withColumn(
            "error_id", F.lit(None).cast("long")
        )
    )
    # clicks sort before errors at identical ts via kind ('c' < 'e'),
    # matching ASOF JOIN's ts_click <= ts_error bound
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("click_id", "error_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = tagged.withColumn(
        "last_click_id", F.last("click_id", ignorenulls=True).over(w)
    )
    return (
        out.where(F.col("kind") == "e")
        .select("user_id", "error_id", "last_click_id")
    )


SQL_ASOF_LAST_CLICK = """
SELECT e.user_id, e.event_id AS error_id, c.event_id AS last_click_id
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND c.ts <= e.ts
"""


# ---------------------------------------------------------------------------
# events_type_hour_cube — CUBE(event_type, hour-of-day): all four
# grouping combinations in one pass (grouping-sets coverage; CUBE's
# sets include every ROLLUP(event_type, hour) set).
# ---------------------------------------------------------------------------

def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn(
        "hour", F.hour("ts").cast("long")
    )
    return ev.cube("event_type", "hour").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_EVENTS_CUBE = """
SELECT event_type, hour(ts)::BIGINT AS hour,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, hour(ts))
"""


# ---------------------------------------------------------------------------
# json_repair_stats — truncated-JSON repair (reference fix_json,
# vllm_offline_request_processor.py:150-165, generalized to brace
# balancing). Deterministically truncate events.props by (event_id %
# 4) chars, repair by appending the brace deficit, and report per
# event_type how many rows each parser state holds: valid as-is,
# repaired-to-valid, unrepairable. Parsing via get_json_object /
# json_extract so both engines apply their real JSON parser.
# ---------------------------------------------------------------------------

def q_json_repair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curator_spark.functions.jsonfix import fix_json

    ev = t(spark, sf_dir, "events")
    trunc = F.substring(
        F.col("props"), 1,
        (F.length("props") - F.pmod(F.col("event_id"), F.lit(4))).cast("int"),
    )
    df = ev.select(
        "event_type",
        trunc.alias("raw"),
        fix_json(trunc).alias("fixed"),
    ).select(
        "event_type",
        F.get_json_object("raw", "$.k").isNotNull().alias("ok_raw"),
        F.get_json_object("fixed", "$.k").isNotNull().alias("ok_fixed"),
        F.get_json_object("fixed", "$.k").cast("long").alias("k"),
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("ok_raw").cast("long")).alias("valid_raw"),
        F.sum((~F.col("ok_raw") & F.col("ok_fixed")).cast("long"))
        .alias("repaired"),
        F.sum((~F.col("ok_fixed")).cast("long")).alias("unrepairable"),
        F.sum("k").alias("sum_k"),
    )


def _sql_json_repair() -> str:
    from curator_spark.functions.jsonfix import sql_fix_json

    trunc = "substr(props, 1, length(props) - (event_id % 4))"
    fixed = sql_fix_json("raw")
    return f"""
WITH base AS (
  SELECT event_type, {trunc} AS raw FROM events
),
fixed AS (
  SELECT event_type, raw, {fixed} AS fixed FROM base
),
parsed AS (
  SELECT event_type,
         CASE WHEN json_valid(raw)
              THEN json_extract(raw, '$.k') IS NOT NULL
              ELSE false END AS ok_raw,
         CASE WHEN json_valid(fixed)
              THEN json_extract(fixed, '$.k') IS NOT NULL
              ELSE false END AS ok_fixed,
         CASE WHEN json_valid(fixed)
              THEN CAST(json_extract(fixed, '$.k') AS BIGINT) END AS k
  FROM fixed
)
SELECT event_type, count(*)::BIGINT AS n,
       sum(CASE WHEN ok_raw THEN 1 ELSE 0 END)::BIGINT AS valid_raw,
       sum(CASE WHEN NOT ok_raw AND ok_fixed THEN 1 ELSE 0 END)::BIGINT
         AS repaired,
       sum(CASE WHEN NOT ok_fixed THEN 1 ELSE 0 END)::BIGINT AS unrepairable,
       sum(k)::BIGINT AS sum_k
FROM parsed GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# distractor_sample — the reference's RAFT distractor-sampling join
# (blocks/raft.py:111-178, J4/F8): each document draws K "distractor"
# docs from a different source, pseudo-randomly but DETERMINISTICALLY
# (rank by md5(doc_id:cand_id) — the seeded-random rule F8; unseeded
# rand() would break resume and the oracle).
#
# Plan (r5, replacing the N^2 cross join the first bench run exposed
# at 31.8 s/sf0.1): an md5-BUCKETED candidate pool. Every doc hashes
# into one of ceil(N/POOL) buckets twice — once as a candidate (by
# cand_id) and once as a querier (by doc_id + '#q', a different
# stream so a doc's pool is decorrelated from its own candidacy) —
# and the sampling join becomes a bucket EQUI-join: N·POOL pairs
# total instead of N^2, shuffled once on the bucket key, then the
# same per-doc top-K window over ≤POOL rows (no mega-partitions).
# Bucket id = first 24 md5 bits, portable across engines (Spark
# conv(hex,16,10) ≡ DuckDB CAST('0x'||hex AS BIGINT)). The bucket
# count derives from one count(*) (no data columns read) so the
# oracle can reproduce it as a scalar subquery; per-doc draws stay
# uniform over the pool, preserving the distribution shape of the
# exact all-pairs rank at 1/POOL'th the work.
# ---------------------------------------------------------------------------

N_DISTRACTORS = 3
DISTRACTOR_POOL = 64   # expected candidates per bucket


def _hex24(col):
    """First 24 bits of md5(col) as a bigint — cross-engine bucket id."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 6), 16, 10).cast(
        "long"
    )


def q_distractor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d0 = t(spark, sf_dir, "documents").select("doc_id", "source")
    # bucket count from parquet-footer row counts (EXACT for this
    # unfiltered scan, zero jobs — same number DuckDB's count(*)
    # footer path returns, so the oracle's scalar subquery agrees);
    # count() only when footers are unavailable (non-parquet source)
    from curator_spark.queries.common import parquet_row_count

    n = parquet_row_count(d0)
    if n is None:
        n = d0.count()
    nb = max(1, n // DISTRACTOR_POOL)
    d = d0.withColumn(
        "bucket",
        _hex24(F.concat(F.col("doc_id").cast("string"), F.lit("#q"))) % nb,
    )
    cand = d0.select(
        F.col("doc_id").alias("cand_id"),
        F.col("source").alias("cand_source"),
        (_hex24(F.col("doc_id").cast("string")) % nb).alias("cand_bucket"),
    )
    w = Window.partitionBy("doc_id").orderBy("draw", "cand_id")
    return (
        d.join(
            cand,
            (F.col("bucket") == F.col("cand_bucket"))
            & (F.col("source") != F.col("cand_source")),
        )
        .withColumn(
            "draw",
            F.md5(
                F.concat_ws(":", F.col("doc_id"), F.col("cand_id")).cast("binary")
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= N_DISTRACTORS)
        .select(
            "doc_id", F.col("rk").cast("long").alias("rk"), "cand_id"
        )
    )


SQL_DISTRACTOR_SAMPLE = f"""
WITH params AS (
  SELECT greatest(1, count(*) // {DISTRACTOR_POOL}) AS nb FROM documents
),
docs AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(doc_id || '#q'), 1, 6) AS BIGINT)
           % (SELECT nb FROM params) AS bucket
  FROM documents
),
cands AS (
  SELECT doc_id AS cand_id, source AS cand_source,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
           % (SELECT nb FROM params) AS bucket
  FROM documents
)
SELECT doc_id, rk::BIGINT AS rk, cand_id
FROM (
  SELECT d.doc_id, c.cand_id,
         row_number() OVER (
           PARTITION BY d.doc_id
           ORDER BY md5(d.doc_id || ':' || c.cand_id), c.cand_id
         ) AS rk
  FROM docs d JOIN cands c
    ON d.bucket = c.bucket AND d.source <> c.cand_source
) WHERE rk <= {N_DISTRACTORS}
"""


# ---------------------------------------------------------------------------
# corpus_profile_sketch — one-pass sketch profile, the 100 TB way.
# ---------------------------------------------------------------------------

def q_corpus_profile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile built ENTIRELY from mergeable sketch
    aggregates: HyperLogLog++ distinct-text estimates
    (approx_count_distinct) and GK quantile sketches
    (percentile_approx) keep fixed-size per-partition state that
    combines map-side, so profiling a 100 TB corpus is ONE scan plus a
    shuffle of n_sources sketch buffers — never an exact-distinct
    shuffle of the text hashes or a sort for percentiles. This is the
    profiling pattern the exact group-by queries cannot
    afford at scale when the statistic itself is holistic.

    No DuckDB oracle: sketch estimates are engine-specific by design.
    tests/test_corpus_profile.py bounds every estimate against the
    exact value computed independently in pandas (HLL relative-error
    envelope, quantile rank-error window) and pins the exact columns.
    """
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.approx_count_distinct(
                F.md5(F.col("text").cast("binary")), rsd=0.02
            ).alias("approx_distinct_texts"),
            F.percentile_approx("n_chars", 0.5, 10_000).alias("p50_chars"),
            F.percentile_approx("n_chars", 0.99, 10_000).alias("p99_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


QUERIES = {
    "corpus_profile_sketch": q_corpus_profile_sketch,
    "asof_last_click_before_error": q_asof_last_click,
    "distractor_sample": q_distractor_sample,
    "events_type_hour_cube": q_events_cube,
    "json_repair_stats": q_json_repair_stats,
}

ORACLES = {
    "asof_last_click_before_error": SQL_ASOF_LAST_CLICK,
    "events_type_hour_cube": SQL_EVENTS_CUBE,
    "json_repair_stats": _sql_json_repair(),
    "distractor_sample": SQL_DISTRACTOR_SAMPLE,
}
