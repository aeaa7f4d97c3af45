"""Text-quality queries over the `documents` table.

These are the SQL-expressible faces of the quality-filter pipeline
(SURVEY.md §2.2 P1/P6, §2.7 F4/F6; north_rule heuristic rules): rule
statistics, keep/drop decision, PII scrub, token counting,
fingerprinting, chunking. Each Spark program has an oracle SQL twin
generated from the same constants.

Reference parity notes:
- rule stats = the Gopher/C4 heuristics named by BASELINE.json
  north_star (mean word length, symbol-to-word ratio, repeated-line
  fraction, stopword density).
- keep/drop = reference's per-row decision envelope
  (curator's parse→filter semantics, base_request_processor.py:387-420)
  restated as a CASE precedence chain.
- scrub = compiled-regex rewrite (north_rule PII/toxicity scrub);
  python `re` on the Spark side (pandas UDF), RE2 on the DuckDB side —
  patterns are written RE2-compatible so both agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curator_spark.config import DEFAULT_CONFIG as CFG
from curator_spark.functions import textstats as ts
from curator_spark.functions.scrub_core import SCRUB_RULES, TOXIC_WORDS
from curator_spark.queries.common import spread, sql_stopword_list, sql_words, t
from curator_spark.stages.score import with_scores

# BPE-ish token pattern: letter runs | digit runs | single other symbol.
# explicit ASCII-ws class, NOT \s: this pattern string is shared
# verbatim by BOTH engines (Spark regexp_extract_all = java.util.regex,
# DuckDB = RE2) and the two engines disagree on \s (Java includes
# \x0B, RE2 does not). \x0B spells VT identically in both; Java
# would read \v as the vertical-WHITESPACE class (incl. U+2028).
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


# ---------------------------------------------------------------------------
# rule_stats
# ---------------------------------------------------------------------------

def q_rule_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    s = ts.all_stats(F.col("text"))
    return d.select(
        "doc_id",
        s["word_count"].cast("long").alias("word_count"),
        F.round(s["mean_word_length"], 6).alias("mean_word_length"),
        F.round(s["symbol_ratio"], 6).alias("symbol_ratio"),
        F.round(s["repeated_line_fraction"], 6).alias("repeated_line_fraction"),
        F.round(s["stopword_density"], 6).alias("stopword_density"),
    )


def sql_rule_stats() -> str:
    sym = ts.SYMBOL_CLASS
    return f"""
WITH base AS (
  SELECT doc_id,
    {sql_words()} AS ws,
    length(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', '', 'g')) AS nws,
    length(text) - length(regexp_replace(text, '{sym}', '', 'g')) AS symc,
    list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l, ' ') <> '') AS ls
  FROM documents
)
SELECT doc_id,
  coalesce(len(ws), -1)::BIGINT AS word_count,
  round(CASE WHEN len(ws) > 0 THEN nws::DOUBLE / len(ws) ELSE 0.0 END, 6)
    AS mean_word_length,
  round(CASE WHEN len(ws) > 0 THEN symc::DOUBLE / len(ws) ELSE 0.0 END, 6)
    AS symbol_ratio,
  round(CASE WHEN len(ls) > 0
        THEN (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls)
        ELSE 0.0 END, 6) AS repeated_line_fraction,
  round(CASE WHEN len(ws) > 0
        THEN len(list_filter(ws, x -> list_contains({sql_stopword_list()}, lower(x))))::DOUBLE
             / len(ws)
        ELSE 0.0 END, 6) AS stopword_density
FROM base
"""


# ---------------------------------------------------------------------------
# quality_keepdrop — CASE precedence chain (rules + claimed-lang gate).
# The UDF-scored variant (predicted lang + perplexity) is the rows-only
# query `quality_full_docs` in pipelineq.py.
# ---------------------------------------------------------------------------

def q_quality_keepdrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    s = ts.all_stats(F.col("text"))
    d = (
        d.withColumn("wc", s["word_count"])
        .withColumn("mwl", s["mean_word_length"])
        .withColumn("symr", s["symbol_ratio"])
        .withColumn("rlf", s["repeated_line_fraction"])
        .withColumn("swd", s["stopword_density"])
    )
    c = F.col
    reason = (
        F.when(c("lang") != CFG.target_lang, F.lit("langid"))
        .when((c("wc") < CFG.min_words) | (c("wc") > CFG.max_words),
              F.lit("rule:word_count"))
        .when((c("mwl") < CFG.min_mean_word_length)
              | (c("mwl") > CFG.max_mean_word_length),
              F.lit("rule:mean_word_length"))
        .when(c("symr") > CFG.max_symbol_to_word_ratio, F.lit("rule:symbol_ratio"))
        .when(c("rlf") > CFG.max_repeated_line_fraction, F.lit("rule:repeated_lines"))
        .when(c("swd") < CFG.min_stopword_density, F.lit("rule:stopword_density"))
        .otherwise(F.lit(None).cast("string"))
    )
    return d.select(
        "doc_id",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
    )


def sql_quality_keepdrop() -> str:
    sym = ts.SYMBOL_CLASS
    return f"""
WITH base AS (
  SELECT doc_id, lang,
    {sql_words()} AS ws,
    length(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', '', 'g')) AS nws,
    length(text) - length(regexp_replace(text, '{sym}', '', 'g')) AS symc,
    list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l, ' ') <> '') AS ls
  FROM documents
), st AS (
  SELECT doc_id, lang,
    coalesce(len(ws), -1) AS wc,
    CASE WHEN len(ws) > 0 THEN nws::DOUBLE / len(ws) ELSE 0.0 END AS mwl,
    CASE WHEN len(ws) > 0 THEN symc::DOUBLE / len(ws) ELSE 0.0 END AS symr,
    CASE WHEN len(ls) > 0
         THEN (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls)
         ELSE 0.0 END AS rlf,
    CASE WHEN len(ws) > 0
         THEN len(list_filter(ws, x -> list_contains({sql_stopword_list()}, lower(x))))::DOUBLE
              / len(ws)
         ELSE 0.0 END AS swd
  FROM base
)
SELECT doc_id,
  CASE WHEN lang <> '{CFG.target_lang}' THEN 'langid'
       WHEN wc < {CFG.min_words} OR wc > {CFG.max_words} THEN 'rule:word_count'
       WHEN mwl < {CFG.min_mean_word_length} OR mwl > {CFG.max_mean_word_length}
         THEN 'rule:mean_word_length'
       WHEN symr > {CFG.max_symbol_to_word_ratio} THEN 'rule:symbol_ratio'
       WHEN rlf > {CFG.max_repeated_line_fraction} THEN 'rule:repeated_lines'
       WHEN swd < {CFG.min_stopword_density} THEN 'rule:stopword_density'
       END AS drop_reason,
  (CASE WHEN lang <> '{CFG.target_lang}' THEN 'langid'
       WHEN wc < {CFG.min_words} OR wc > {CFG.max_words} THEN 'rule:word_count'
       WHEN mwl < {CFG.min_mean_word_length} OR mwl > {CFG.max_mean_word_length}
         THEN 'rule:mean_word_length'
       WHEN symr > {CFG.max_symbol_to_word_ratio} THEN 'rule:symbol_ratio'
       WHEN rlf > {CFG.max_repeated_line_fraction} THEN 'rule:repeated_lines'
       WHEN swd < {CFG.min_stopword_density} THEN 'rule:stopword_density'
       END) IS NULL AS keep
FROM st
"""


# ---------------------------------------------------------------------------
# scrub_pii — sequential compiled-regex rewrite + per-rule counts.
# ---------------------------------------------------------------------------

def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    d = with_scores(d, CFG, "text", outputs=("scrub",))
    return d.select(
        "doc_id",
        "scrubbed_text",
        F.col("scrub_counts.emails").alias("n_emails"),
        F.col("scrub_counts.ids").alias("n_ids"),
        F.col("scrub_counts.phones").alias("n_phones"),
        F.col("scrub_counts.toxic").alias("n_toxic"),
    )


def sql_scrub_pii() -> str:
    # apply rules sequentially, counting BEFORE each rewrite — exactly
    # what scrub_core.scrub_series does.
    cur = "text"
    counts = []
    for name, pat, repl in SCRUB_RULES:
        p = pat.replace("'", "''")
        counts.append((name, f"len(regexp_extract_all({cur}, '{p}'))::BIGINT"))
        cur = f"regexp_replace({cur}, '{p}', '{repl}', 'g')"
    alias = {"emails": "n_emails", "ids": "n_ids",
             "phones": "n_phones", "toxic": "n_toxic"}
    count_cols = ",\n  ".join(f"{expr} AS {alias[name]}" for name, expr in counts)
    return f"""
SELECT doc_id,
  {cur} AS scrubbed_text,
  {count_cols}
FROM documents
"""


# ---------------------------------------------------------------------------
# toxicity_score — blocklist-density scoring (the score-only face of the
# scrub stage's toxicity rule: flag documents instead of rewriting them,
# the usual mode for toxicity in CC pipelines where the decision is
# drop-vs-keep, not redaction). Pure native exprs — regexp_count stays
# in whole-stage codegen, zero shuffles. The lexicon = the scrub stage's
# TOXIC_WORDS plus corpus-present terms so the synthetic table exercises
# nonzero densities and the threshold branch.
# ---------------------------------------------------------------------------

TOXICITY_LEXICON = tuple(sorted(set(TOXIC_WORDS) | {"slow", "legacy"}))
TOXICITY_FLAG_DENSITY = 0.05  # flag when >5% of words are blocklisted


def q_toxicity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pat = r"\b(?:" + "|".join(TOXICITY_LEXICON) + r")\b"
    hits = F.regexp_count(F.lower(F.col("text")), F.lit(pat))
    wc = ts.word_count(F.col("text"))
    density = F.when(wc > 0, hits / wc).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        hits.cast("long").alias("toxic_hits"),
        F.round(density, 6).alias("toxic_density"),
        (density > TOXICITY_FLAG_DENSITY).alias("flagged"),
    )


def sql_toxicity_score() -> str:
    pat = r"\b(" + "|".join(TOXICITY_LEXICON) + r")\b"
    return f"""
SELECT doc_id,
  len(regexp_extract_all(lower(text), '{pat}'))::BIGINT AS toxic_hits,
  round(CASE WHEN len({sql_words()}) > 0
        THEN len(regexp_extract_all(lower(text), '{pat}'))::DOUBLE
             / len({sql_words()})
        ELSE 0.0 END, 6) AS toxic_density,
  (CASE WHEN len({sql_words()}) > 0
        THEN len(regexp_extract_all(lower(text), '{pat}'))::DOUBLE
             / len({sql_words()})
        ELSE 0.0 END) > {TOXICITY_FLAG_DENSITY} AS flagged
FROM documents
"""


# ---------------------------------------------------------------------------
# token_stats
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        ts.word_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def sql_token_stats() -> str:
    pat = TOKEN_RE
    return f"""
SELECT doc_id,
  coalesce(len({sql_words()}), -1)::BIGINT AS n_ws_tokens,
  len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_bpe_tokens,
  length(text)::BIGINT AS n_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# doc_fingerprint — md5 over whitespace-normalized lowercased text
# (reference F1/F2 fingerprint semantics, llm/llm.py:147-172).
# ---------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))


def sql_doc_fingerprint() -> str:
    return """
SELECT doc_id,
  md5(regexp_replace(lower(text), '[ \\t\\n\\v\\f\\r]+', ' ', 'g')) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# doc_winnowing — winnowing fingerprint set (Schleimer et al.): hash
# every word-3gram, slide a window of W over the hash sequence, keep
# each window's minimum; the sorted distinct minima fingerprint the
# document robustly to local edits. Pure array expressions both sides.
# ---------------------------------------------------------------------------

WINNOW_K = 3   # k-gram size (words)
WINNOW_W = 4   # window length over the k-gram hash sequence


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each array stage is MATERIALIZED as its own projection before the
    # next stage references it. A lambda of a higher-order function
    # re-evaluates any captured outer EXPRESSION once per element — so
    # the fully-inlined form re-split the text inside every element_at
    # of the k-gram lambda and rebuilt the whole k-gram+md5 array for
    # every sliding-window position (O(n·K + n·W·n·K) re-splits per
    # row; measured 11.9 s for 500 sf0.01 docs, ~40x the family norm).
    # Staged projections make each captured reference an attribute
    # read; CollapseProject keeps the stages apart because each alias
    # is referenced more than once downstream.
    d = spread(t(spark, sf_dir, "documents"), spark)
    staged = d.select("doc_id", ts.words(F.col("text")).alias("ws"))
    staged = staged.select(
        "doc_id", ts.word_ngrams("ws", WINNOW_K).alias("kg")
    )
    staged = staged.select(
        "doc_id",
        F.transform("kg", lambda s: F.md5(s.cast("binary"))).alias("hs"),
    )
    hs = F.col("hs")
    m = F.size(hs)
    wins = F.when(
        m >= WINNOW_W,
        F.transform(
            F.sequence(F.lit(1), m - (WINNOW_W - 1)),
            lambda i: F.array_min(F.slice(hs, i, WINNOW_W)),
        ),
    ).when(m > 0, F.array(F.array_min(hs))).otherwise(
        F.array().cast("array<string>")
    )
    staged = staged.select("doc_id", wins.alias("wins"))
    # fingerprints are comma-joined into one scalar string: the
    # driver's oracle canonicalizer cannot hash array cells.
    return staged.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(F.col("wins"))), ",").alias(
            "fingerprints"
        ),
        F.size(F.array_distinct(F.col("wins"))).cast("long").alias(
            "n_fingerprints"
        ),
    )


def sql_doc_winnowing() -> str:
    k, w = WINNOW_K, WINNOW_W
    kg_expr = " || ' ' || ".join(f"ws[i+{j}]" for j in range(k))
    return f"""
WITH base AS (
  SELECT doc_id, {sql_words()} AS ws FROM documents
), kg AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= {k}
         THEN list_transform(range(1, len(ws) - {k - 1} + 1),
                             i -> md5({kg_expr}))
         ELSE CAST([] AS VARCHAR[]) END AS hs
  FROM base
), wins AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= {w}
         THEN list_transform(range(1, len(hs) - {w - 1} + 1),
                             i -> list_min(list_slice(hs, i, i + {w - 1})))
         WHEN len(hs) > 0 THEN [list_min(hs)]
         ELSE CAST([] AS VARCHAR[]) END AS wv
  FROM kg
)
SELECT doc_id,
       array_to_string(list_sort(list_distinct(wv)), ',') AS fingerprints,
       len(list_distinct(wv))::BIGINT AS n_fingerprints
FROM wins
"""


# ---------------------------------------------------------------------------
# langid_heuristic — dictionary-marker language ID as PURE native
# column expressions (the n-gram-free heuristic twin of the UDF
# langid stage): per language, count tokens that appear in that
# language's exclusive marker lexicon; argmax with deterministic
# tie-break. Fully codegen/JVM-side, so it is the langid you run when
# a 10^12-row pass can't afford even an Arrow round-trip; the UDF
# stage (stages/score.py) is the higher-recall scorer. Marker
# lexicons are derived from the same embedded corpora as the trigram
# model, restricted to words unique to one language, so both engines
# share one constant.
# ---------------------------------------------------------------------------

def _marker_lexicons() -> dict[str, list[str]]:
    from curator_spark.models.corpora import WORDS

    owners: dict[str, list[str]] = {}
    for lang, ws in WORDS.items():
        for w in set(ws):
            owners.setdefault(w, []).append(lang)
    return {
        lang: sorted(w for w, ls in owners.items() if ls == [lang])[:40]
        for lang in WORDS
    }


MARKERS = _marker_lexicons()


def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = spread(t(spark, sf_dir, "documents"), spark).withColumn(
        "ws", ts.words(F.lower(F.col("text")))
    )
    ws = F.col("ws")
    hits = [
        F.size(
            F.filter(ws, lambda w: w.isin(*MARKERS[lang]))
        ).cast("long").alias(f"h_{lang}")
        for lang in sorted(MARKERS)
    ]
    scored = d.select("doc_id", F.col("lang").alias("true_lang"), *hits)
    stack_args = ", ".join(f"'{lang}', h_{lang}" for lang in sorted(MARKERS))
    stacked = scored.selectExpr(
        "doc_id",
        "true_lang",
        f"stack({len(MARKERS)}, {stack_args}) AS (cand, hits)",
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand"))
    return (
        stacked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.when(F.col("hits") > 0, F.col("cand"))
            .otherwise(F.lit("und"))
            .alias("pred_lang"),
            F.col("hits").alias("marker_hits"),
        )
    )


def sql_langid_heuristic() -> str:
    branches = "\nUNION ALL\n".join(
        f"SELECT doc_id, true_lang, '{lang}' AS cand,\n"
        f"  len(list_filter(ws, w -> list_contains(["
        + ", ".join(f"'{w}'" for w in MARKERS[lang])
        + "], w)))::BIGINT AS hits FROM base"
        for lang in sorted(MARKERS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang AS true_lang, {sql_words('lower(text)')} AS ws
  FROM documents
),
stacked AS (
{branches}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY hits DESC, cand) AS rn
  FROM stacked
)
SELECT doc_id, true_lang,
       CASE WHEN hits > 0 THEN cand ELSE 'und' END AS pred_lang,
       hits AS marker_hits
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# doc_chunks — fixed-size substring chunking with chunk ids (the
# reference's RAFT chunk_text, blocks/raft.py:181-186, P10). Pure
# sequence/transform/posexplode — stays native; chunk count is
# bounded per row so the explode blowup is len(text)/CHUNK, never
# quadratic.
# ---------------------------------------------------------------------------

CHUNK_CHARS = 200


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    chunks = F.expr(
        f"CASE WHEN length(text) > 0 THEN "
        f"transform(sequence(0, int(floor((length(text)-1)/{CHUNK_CHARS}))),"
        f" i -> substring(text, i*{CHUNK_CHARS}+1, {CHUNK_CHARS})) "
        f"ELSE array() END"
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.length("chunk").cast("long").alias("chunk_len"),
        F.md5(F.col("chunk").cast("binary")).alias("chunk_hash"),
    )


def sql_doc_chunks() -> str:
    return f"""
WITH c AS (
  SELECT doc_id,
         unnest(
           CASE WHEN length(text) > 0 THEN
             list_transform(
               range(0, cast(floor((length(text)-1)/{CHUNK_CHARS}) AS BIGINT) + 1),
               i -> {{'chunk_id': i,
                      'chunk': substr(text, (i*{CHUNK_CHARS}+1)::INT, {CHUNK_CHARS})}})
           ELSE CAST([] AS STRUCT(chunk_id BIGINT, chunk VARCHAR)[]) END,
           recursive := true)
  FROM documents
)
SELECT doc_id, chunk_id, length(chunk)::BIGINT AS chunk_len,
       md5(chunk) AS chunk_hash
FROM c
"""


QUERIES = {
    "rule_stats": q_rule_stats,
    "langid_heuristic": q_langid_heuristic,
    "quality_keepdrop": q_quality_keepdrop,
    "scrub_pii": q_scrub_pii,
    "toxicity_score": q_toxicity_score,
    "token_stats": q_token_stats,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_winnowing": q_doc_winnowing,
    "doc_chunks": q_doc_chunks,
}

ORACLES = {
    "rule_stats": sql_rule_stats(),
    "langid_heuristic": sql_langid_heuristic(),
    "quality_keepdrop": sql_quality_keepdrop(),
    "scrub_pii": sql_scrub_pii(),
    "toxicity_score": sql_toxicity_score(),
    "token_stats": sql_token_stats(),
    "doc_fingerprint": sql_doc_fingerprint(),
    "doc_winnowing": sql_doc_winnowing(),
    "doc_chunks": sql_doc_chunks(),
}
