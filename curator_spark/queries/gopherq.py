"""Gopher repetition rules + Gopher doc-shape rules + C4 line filter.

Completes the published web-filtering rule families beyond the four
heuristics already in the core pipeline (textstats/rules):

- `gopher_repetition` — Rae et al. 2021 (Gopher, table A1) repetition
  signals: characters-in-most-frequent word {2,3}-gram fraction and
  characters-in-duplicated word 5-gram fraction.  Computed per-row as
  NATIVE Catalyst expressions (sort the row's n-gram array, fold it
  with a run-length `aggregate`) — no explode, no shuffle: at 100 TB a
  (doc_id, ngram) explode+groupBy would shuffle ~30x the corpus bytes
  on an unbounded key space, while this form streams inside the scan
  stage.  The DuckDB twin unnests and groups per doc — same per-ngram
  counts, different physical strategy, identical values.
- `gopher_quality_docs` — Gopher doc-shape gates (word-count bounds,
  alphabetic-word fraction, bullet-start / ellipsis-end line
  fractions) as a CASE precedence chain, same envelope as
  `quality_keepdrop`.
- `c4_line_filter` — Raffel et al. 2020 (C4 §2.2) line-level cleaning:
  keep lines that end in terminal punctuation, have >= 3 words, and
  carry no boilerplate markers ("javascript", "lorem ipsum", "cookie",
  '{'); emit the cleaned text (byte-stable line join) plus kept/total
  counts and a doc keep flag.  Order-preserving `filter` over the
  line array — shuffle-free.

Reference parity: the reference's per-row work is an LLM call
(reference: src/bespokelabs/curator/llm/llm.py) — these rules are the
north_rule's "Gopher/C4-style heuristic rules ... as native DataFrame
column expressions" (BASELINE.json north_star), widened to the full
published rule sets.  Every query here has a DuckDB oracle twin built
from the same Python constants.

Scale notes: all three queries are scan -> narrow projection -> (no
exchange).  The only cost is per-row HOF evaluation (interpreted
Catalyst, JVM-side — no Python boundary).  They partition trivially:
no key, no skew surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from curator_spark.functions import textstats as ts
from curator_spark.queries.common import spread, sql_words, t

# ---------------------------------------------------------------------------
# Shared constants (Spark + SQL twins are generated from these).
# ---------------------------------------------------------------------------

# Gopher table A1 thresholds.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MAX_BULLET_LINE_FRAC = 0.90
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.30
GOPHER_MAX_TOP2GRAM_FRAC = 0.20
GOPHER_MAX_TOP3GRAM_FRAC = 0.18
GOPHER_MAX_DUP5GRAM_FRAC = 0.15

BULLET_PREFIXES = ("- ", "* ", "•")  # "- ", "* ", bullet char
ELLIPSIS_SUFFIXES = ("...", "…")

# C4 line-filter constants.
C4_MIN_LINE_WORDS = 3
C4_MIN_KEPT_LINES = 3
C4_BAD_SUBSTRINGS = ("javascript", "lorem ipsum", "cookie", "{")
C4_TERMINAL_CHARS = (".", "!", "?", '"')


# ---------------------------------------------------------------------------
# gopher_repetition
# ---------------------------------------------------------------------------

def _rep_chars(ws: str, n: int) -> Column:
    """struct(top, dup): per-row repetition character masses for the
    word n-grams of the word-array column `ws`, via run-length fold
    over the SORTED n-gram array.

    top = max over distinct n-grams of count * non-space-chars(ngram)
    dup = sum over n-grams with count >= 2 of count * non-space-chars

    Equal occurrences of an n-gram are adjacent after array_sort, so
    one left fold sees every run; non-space chars of a space-joined
    n-gram = length - (n-1).  Weighted-max (count * chars) avoids any
    tie-break dependency a plain argmax-of-count would have.
    """
    sorted_ng = F.array_sort(ts.word_ngrams(ws, n))
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("top"),
        zero.alias("dup"),
    )

    def run_chars(acc: Column) -> Column:
        # character mass of the finished run (0 while prev is the seed)
        return acc["run"] * (F.length(acc["prev"]) - F.lit(n - 1))

    def merge(acc: Column, x: Column) -> Column:
        cont = F.struct(
            x.alias("prev"),
            (acc["run"] + 1).alias("run"),
            acc["top"].alias("top"),
            acc["dup"].alias("dup"),
        )
        w = run_chars(acc)
        close = F.struct(
            x.alias("prev"),
            F.lit(1).cast("long").alias("run"),
            F.greatest(acc["top"], w).alias("top"),
            (acc["dup"] + F.when(acc["run"] >= 2, w).otherwise(zero)).alias("dup"),
        )
        return F.when(x == acc["prev"], cont).otherwise(close)

    def finish(acc: Column) -> Column:
        w = run_chars(acc)
        return F.struct(
            F.greatest(acc["top"], w).alias("top"),
            (acc["dup"] + F.when(acc["run"] >= 2, w).otherwise(zero)).alias("dup"),
        )

    return F.aggregate(sorted_ng, init, merge, finish)


def _frac(mass: Column, nws: Column) -> Column:
    # overlapping n-grams can cover a character more than once; clamp
    # so the fraction stays in [0, 1] (same clamp in the SQL twin).
    return F.round(
        F.when(nws > 0, F.least(F.lit(1.0), mass / nws)).otherwise(F.lit(0.0)), 6
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-row fold is compute-heavy (interpreted HOF), so a
    # single-split local scan must fan out first (no-op at corpus scale)
    d = spread(t(spark, sf_dir, "documents"), spark)
    # materialize the split once — three folds reference it and
    # interpreted HOFs are not CSE'd within a projection (1.32 ->
    # 1.16 s on the sf0.1 bench row)
    d = d.withColumn("ws", ts.words(F.col("text")))
    nws = ts.non_ws_chars(F.col("text"))
    d = d.select(
        "doc_id",
        nws.alias("nws"),
        _rep_chars("ws", 2).alias("r2"),
        _rep_chars("ws", 3).alias("r3"),
        _rep_chars("ws", 5).alias("r5"),
    )
    return d.select(
        "doc_id",
        _frac(F.col("r2.top"), F.col("nws")).alias("top2gram_char_frac"),
        _frac(F.col("r3.top"), F.col("nws")).alias("top3gram_char_frac"),
        _frac(F.col("r5.dup"), F.col("nws")).alias("dup5gram_char_frac"),
    )


def _sql_ngram_cte(n: int, tag: str) -> str:
    """CTE pair computing per-doc top/dup character mass for word
    n-grams via unnest + group-by (the relational strategy; values
    identical to the Spark run-length fold)."""
    return f"""
ng{tag} AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(ws) - {n - 1}, 0) + 1),
           i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' '))) AS g
  FROM base
),
agg{tag} AS (
  SELECT doc_id,
         max(c * w) AS top,
         sum(CASE WHEN c >= 2 THEN c * w ELSE 0 END) AS dup
  FROM (
    SELECT doc_id, g, count(*) AS c, length(g) - {n - 1} AS w
    FROM ng{tag} GROUP BY doc_id, g
  ) GROUP BY doc_id
)"""


SQL_GOPHER_REPETITION = f"""
WITH base AS (
  SELECT doc_id, {sql_words()} AS ws,
         length(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', '', 'g')) AS nws
  FROM documents
),
{_sql_ngram_cte(2, 'a')},
{_sql_ngram_cte(3, 'b')},
{_sql_ngram_cte(5, 'c')}
SELECT b.doc_id,
  round(CASE WHEN nws > 0
        THEN least(1.0, coalesce(agga.top, 0)::DOUBLE / nws) ELSE 0.0 END, 6)
    AS top2gram_char_frac,
  round(CASE WHEN nws > 0
        THEN least(1.0, coalesce(aggb.top, 0)::DOUBLE / nws) ELSE 0.0 END, 6)
    AS top3gram_char_frac,
  round(CASE WHEN nws > 0
        THEN least(1.0, coalesce(aggc.dup, 0)::DOUBLE / nws) ELSE 0.0 END, 6)
    AS dup5gram_char_frac
FROM base b
LEFT JOIN agga ON b.doc_id = agga.doc_id
LEFT JOIN aggb ON b.doc_id = aggb.doc_id
LEFT JOIN aggc ON b.doc_id = aggc.doc_id
"""


# ---------------------------------------------------------------------------
# gopher_quality_docs
# ---------------------------------------------------------------------------

def _line_frac(ls: Column, pred) -> Column:
    n = F.size(ls)
    return F.when(n > 0, F.size(F.filter(ls, pred)) / n).otherwise(F.lit(0.0))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split/line arrays materialized once (no HOF CSE within a
    # projection — see q_fineweb_filters)
    d = t(spark, sf_dir, "documents").withColumns(
        {
            "ws": ts.words(F.col("text")),
            "ls_t": F.transform(ts.lines(F.col("text")), lambda l: F.trim(l)),
        }
    )
    ws = F.col("ws")
    ls = F.col("ls_t")
    # coalesce like ts.word_count: size(NULL) is NULL under ANSI, which
    # would NULL the word_count output (and shift the drop_reason off
    # the word-count rule) for a NULL-text row; -1 fails it instead,
    # matching the SQL twin's coalesce(len(ws), -1).
    wc = F.coalesce(F.size(ws), F.lit(-1))
    alpha = F.when(
        wc > 0, F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / wc
    ).otherwise(F.lit(0.0))

    def starts_bullet(l: Column) -> Column:
        p = F.lit(False)
        for b in BULLET_PREFIXES:
            p = p | l.startswith(b)
        return p

    def ends_ellipsis(l: Column) -> Column:
        p = F.lit(False)
        for e in ELLIPSIS_SUFFIXES:
            p = p | l.endswith(e)
        return p

    d = d.select(
        "doc_id",
        wc.cast("long").alias("word_count"),
        F.round(alpha, 6).alias("alpha_word_frac"),
        F.round(_line_frac(ls, starts_bullet), 6).alias("bullet_line_frac"),
        F.round(_line_frac(ls, ends_ellipsis), 6).alias("ellipsis_line_frac"),
    )
    c = F.col
    reason = (
        F.when(
            (c("word_count") < GOPHER_MIN_WORDS)
            | (c("word_count") > GOPHER_MAX_WORDS),
            F.lit("gopher:word_count"),
        )
        .when(c("alpha_word_frac") < GOPHER_MIN_ALPHA_WORD_FRAC,
              F.lit("gopher:alpha_words"))
        .when(c("bullet_line_frac") > GOPHER_MAX_BULLET_LINE_FRAC,
              F.lit("gopher:bullet_lines"))
        .when(c("ellipsis_line_frac") > GOPHER_MAX_ELLIPSIS_LINE_FRAC,
              F.lit("gopher:ellipsis_lines"))
        .otherwise(F.lit(None).cast("string"))
    )
    return d.select(
        "doc_id", "word_count", "alpha_word_frac", "bullet_line_frac",
        "ellipsis_line_frac",
        reason.alias("drop_reason"), reason.isNull().alias("keep"),
    )


def _sql_or(terms) -> str:
    return "(" + " OR ".join(terms) + ")"


SQL_GOPHER_QUALITY = f"""
WITH base AS (
  SELECT doc_id, {sql_words()} AS ws,
    list_transform(
      list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l, ' ') <> ''),
      l -> trim(l, ' ')) AS ls
  FROM documents
),
stats AS (
  SELECT doc_id,
    coalesce(len(ws), -1)::BIGINT AS word_count,
    round(CASE WHEN len(ws) > 0
      THEN len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
           / len(ws) ELSE 0.0 END, 6) AS alpha_word_frac,
    round(CASE WHEN len(ls) > 0
      THEN len(list_filter(ls, l -> {_sql_or([f"starts_with(l, '{b}')" for b in BULLET_PREFIXES])}))::DOUBLE
           / len(ls) ELSE 0.0 END, 6) AS bullet_line_frac,
    round(CASE WHEN len(ls) > 0
      THEN len(list_filter(ls, l -> {_sql_or([f"ends_with(l, '{e}')" for e in ELLIPSIS_SUFFIXES])}))::DOUBLE
           / len(ls) ELSE 0.0 END, 6) AS ellipsis_line_frac
  FROM base
)
SELECT doc_id, word_count, alpha_word_frac, bullet_line_frac,
  ellipsis_line_frac,
  CASE
    WHEN word_count < {GOPHER_MIN_WORDS} OR word_count > {GOPHER_MAX_WORDS}
      THEN 'gopher:word_count'
    WHEN alpha_word_frac < {GOPHER_MIN_ALPHA_WORD_FRAC}
      THEN 'gopher:alpha_words'
    WHEN bullet_line_frac > {GOPHER_MAX_BULLET_LINE_FRAC}
      THEN 'gopher:bullet_lines'
    WHEN ellipsis_line_frac > {GOPHER_MAX_ELLIPSIS_LINE_FRAC}
      THEN 'gopher:ellipsis_lines'
    ELSE NULL
  END AS drop_reason,
  CASE
    WHEN word_count < {GOPHER_MIN_WORDS} OR word_count > {GOPHER_MAX_WORDS}
      THEN FALSE
    WHEN alpha_word_frac < {GOPHER_MIN_ALPHA_WORD_FRAC} THEN FALSE
    WHEN bullet_line_frac > {GOPHER_MAX_BULLET_LINE_FRAC} THEN FALSE
    WHEN ellipsis_line_frac > {GOPHER_MAX_ELLIPSIS_LINE_FRAC} THEN FALSE
    ELSE TRUE
  END AS keep
FROM stats
"""


# ---------------------------------------------------------------------------
# c4_line_filter
# ---------------------------------------------------------------------------

def _c4_keep_line(l: Column) -> Column:
    term = F.lit(False)
    for ch in C4_TERMINAL_CHARS:
        term = term | l.endswith(ch)
    wc_ok = F.size(ts.words(l)) >= C4_MIN_LINE_WORDS
    clean = F.lit(True)
    for s in C4_BAD_SUBSTRINGS:
        clean = clean & ~F.lower(l).contains(s)
    return term & wc_ok & clean


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ls / kept materialized once: `kept` (the per-line predicate
    # sweep, the expensive part on real multi-line pages) is
    # referenced three times below and HOFs are not CSE'd within a
    # projection
    d = t(spark, sf_dir, "documents").withColumn(
        "ls", F.transform(ts.lines(F.col("text")), lambda l: F.trim(l))
    ).withColumn("kept", F.filter(F.col("ls"), _c4_keep_line))
    ls = F.col("ls")
    kept = F.col("kept")
    return d.select(
        "doc_id",
        F.size(ls).cast("long").alias("lines_total"),
        F.size(kept).cast("long").alias("lines_kept"),
        (F.size(kept) >= C4_MIN_KEPT_LINES).alias("keep"),
        # coalesce: array_join(NULL array) is NULL for a NULL-text doc,
        # but the oracle twin coalesces to '' — keep the engines equal
        F.coalesce(F.array_join(kept, "\n"), F.lit("")).alias("clean_text"),
    )


def _sql_c4_keep_line(var: str = "l") -> str:
    term = _sql_or([f"ends_with({var}, '{c}')" for c in C4_TERMINAL_CHARS])
    wc = (
        f"len(list_filter(regexp_split_to_array({var}, '[ \\t\\n\\v\\f\\r]+'), x -> x <> ''))"
        f" >= {C4_MIN_LINE_WORDS}"
    )
    clean = " AND ".join(
        f"NOT contains(lower({var}), '{s}')" for s in C4_BAD_SUBSTRINGS
    )
    return f"({term} AND {wc} AND {clean})"


SQL_C4_LINE_FILTER = f"""
WITH base AS (
  SELECT doc_id,
    list_transform(
      list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l, ' ') <> ''),
      l -> trim(l, ' ')) AS ls
  FROM documents
),
filt AS (
  SELECT doc_id, ls, list_filter(ls, l -> {_sql_c4_keep_line()}) AS kept
  FROM base
)
SELECT doc_id,
  len(ls)::BIGINT AS lines_total,
  len(kept)::BIGINT AS lines_kept,
  len(kept) >= {C4_MIN_KEPT_LINES} AS keep,
  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
FROM filt
"""


# ---------------------------------------------------------------------------
# url_filter — RefinedWeb-style URL filtering (Penedo et al. 2023,
# arXiv:2306.01116 §G.1): the FIRST stage of a CC pipeline, run before
# any content is fetched/extracted, so at 10^12 documents it prunes on
# a few hundred url bytes per row instead of page bytes. Three
# published signal families, restated over a deterministic synthetic
# URL (derived from doc_id/source the same way dedup_url derives its
# urls — the documents fixture carries no url column):
#   - blocklisted domains (their curated blocklist; here a fixed
#     2-entry stand-in matched by registered-name prefix),
#   - soft-word scoring over the url string (their weighted word
#     lists; here unit weights, flag at >= 2 hits),
#   - structural heuristics: over-long urls and digit-heavy hosts.
# Scale shape: scan -> narrow per-row projection, zero exchanges, no
# UDF; identical CASE/instr/length expressions on the DuckDB side.
# ---------------------------------------------------------------------------

URL_BLOCK_DOMAINS = ("badsite", "spamfarm")  # registered-name prefixes
URL_SOFT_WORDS = ("casino", "viagra", "offers", "warez")
URL_SOFT_FLAG_AT = 2      # flag a url carrying >= 2 distinct soft words
URL_MAX_LEN = 120         # chars; RefinedWeb drops absurdly long urls
URL_MAX_HOST_DIGIT_FRAC = 0.2


def _url_parts():
    """(host_expr_sql, path_expr_sql) — the deterministic synthetic
    URL, written once as SQL text and reused verbatim by both engines
    (Spark via F.expr), so the derivation cannot drift."""
    host = (
        "CASE WHEN doc_id % 7 = 0 THEN 'badsite' || CAST(doc_id % 3 AS "
        "STRING) || '.com' "
        "WHEN doc_id % 11 = 0 THEN source || '-' || CAST(doc_id % 1000 "
        "AS STRING) || '-' || CAST(doc_id % 997 AS STRING) || '.biz' "
        "ELSE source || '.example.com' END"
    )
    path = (
        "'/p/' || CAST(doc_id % 50 AS STRING) || "
        "CASE WHEN doc_id % 13 = 0 THEN '/casino-viagra-offers' ELSE '' "
        "END || "
        "CASE WHEN doc_id % 17 = 0 THEN repeat('/verylongpathsegment', 8) "
        "ELSE '' END"
    )
    return host, path


def _url_filter_sql_exprs() -> dict[str, str]:
    """The rule expressions as SQL text over columns (url, host) —
    shared verbatim between the Spark plan and the DuckDB oracle."""
    blocked = " OR ".join(
        f"host LIKE '{d}%'" for d in URL_BLOCK_DOMAINS
    )
    score = " + ".join(
        f"CASE WHEN instr(url, '{w}') > 0 THEN 1 ELSE 0 END"
        for w in URL_SOFT_WORDS
    )
    # translate, not regexp_replace: DuckDB's regexp_replace rewrites
    # only the FIRST match without the 'g' flag Spark has no slot for —
    # translate is whole-string in both engines (and cheaper: char
    # table, no regex)
    digit_frac = (
        "CAST(length(host) - length(translate(host, '0123456789', '')) "
        "AS DOUBLE) / CAST(length(host) AS DOUBLE)"
    )
    return {
        "domain_blocked": f"({blocked})",
        "url_score": f"CAST({score} AS BIGINT)",
        "too_long": f"(length(url) > {URL_MAX_LEN})",
        "digit_heavy": f"({digit_frac} > {URL_MAX_HOST_DIGIT_FRAC})",
    }


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    host, path = _url_parts()
    e = _url_filter_sql_exprs()
    # no spread(): this is a per-row decision over two tiny columns —
    # the scan's own parallelism is enough even at test scale, and the
    # query's contract is ZERO exchanges (pinned in tests/test_gopher)
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("host", F.expr(host))
        .withColumn("url", F.concat(F.lit("https://"), F.col("host"),
                                    F.expr(path)))
    )
    d = (
        d.withColumn("domain_blocked", F.expr(e["domain_blocked"]))
        .withColumn("url_score", F.expr(e["url_score"]))
        .withColumn("too_long", F.expr(e["too_long"]))
        .withColumn("digit_heavy", F.expr(e["digit_heavy"]))
    )
    keep = ~(
        F.col("domain_blocked")
        | (F.col("url_score") >= URL_SOFT_FLAG_AT)
        | F.col("too_long")
        | F.col("digit_heavy")
    )
    return d.select(
        "doc_id", "url", "domain_blocked", "url_score", "too_long",
        "digit_heavy", keep.alias("keep"),
    )


def sql_url_filter() -> str:
    host, path = _url_parts()
    e = _url_filter_sql_exprs()
    return f"""
WITH u AS (
  SELECT doc_id, {host} AS host FROM documents
),
full_u AS (
  SELECT doc_id, host, 'https://' || host || {path} AS url FROM u
),
scored AS (
  SELECT doc_id, url,
         {e['domain_blocked']} AS domain_blocked,
         {e['url_score']} AS url_score,
         {e['too_long']} AS too_long,
         {e['digit_heavy']} AS digit_heavy
  FROM full_u
)
SELECT doc_id, url, domain_blocked, url_score, too_long, digit_heavy,
       NOT (domain_blocked OR url_score >= {URL_SOFT_FLAG_AT}
            OR too_long OR digit_heavy) AS keep
FROM scored
"""


# ---------------------------------------------------------------------------
# fineweb_filters — the FineWeb custom quality filters (Penedo et al.
# 2024, arXiv:2406.17557 §3.6), the rule set developed ON TOP of
# Gopher+C4 by ablation on Common Crawl; completes the published-rule
# family (Gopher shape/repetition, C4 lines, RefinedWeb urls, FineWeb
# lines). Three line-level signals, each a drop gate:
#   - fraction of lines ending in terminal punctuation <= 0.12,
#   - fraction of characters in DUPLICATED lines (2nd+ occurrences of
#     an identical line, within the doc) >= 0.10,
#   - fraction of lines shorter than 30 characters >= 0.67.
# The synthetic corpus has no newlines, so — exactly like
# boilerplate_segments — a deterministic re-lining (non-overlapping
# FW_LINE_WORDS-word windows) stands in for physical lines; the rule
# expressions themselves are unit-agnostic.
#
# Scale shape: scan -> narrow per-row projection, ZERO exchanges, no
# UDF. The duplicated-line character mass is a run-length fold over
# the row's SORTED line array (the gopher_repetition trick at line
# granularity) — the DuckDB twin unnests and groups per (doc, line):
# different algorithm, identical values.
# ---------------------------------------------------------------------------

FW_LINE_WORDS = 10        # stand-in line = 10-word window (no newlines)
FW_TERMINAL_CHARS = (".", "'", '"', "!", "?")  # FineWeb's stop set
FW_MIN_PUNCT_LINE_FRAC = 0.12
# Two bounds are deliberately re-tuned from the upstream FineWeb filter,
# so keep/drop decisions on real data differ from upstream's: a short
# line is < FW_MIN_LINE_CHARS (upstream: <= 30), and the duplicated-line
# character gate is 0.10 (upstream char_duplicates_ratio: 0.01).
FW_MIN_LINE_CHARS = 30
FW_MAX_SHORT_LINE_FRAC = 0.67
FW_MAX_DUP_LINE_CHAR_FRAC = 0.10


def _fw_dup_chars(ls: Column) -> Column:
    """Characters in duplicated lines — 2nd+ occurrences of an
    identical line, i.e. sum over lines occurring k>=2 times of
    (k-1)*len(line).  Run-length fold over the sorted array; equal
    lines are adjacent after array_sort so one left fold sees every
    run (greatest(run-1, 0) also zeroes the seed state's empty run)."""
    sorted_ls = F.array_sort(ls)
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("dup")
    )

    def close_mass(acc: Column) -> Column:
        return F.greatest(acc["run"] - 1, zero) * F.length(acc["prev"])

    def merge(acc: Column, x: Column) -> Column:
        cont = F.struct(
            x.alias("prev"), (acc["run"] + 1).alias("run"),
            acc["dup"].alias("dup"),
        )
        close = F.struct(
            x.alias("prev"), F.lit(1).cast("long").alias("run"),
            (acc["dup"] + close_mass(acc)).alias("dup"),
        )
        return F.when(x == acc["prev"], cont).otherwise(close)

    return F.aggregate(
        sorted_ls, init, merge, lambda acc: acc["dup"] + close_mass(acc)
    )


def _fw_ends_punct(l: Column) -> Column:
    hit = F.lit(False)
    for c in FW_TERMINAL_CHARS:
        hit = hit | F.endswith(l, F.lit(c))
    return hit


def q_fineweb_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the word and window arrays ONCE: six downstream
    # expressions reference the windows, and Catalyst does not CSE an
    # interpreted HOF across a single projection — the with_rule_stats
    # word_count trick (measured 3.50 -> 0.95 s on the sf0.1 bench row)
    d = (
        t(spark, sf_dir, "documents")
        .withColumn("ws", ts.words(F.col("text")))
        .withColumn("ls", ts.word_chunks("ws", FW_LINE_WORDS))
    )
    ls = F.col("ls")
    n = F.size(ls)
    punct = F.size(F.filter(ls, _fw_ends_punct))
    short = F.size(F.filter(ls, lambda l: F.length(l) < FW_MIN_LINE_CHARS))
    total_chars = F.aggregate(
        ls, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    # single divisions of identical integer counts — bit-identical
    # across engines unrounded, so `keep` compares the RAW fracs (no
    # rounding-boundary drift); outputs are rounded per convention
    punct_frac = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    short_frac = F.when(n > 0, short / n).otherwise(F.lit(0.0))
    dup_frac = F.when(
        total_chars > 0, _fw_dup_chars(ls) / total_chars
    ).otherwise(F.lit(0.0))
    keep = (
        (punct_frac > FW_MIN_PUNCT_LINE_FRAC)
        & (short_frac < FW_MAX_SHORT_LINE_FRAC)
        & (dup_frac < FW_MAX_DUP_LINE_CHAR_FRAC)
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_lines"),
        F.round(punct_frac, 6).alias("punct_line_frac"),
        F.round(short_frac, 6).alias("short_line_frac"),
        F.round(dup_frac, 6).alias("dup_line_char_frac"),
        keep.alias("keep"),
    )


def _sql_fw_ends_punct(var: str = "l") -> str:
    return _sql_or(
        [
            f"ends_with({var}, '" + c.replace("'", "''") + "')"
            for c in FW_TERMINAL_CHARS
        ]
    )


SQL_FINEWEB_FILTERS = f"""
WITH w AS (SELECT doc_id, {sql_words('text')} AS ws FROM documents),
ls AS (
  SELECT doc_id, unnest(list_transform(
    range(1, CAST(ceil(len(ws) / {FW_LINE_WORDS}.0) AS INT) + 1),
    i -> list_aggregate(
      ws[(i-1)*{FW_LINE_WORDS}+1:(i-1)*{FW_LINE_WORDS}+{FW_LINE_WORDS}],
      'string_agg', ' '))) AS l
  FROM w WHERE len(ws) > 0
),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n,
    sum(CASE WHEN {_sql_fw_ends_punct()} THEN 1 ELSE 0 END)::BIGINT AS punct,
    sum(CASE WHEN len(l) < {FW_MIN_LINE_CHARS} THEN 1 ELSE 0 END)::BIGINT
      AS short,
    sum(len(l))::BIGINT AS total_chars
  FROM ls GROUP BY doc_id
),
dup AS (
  SELECT doc_id, sum((cnt - 1) * len_l)::BIGINT AS dup_chars FROM (
    SELECT doc_id, l, count(*) AS cnt, len(l) AS len_l
    FROM ls GROUP BY doc_id, l
  ) g WHERE cnt >= 2 GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id,
    coalesce(per.n, 0) AS n_lines,
    CASE WHEN per.n > 0 THEN per.punct / per.n ELSE 0.0 END AS punct_frac,
    CASE WHEN per.n > 0 THEN per.short / per.n ELSE 0.0 END AS short_frac,
    CASE WHEN per.total_chars > 0
         THEN coalesce(dup.dup_chars, 0) / per.total_chars
         ELSE 0.0 END AS dup_frac
  FROM documents d
  LEFT JOIN per ON per.doc_id = d.doc_id
  LEFT JOIN dup ON dup.doc_id = d.doc_id
)
SELECT doc_id, n_lines,
  round(punct_frac, 6) AS punct_line_frac,
  round(short_frac, 6) AS short_line_frac,
  round(dup_frac, 6) AS dup_line_char_frac,
  (punct_frac > {FW_MIN_PUNCT_LINE_FRAC}
   AND short_frac < {FW_MAX_SHORT_LINE_FRAC}
   AND dup_frac < {FW_MAX_DUP_LINE_CHAR_FRAC}) AS keep
FROM scored
"""


QUERIES = {
    "gopher_repetition": q_gopher_repetition,
    "gopher_quality_docs": q_gopher_quality,
    "c4_line_filter": q_c4_line_filter,
    "url_filter": q_url_filter,
    "fineweb_filters": q_fineweb_filters,
}

ORACLES = {
    "gopher_repetition": SQL_GOPHER_REPETITION,
    "gopher_quality_docs": SQL_GOPHER_QUALITY,
    "c4_line_filter": SQL_C4_LINE_FILTER,
    "url_filter": sql_url_filter(),
    "fineweb_filters": SQL_FINEWEB_FILTERS,
}
