"""Gopher/C4-style text statistics as NATIVE Catalyst column expressions.

The reference computes nothing like these (its per-row work is an LLM
call). Expressed as built-in expressions (split / size / filter /
array_distinct / length arithmetic) they run inside whole-stage
codegen with no Python worker round-trip. Their users are the
DuckDB-twinned queries and the cascade student's features
(stages/rules.with_rule_stats). The quality pipeline computes the
same values inside its Arrow scoring UDF instead
(functions/rule_core.py), where the text already is, so it does not
scan every page five more times with JVM regexes.

Every definition here has an exact DuckDB-SQL twin in
__spark_entry__.oracle_sql() (same split semantics, same length
arithmetic) so the driver's correctness gate can hash-compare values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from curator_spark.models.corpora import STOPWORDS

# Symbol set for the symbol-to-word ratio rule (excludes @ - . used by PII).
SYMBOL_CLASS = r"[#$%^&*+=<>|~{}\[\]\\/_]"


def words(text: Column) -> Column:
    """Non-empty whitespace-separated tokens."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))


# The word-window helpers below take the NAME of a word-array column
# the caller has already projected (`.withColumn("ws", words(...))`),
# never an expression: a higher-order function's lambda re-evaluates a
# captured outer expression once per element, so an inline split
# re-tokenizes the whole page for every window — O(words²) per row.


def word_ngrams(ws: str, n: int) -> Column:
    """Overlapping space-joined word n-grams of the array column `ws`;
    empty when it holds fewer than n words."""
    arr = F.col(ws)
    cnt = F.size(arr)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - (n - 1)),
            lambda i: F.array_join(F.slice(arr, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_chunks(ws: str, size: int) -> Column:
    """Non-overlapping space-joined `size`-word windows of the array
    column `ws` (the last may be partial); empty when it holds no
    words."""
    arr = F.col(ws)
    cnt = F.size(arr)
    return F.when(
        cnt > 0,
        F.transform(
            F.sequence(F.lit(1), F.ceil(cnt / F.lit(float(size))).cast("int")),
            lambda i: F.array_join(F.slice(arr, (i - 1) * size + 1, size), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_count(text: Column) -> Column:
    # regexp_count of non-ws RUNS, not size(filter(split(...))): the
    # split materializes a per-row token array only to take its
    # length. Value-identical (a maximal \S+ run IS a non-empty
    # whitespace-separated token; verified equal over the full bench
    # corpus) and measured 3x faster (2.96 -> 0.97 s / 240k docs / 6
    # cores). `words()` remains the materializing form for stats that
    # need the tokens themselves.
    # NULL text: regexp_count(NULL) is NULL, which would let a NULL row
    # slip past `wc < MIN` to a later rule; coalesce to -1 (the legacy
    # size(split(NULL)) value) so NULL text deterministically fails the
    # word_count rule, matching the pre-regexp_count behavior.
    return F.coalesce(F.regexp_count(text, F.lit(r"\S+")), F.lit(-1))


def non_ws_chars(text: Column) -> Column:
    # translate with the exact Java \s set instead of a stripped-copy
    # regexp_replace: a char-table pass, no regex engine and no copy
    # of every document (2.04 -> 1.13 s / 240k docs / 6 cores);
    # value-identical (length after removing the same 6 chars).
    return F.length(F.translate(text, " \t\n\x0b\f\r", ""))


def mean_word_length(text: Column) -> Column:
    wc = word_count(text)
    return F.when(wc > 0, non_ws_chars(text) / wc).otherwise(F.lit(0.0))


def symbol_count(text: Column) -> Column:
    # regexp_count, not length-of-replace: symbols are rare, so counting
    # match events beats allocating a stripped copy of every document
    # (0.41s vs 0.69s over the 960k-page bench corpus). Identical value:
    # SYMBOL_CLASS matches single characters.
    return F.regexp_count(text, F.lit(SYMBOL_CLASS))


def symbol_to_word_ratio(text: Column) -> Column:
    wc = word_count(text)
    return F.when(wc > 0, symbol_count(text) / wc).otherwise(F.lit(0.0))


def lines(text: Column) -> Column:
    return F.filter(F.split(text, r"\n"), lambda l: F.trim(l) != F.lit(""))


def repeated_line_fraction(text: Column) -> Column:
    ls = lines(text)
    n = F.size(ls)
    return F.when(n > 0, (n - F.size(F.array_distinct(ls))) / n).otherwise(F.lit(0.0))


def stopword_hits(text: Column) -> Column:
    ws = words(text)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(ws, lambda w: F.array_contains(sw, F.lower(w))))


def stopword_density(text: Column) -> Column:
    wc = word_count(text)
    return F.when(wc > 0, stopword_hits(text) / wc).otherwise(F.lit(0.0))


def _trie_regex(words) -> str:
    """Prefix-trie regex matching exactly the given literal words.
    A flat 66-way alternation makes the engine re-try every branch at
    each position; the trie shares prefixes so failures cut off after
    the first unmatched character (stopword stage 3.65s -> 2.26s on
    the 960k-page bench corpus). Within a node the terminal is emitted
    as an optional suffix group, so greedy matching prefers the longer
    word first — same longest-match behavior as a longest-first-sorted
    alternation."""
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}

    def emit(node: dict) -> str:
        if list(node.keys()) == [""]:
            return ""
        alts, has_end = [], False
        for ch, child in sorted(node.items()):
            if ch == "":
                has_end = True
                continue
            alts.append(ch + emit(child))
        body = "|".join(alts)
        if has_end:
            return f"(?:{body})?"
        return f"(?:{body})" if len(alts) > 1 else body

    return emit(trie)


def stopword_hits_fast(text: Column) -> Column:
    """Same value as stopword_hits, computed with a single codegen'd
    regexp_count instead of an interpreted array-filter lambda (HOF
    exprs are CodegenFallback — measured ~3x slower than this form on
    the bench corpus). Uses Java-regex atomic groups, so it is the
    PIPELINE variant only; the HOF form remains the RE2-compatible twin
    for the DuckDB oracle queries. Equality of the two forms is
    pinned by tests/test_textstats.py."""
    # whitespace lookarounds + inline (?i) directly on the raw text —
    # no lowered (or \s+-normalized) copy of every document; the
    # engine's per-char ASCII case fold beats allocating the copy
    # (1.60s vs 1.37s / 240k docs / 6 cores; the earlier \s+ collapse
    # + concat variant was slower still at 2.20s). The stopword
    # lexicon is pure ASCII, so (?i) folding == matching on lower().
    # (?<!\S)/(?!\S) delimit exactly the whitespace-separated tokens
    # of words(), so semantics match the HOF form (fuzzed over 10k
    # samples; pinned by tests/test_textstats.py).
    pat = r"(?i)(?<!\S)(?>" + _trie_regex(STOPWORDS) + r")(?!\S)"
    return F.regexp_count(text, F.lit(pat))


def stopword_density_fast(text: Column) -> Column:
    wc = word_count(text)
    return F.when(wc > 0, stopword_hits_fast(text) / wc).otherwise(F.lit(0.0))


def all_stats(text: Column, fast: bool = False) -> dict[str, Column]:
    """All rule statistics keyed by canonical name. fast=True swaps in
    the codegen-friendly stopword form (pipeline hot path); fast=False
    keeps every expression RE2-translatable for the oracle twins."""
    return {
        "word_count": word_count(text),
        "mean_word_length": mean_word_length(text),
        "symbol_ratio": symbol_to_word_ratio(text),
        "repeated_line_fraction": repeated_line_fraction(text),
        "stopword_density": (
            stopword_density_fast(text) if fast else stopword_density(text)
        ),
    }
