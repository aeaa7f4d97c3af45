"""Hand-computed expectations for the Gopher repetition / doc-shape
rules and the C4 line filter (curator_spark/queries/gopherq.py).

The registry oracle test already hash-compares these against DuckDB on
the synthetic corpus; this file pins the SEMANTICS on constructed docs
where the right answer is computable by hand — the run-length n-gram
fold especially (sorted-array fold vs relational group-by is the one
place the two engines use genuinely different algorithms).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from curator_spark.functions import textstats as ts
from curator_spark.queries.gopherq import (
    C4_MIN_KEPT_LINES,
    _c4_keep_line,
    _rep_chars,
)


def _words_row(spark, text: str):
    """One-row frame holding the word array of `text` as column ws."""
    return spark.range(1).select(ts.words(F.lit(text)).alias("ws"))


def _rep(spark, text: str, n: int) -> tuple[int, int]:
    row = _words_row(spark, text).select(_rep_chars("ws", n).alias("r")).first()
    return row.r.top, row.r.dup


def test_ngrams_basic(spark):
    df = _words_row(spark, "a b c d")
    got = df.select(ts.word_ngrams("ws", 2).alias("g")).first().g
    assert got == ["a b", "b c", "c d"]
    got3 = df.select(ts.word_ngrams("ws", 5).alias("g")).first().g
    assert got3 == []


def test_top2gram_mass_hand_computed(spark):
    # "the cat the cat the dog": 2-grams = [the cat, cat the, the cat,
    # cat the, the dog]; "the cat" and "cat the" both occur twice,
    # mass = 2 * 6 non-space chars = 12 each; top = 12.
    top, dup = _rep(spark, "the cat the cat the dog", 2)
    assert top == 12
    # duplicated 2-grams: both runs of 2 -> dup = 12 + 12 = 24
    assert dup == 24


def test_single_run_whole_doc(spark):
    # "x x x x x": 2-grams = 4 * "x x" -> one run of 4, mass 4*2=8.
    top, dup = _rep(spark, "x x x x x", 2)
    assert top == 8 and dup == 8


def test_no_repetition_dup_zero(spark):
    top, dup = _rep(spark, "alpha beta gamma delta", 2)
    # every 2-gram unique: dup=0; top = max single-occurrence mass =
    # len("gammadelta") = 10 ("gamma delta" minus its space).
    assert dup == 0
    assert top == 10


def test_short_doc_empty_ngrams(spark):
    top, dup = _rep(spark, "one", 2)
    assert top == 0 and dup == 0


def test_c4_line_predicate(spark):
    lines = [
        "This is a good sentence.",   # keep
        "Short one.",                 # only 2 words -> drop
        "No terminal punctuation",    # drop
        "Enable javascript to view.", # marker -> drop
        "We use cookies on this site.",  # 'cookie' marker -> drop
        'He said "stop right there!"',  # ends with " -> keep
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["l"])
    got = [r.k for r in df.select(_c4_keep_line(F.col("l")).alias("k")).collect()]
    assert got == [True, False, False, False, False, True]


def test_c4_clean_text_byte_stable(spark, tmp_path):
    # cleaned text is exactly the kept trimmed lines joined by \n —
    # order preserved, no trailing separator.  (The driver testdata
    # corpus is unpunctuated word soup — every line drops there, which
    # the oracle test covers — so byte-stability is pinned on
    # constructed docs.)
    from curator_spark.queries.gopherq import q_c4_line_filter

    docs = [
        (1, "Keep me please today.\n  ws trimmed line here!  \nno punct\n"
            "Another good line stays.\nAlso this one is kept.", "en", "s", 0),
        (2, "nothing survives here", "en", "s", 0),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(f"{sf}/documents.parquet")

    rows = {r.doc_id: r for r in q_c4_line_filter(spark, sf).collect()}
    r1 = rows[1]
    assert r1.lines_total == 5 and r1.lines_kept == 4
    assert r1.clean_text == (
        "Keep me please today.\nws trimmed line here!\n"
        "Another good line stays.\nAlso this one is kept."
    )
    assert r1.keep and r1.lines_kept >= C4_MIN_KEPT_LINES
    r2 = rows[2]
    assert r2.lines_kept == 0 and r2.clean_text == "" and not r2.keep


def test_gopher_quality_reason_precedence(spark):
    from curator_spark.queries.gopherq import GOPHER_MIN_WORDS, q_gopher_quality

    df = q_gopher_quality(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    for r in rows:
        if r.word_count < GOPHER_MIN_WORDS:
            # word_count outranks every later rule in the chain
            assert r.drop_reason == "gopher:word_count" and not r.keep
        if r.keep:
            assert r.drop_reason is None


def test_url_filter_hand_computed(spark):
    """Pin each rule family on constructed doc_ids: 7k -> blocklisted
    domain, 11k (not 7k) -> digit-heavy .biz host, 13k -> soft-word
    path (3 distinct soft words >= flag-at 2), 17k -> over-long url,
    and a plain id that keeps."""
    from curator_spark.queries.gopherq import q_url_filter

    rows = {
        r.doc_id: r
        for r in q_url_filter(spark, "/root/testdata/sf0.001").collect()
    }

    blocked = next(r for i, r in rows.items() if i % 7 == 0)
    assert blocked.domain_blocked and not blocked.keep
    assert blocked.url.startswith("https://badsite")

    softy = next(
        r for i, r in rows.items()
        if i % 13 == 0 and i % 7 and i % 11 and i % 17
    )
    assert softy.url_score >= 2 and not softy.keep
    assert "/casino-viagra-offers" in softy.url

    digity = next(
        r for i, r in rows.items() if i % 11 == 0 and i % 7 and i > 0
    )
    assert digity.digit_heavy and not digity.keep
    assert digity.url.split("/")[2].endswith(".biz")

    longy = next(
        r for i, r in rows.items()
        if i % 17 == 0 and i % 7 and i % 11 and i % 13 and i > 0
    )
    assert longy.too_long and len(longy.url) > 120 and not longy.keep

    plain = next(
        r for i, r in rows.items()
        if i > 0 and i % 7 and i % 11 and i % 13 and i % 17
    )
    assert plain.keep and plain.url_score < 2 and not plain.domain_blocked


def test_url_filter_zero_exchange_plan(spark):
    """First-stage URL pruning must stay scan -> narrow projection:
    at 10^12 docs any exchange here shuffles the whole crawl frontier
    for a per-row decision."""
    from curator_spark.queries.gopherq import q_url_filter

    plan = (
        q_url_filter(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# fineweb_filters (Penedo et al. 2024, arXiv:2406.17557 §3.6)
# ---------------------------------------------------------------------------

def _fw_row(spark, text: str):
    """Run the fineweb per-row expressions on one constructed doc."""
    from curator_spark.queries import gopherq as g

    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    df = df.withColumn("ws", ts.words(F.col("text")))
    ls = ts.word_chunks("ws", g.FW_LINE_WORDS)
    return df.select(
        ls.alias("ls"),
        g._fw_dup_chars(ls).alias("dup"),
        F.size(F.filter(ls, g._fw_ends_punct)).alias("punct"),
    ).first()


def test_fineweb_relining_windows(spark):
    # 12 words, FW_LINE_WORDS=10 -> two windows of 10 and 2 words.
    words = [f"w{i}" for i in range(12)]
    row = _fw_row(spark, " ".join(words))
    assert row.ls == [" ".join(words[:10]), " ".join(words[10:])]
    # word_chunks at the boilerplate segment size too: 11 words in
    # 4-word windows -> 4, 4, 3; 12 words in 10-word windows -> 10, 2
    for size, ws in ((4, words[:11]), (10, words)):
        got = _words_row(spark, " ".join(ws)).select(
            ts.word_chunks("ws", size).alias("c")
        ).first().c
        assert got == [" ".join(ws[i:i + size]) for i in range(0, len(ws), size)]
        assert 0 < len(got[-1].split()) < size


def test_fineweb_dup_chars_hand_computed(spark):
    from curator_spark.queries.gopherq import _fw_dup_chars

    # ["ab", "ab", "ab", "cd", "x"]: "ab" runs 3 times -> (3-1)*2 = 4
    # duplicated chars; "cd"/"x" unique -> 0.
    df = spark.createDataFrame([(["ab", "ab", "ab", "cd", "x"],)], ["ls"])
    assert df.select(_fw_dup_chars(F.col("ls")).alias("d")).first().d == 4
    # no duplicates -> 0; empty array -> 0
    df2 = spark.createDataFrame([(["a", "b"],), ([],)], "ls array<string>")
    got = [r.d for r in df2.select(_fw_dup_chars(F.col("ls")).alias("d")).collect()]
    assert got == [0, 0]


def test_fineweb_punct_endings(spark):
    # terminal set is . ' " ! ? — a line ending in ',' does not count
    row = _fw_row(spark, "one two three.")
    assert row.punct == 1
    row = _fw_row(spark, "one two three,")
    assert row.punct == 0


def test_fineweb_keep_gates(spark):
    """Each published gate flips keep on a constructed doc."""
    from curator_spark.queries.gopherq import q_fineweb_filters

    import os
    import tempfile

    import pandas as pd

    # One window per doc (<=10 words) so fractions are computable by
    # hand. Doc 0: long line ending in '.' -> keep. Doc 1: no terminal
    # punctuation -> punct_frac 0 <= 0.12 -> drop. Doc 2: short lines
    # (every window < 30 chars) -> short_frac 1 >= 0.67 -> drop.
    # Doc 3: the same 10-word window repeated 3x -> dup_frac ~ 2/3 -> drop.
    long_line = "alpha beta gamma delta epsilon zeta eta theta iota kappa."
    w10 = "aa bb cc dd ee ff gg hh ii jj"
    docs = [
        (0, long_line),
        (1, long_line.rstrip(".")),
        (2, "tiny. line. here."),
        (3, " ".join([w10] * 3) + "."),
    ]
    tmp = tempfile.mkdtemp()
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        os.path.join(tmp, "documents.parquet")
    )
    rows = {r.doc_id: r for r in q_fineweb_filters(spark, tmp).collect()}
    assert rows[0].keep
    assert not rows[1].keep and rows[1].punct_line_frac == 0.0
    assert not rows[2].keep and rows[2].short_line_frac == 1.0
    # doc 3: windows = [w10, w10, w10 + "."]? no — 30 words + '.' on the
    # last word -> windows [w10, w10, "aa ... jj."]; first two identical:
    # dup chars = 29, total = 29*3 + 1 = 88
    assert not rows[3].keep
    assert rows[3].dup_line_char_frac == round(29 / 88, 6)


def test_fineweb_zero_exchange_plan(spark):
    from curator_spark.queries.gopherq import q_fineweb_filters

    plan = (
        q_fineweb_filters(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_c4_clean_text_is_fixed_point(spark, tmp_path):
    """Re-running the C4 line filter on its own clean_text keeps every
    line and reproduces the bytes — the cleaning is a projection onto
    its own acceptance set, so one pass is enough at any scale."""
    import os

    import pandas as pd

    from curator_spark.queries.gopherq import q_c4_line_filter

    first = q_c4_line_filter(spark, "/root/testdata/sf0.01").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    d2 = str(tmp_path)
    first.toPandas().assign(
        lang="en", source="s", n_chars=0
    ).to_parquet(os.path.join(d2, "documents.parquet"))
    second = q_c4_line_filter(spark, d2).toPandas().set_index("doc_id")
    f = first.toPandas().set_index("doc_id")
    assert (second["lines_kept"] == second["lines_total"]).all()
    assert (second["clean_text"] == f.loc[second.index, "text"]).all()
