"""dedup_jaccard_pairs hot-shingle df cap (VERDICT r4 ask #8 /
ADVICE r4): a shingle present in a large fraction of docs must not
expand q^2 pairs in one bucket task, and the capped universe must be
applied identically by the DuckDB oracle so rows stay hash-matched.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from curator_spark.functions.textstats import word_ngrams, words
from curator_spark.oracle.compare import compare_query
from curator_spark.queries.dedupq import JACCARD_MAX_DF, q_dedup_jaccard_pairs


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory) -> str:
    """Synthetic documents table: ONE shingle ('hot shingle') in 50% of
    docs, unique filler everywhere, plus two true near-dup pairs."""
    rows = []
    for i in range(400):
        common = "hot shingle " if i % 2 == 0 else ""
        rows.append((i, f"{common}u{i}a u{i}b u{i}c u{i}d", "en", f"s{i % 4}"))
    # near-dup pairs: long shared tail, one word differs
    base = " ".join(f"dup{j}" for j in range(30))
    rows.append((1000, base + " endA", "en", "s0"))
    rows.append((1001, base + " endB", "en", "s0"))
    d = tmp_path_factory.mktemp("sf_jac")
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    ).assign(n_chars=lambda f: f["text"].str.len()).to_parquet(
        d / "documents.parquet"
    )
    # the oracle harness registers every table as a view; link the
    # untouched ones from the smallest testdata dir
    import os

    from curator_spark.queries.common import TABLES

    for name in TABLES:
        if name != "documents":
            os.symlink(
                f"/root/testdata/sf0.001/{name}.parquet",
                d / f"{name}.parquet",
            )
    return str(d)


def test_hot_shingle_never_exceeds_cap(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = d.select("doc_id", words(F.col("text")).alias("ws")).select(
        "doc_id", F.explode(F.array_distinct(word_ngrams("ws", 2))).alias("sh")
    )
    dfc = sh.groupBy("sh").count()
    # fixture really is pathological: the hot shingle covers 50% of docs
    assert dfc.agg(F.max("count")).first()[0] >= 200
    # after the cap, no bucket the pair expansion sees exceeds MAX_DF
    hot = dfc.filter(F.col("count") > JACCARD_MAX_DF).select("sh")
    kept = sh.join(hot, "sh", "left_anti")
    mx = kept.groupBy("sh").count().agg(F.max("count")).first()[0]
    assert mx <= JACCARD_MAX_DF


def test_pathological_completes_and_matches_oracle(spark, sf_dir):
    r = compare_query(spark, "dedup_jaccard_pairs", sf_dir)
    assert r.ok and r.values_match, r.detail


def test_near_dups_survive_the_cap(spark, sf_dir):
    out = q_dedup_jaccard_pairs(spark, sf_dir).toPandas()
    pairs = set(zip(out["doc_a"], out["doc_b"]))
    assert (1000, 1001) in pairs
    # the hot shingle alone must NOT create pairs among the 200
    # otherwise-unrelated docs that share only it
    unrelated = [p for p in pairs if p[0] < 1000 and p[1] < 1000]
    assert not unrelated
