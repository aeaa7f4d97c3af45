"""Spark ↔ DuckDB value parity on a corpus CONTAINING NULL text, for
the word-count family (ADVICE r3 / review follow-up): Spark coalesces
regexp_count(NULL) to -1, and every SQL twin coalesces len(ws) the
same way, so a NULL row hashes identically on both engines and drops
at the same rule."""

from __future__ import annotations

import os

import pytest

from curator_spark.oracle.compare import _oracle_for, compare_query

SRC = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SRC), reason=f"no testdata at {SRC}"
)


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    """sf0.001 with a documents table that includes NULL/empty text."""
    d = tmp_path_factory.mktemp("nullsf")
    for f in os.listdir(SRC):
        if f != "documents.parquet":
            os.symlink(os.path.join(SRC, f), d / f)
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet")).limit(40)
    extra = spark.createDataFrame(
        [
            (900001, None, "en", "web", 0),
            (900002, "", "en", "web", 0),
            (900003, "   \n \t ", "en", "web", 7),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(
        str(d / "_docs_tmp")
    )
    part = [
        f for f in os.listdir(d / "_docs_tmp") if f.endswith(".parquet")
    ][0]
    os.rename(d / "_docs_tmp" / part, d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize(
    "name",
    ["rule_stats", "quality_keepdrop", "token_stats",
     "gopher_quality_docs", "scrub_pii",
     "c4_line_filter", "toxicity_score", "doc_chunks"],
)
def test_word_count_family_null_parity(spark, null_sf_dir, name):
    r = compare_query(spark, name, null_sf_dir)
    assert r.ok, f"{name}: {r.spark_rows}/{r.oracle_rows} {r.detail}"
    if _oracle_for(name, null_sf_dir) is not None:
        assert r.values_match, f"{name}: {r.detail}"
