"""Registry queries vs DuckDB oracle — the driver's correctness gate,
run in-repo at sf0.001 so regressions surface before the round check.

Mirrors the reference's golden-output strategy (SURVEY §5.1): an
independent engine (DuckDB) computes the expected values from the same
parquet bytes; we compare row counts, column sets, and an
order-insensitive value hash.
"""

from __future__ import annotations

import os

import pytest

from curator_spark.oracle.compare import _oracle_for, compare_query
from curator_spark.queries import ALL_QUERIES, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"no testdata at {SF_DIR}"
)


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_matches_oracle(spark, name):
    # The driver's canonicalizer (pandas sort_values over all columns)
    # cannot hash array/map cells — any complex-typed output column in
    # a driver-measured query is an automatic red CORRECTNESS row, so
    # forbid them for the measured window.
    from pyspark.sql.types import ArrayType, MapType, StructType

    if name in QUERIES:
        schema = QUERIES[name](spark, SF_DIR).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not bad, f"{name}: complex-typed output columns {bad}"

    r = compare_query(spark, name, SF_DIR)
    assert r.ok, f"{name}: {r.spark_rows}/{r.oracle_rows} {r.detail}"
    if _oracle_for(name, SF_DIR) is not None:
        assert r.values_match, f"{name}: value hash mismatch: {r.detail}"


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert set(E.oracle_sql()) <= set(E.queries())


def test_measured_window_pinned():
    """The driver hash-gates the FIRST 50 registry entries in dict
    order. Pin the exact membership AND order as a literal so an
    accidental registry edit (reorder, swap, insertion above the cap)
    cannot silently change what the correctness gate measures. The
    one deliberate change vs CORRECTNESS_r04.json is the r5 swap:
    decontaminate_hashed in, error_props_histogram out of the window
    (VERDICT r4 ask #6; the query has since been deleted)."""
    from curator_spark.queries import MEASURED, QUERIES

    expected = ["quality_full_docs",
    "rule_stats",
    "langid_heuristic",
    "quality_keepdrop",
    "scrub_pii",
    "toxicity_score",
    "model_scores_pinned",
    "ccnet_ppl_buckets",
    "token_stats",
    "doc_fingerprint",
    "doc_winnowing",
    "doc_chunks",
    "gopher_repetition",
    "gopher_quality_docs",
    "c4_line_filter",
    "dedup_exact",
    "dedup_normalized",
    "dedup_url",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "boilerplate_segments",
    "substring_dup_spans",
    "knn_brute",
    "ann_lsh_bucket",
    "ann_ivf",
    "embedding_neardup_pairs",
    "centroid_assign",
    "semdedup_prune",
    "decontaminate",
    "decontaminate_hashed",
    "decontaminate_fuzzy",
    "sample_stratified",
    "downsample_lang",
    "shard_packing",
    "curation_e2e",
    "dsir_importance",
    "domain_quota",
    "temperature_rebalance",
    "pricing_summary",
    "value_moving_avg",
    "top_customers_revenue",
    "orders_no_bigline",
    "users_by_event_type",
    "latest_event_per_user",
    "sessionize",
    "asof_last_click_before_error",
    "distractor_sample",
    "json_repair_stats"]
    assert MEASURED == expected
    assert list(QUERIES) == expected


def test_extra_list_pinned():
    """EXTRA holds only queries that are the sole query for their code
    path (the registry docstring names each one's reason). Pin the list
    so a look-alike variant of a measured operator cannot slip back in,
    and so a deletion must also remove the name here."""
    from curator_spark.queries import ALL_QUERIES, EXTRA, EXTRA_QUERIES

    expected = [
        "quality_full_text",
        "dedup_clusters_star",
        "boilerplate_scrub",
        "events_type_hour_cube",
        "corpus_profile_sketch",
        "url_filter",
        "fineweb_filters",
        "substring_dup_scrub",
        "quality_cascade",
    ]
    assert EXTRA == expected
    assert list(EXTRA_QUERIES) == expected
    assert len(ALL_QUERIES) == 59
