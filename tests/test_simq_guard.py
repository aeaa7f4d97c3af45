"""embedding_neardup_pairs scale guard: above NEARDUP_BROADCAST_CAP the
query must route through LSH buckets (within-bucket pairs only) instead
of collecting the corpus to the driver (VERDICT r1 item 7)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from curator_spark.queries import simq

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"no testdata at {SF_DIR}"
)


def _exact_pairs(emb: dict[int, np.ndarray]) -> dict[tuple[int, int], float]:
    ids = sorted(emb)
    M = np.stack([emb[i] for i in ids]).astype(np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    out = {}
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if S[a, b] >= simq.NEARDUP_COS:
                out[(ids[a], ids[b])] = round(float(S[a, b]), 6)
    return out


def test_neardup_guard_routes_through_lsh(spark, monkeypatch):
    emb_rows = (
        simq.t(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    )
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb_rows}

    buckets = {
        r["vec_id"]: r["bucket"]
        for r in simq.q_ann_lsh_bucket(spark, SF_DIR).collect()
    }
    expected = {
        (a, b): sim
        for (a, b), sim in _exact_pairs(emb).items()
        if buckets[a] == buckets[b]
    }

    monkeypatch.setattr(simq, "NEARDUP_BROADCAST_CAP", 0)
    got = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in simq.q_embedding_neardup(spark, SF_DIR).collect()
    }
    assert got == pytest.approx(expected)
    # and the guarded path is a strict subset of the exact all-pairs set
    assert set(got) <= set(_exact_pairs(emb))
    # the chosen route is observable (ADVICE r2: no silent
    # exact->approximate switch)
    assert simq.LAST_NEARDUP_ROUTE == "lsh"


def test_neardup_route_decision_needs_no_count_scan(spark, monkeypatch):
    """Route picking reads parquet footers, not a count() pass
    (VERDICT r2 ask #5): with the footer estimate available, a count()
    would crash via this sentinel."""
    def boom(self):
        raise AssertionError("route decision ran a count() scan")

    from pyspark.sql import DataFrame

    e = simq.t(spark, SF_DIR, "embeddings")
    est = simq._parquet_row_estimate(e)
    assert est == e.count()  # exact on an unfiltered local parquet scan

    monkeypatch.setattr(DataFrame, "count", boom)
    df = simq.q_embedding_neardup(spark, SF_DIR)  # must not raise
    assert simq.LAST_NEARDUP_ROUTE == "exact"
    assert df.columns == ["vec_a", "vec_b", "sim"]


def test_parquet_row_count_errors_propagate(spark):
    """Footer counting answers None only for I/O, Arrow and py4j
    failures; a programming error reaches the caller."""
    from curator_spark.queries.common import parquet_row_count

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert parquet_row_count(docs) == docs.count()
    with pytest.raises(AttributeError):
        parquet_row_count(object())  # no inputFiles()
