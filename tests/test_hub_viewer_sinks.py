"""S8 hub-layout sink and S9 viewer spool sink."""

from __future__ import annotations

import json
import os

import pytest

from curator_spark.sources.hub_sink import push_to_hub_layout
from curator_spark.sources.viewer_sink import ViewerSession


def test_hub_layout_shards_and_card(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    repo = str(tmp_path / "repo")
    manifest = push_to_hub_layout(df, repo, "user/tiny-ds")

    # hub naming contract: data/train-XXXXX-of-XXXXX.parquet
    n = manifest["n_shards"]
    assert n >= 1
    names = sorted(os.listdir(os.path.join(repo, "data")))
    assert names == [f"train-{i:05d}-of-{n:05d}.parquet" for i in range(n)]
    assert not os.path.exists(os.path.join(repo, "_tmp_write"))

    # shards round-trip to the same rows
    back = spark.read.parquet(os.path.join(repo, "data"))
    assert back.count() == 100
    assert sorted(r["v"] for r in back.collect()) == [2 * i for i in range(100)]

    # card exists, names the dataset, embeds a sample row
    card = open(manifest["card_path"], encoding="utf-8").read()
    assert "tiny-ds" in card and card.startswith("---")
    assert '"v"' in card


def test_viewer_session_lifecycle_and_events(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"resp-{i}") for i in range(20)], ["doc_id", "response"]
    ).repartition(4)
    sess = ViewerSession(str(tmp_path), metadata={"run": "t"})
    n = sess.stream_responses(df, idx_col="doc_id")
    assert n == 20

    manifest = json.load(open(os.path.join(sess.dir, "session.json")))
    assert manifest["status"] == ViewerSession.COMPLETED
    assert manifest["metadata"] == {"run": "t"}

    events = sess.read_events()
    assert len(events) == 20
    got = {e["idx"]: e["response_data"]["response"] for e in events}
    assert got == {i: f"resp-{i}" for i in range(20)}
    # idx is carried as the event key, not duplicated in the payload
    assert "doc_id" not in events[0]["response_data"]


def test_hub_shard_count_compression_aware(spark, tmp_path):
    # logical estimate of E bytes must plan ~E/(ratio*target) shards,
    # not E/target (the logical size is decompressed; the target is
    # on-disk parquet bytes)
    from curator_spark.sources import hub_sink as hs

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    est = hs._estimate_bytes(df)
    assert est  # range() exposes a size estimate in Spark 4
    import math

    target = max(1, est // 6)  # force a multi-shard plan
    man = hs.push_to_hub_layout(df, str(tmp_path / "r1"), "u/d",
                                target_shard_bytes=target)
    expect = max(1, math.ceil(est / hs.PARQUET_COMPRESSION_RATIO / target))
    assert man["n_shards"] == expect
    # no estimate over an input without size statistics (the optimizer
    # would report a scaled sentinel), and a join's estimate is capped
    # at its inputs' total size instead of their product
    local = spark.createDataFrame([(1, "a")], "id long, s string")
    assert hs._estimate_bytes(local.select("id")) is None
    joined = df.join(df.withColumnRenamed("v", "w"), "id")
    assert hs._estimate_bytes(joined) <= 2 * est


def test_hub_fallback_row_floor(spark, tmp_path, monkeypatch):
    # no byte estimate + coalesced single partition: the row-count
    # floor must prevent one monolithic shard
    from curator_spark.sources import hub_sink as hs

    df = spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1)
    monkeypatch.setattr(hs, "_estimate_bytes", lambda _df: None)
    monkeypatch.setattr(hs, "_estimate_rows", lambda _df: 1_600_000)
    monkeypatch.setattr(hs, "FALLBACK_ROWS_PER_SHARD", 500_000)
    man = hs.push_to_hub_layout(df, str(tmp_path / "r2"), "u/d")
    assert man["n_shards"] == 4  # ceil(1.6M / 500k), not 1


def test_size_estimate_errors_propagate():
    """Only a py4j failure means "no estimate"; a programming error in
    the estimators is not swallowed."""
    from curator_spark.sources.hub_sink import _estimate_bytes, _estimate_rows

    for estimate in (_estimate_bytes, _estimate_rows):
        with pytest.raises(AttributeError):
            estimate(object())  # no _jdf


def test_viewer_failed_attempt_cleans_tmp_spool(spark, tmp_path):
    # a task attempt dying mid-write (here: an upstream UDF raising
    # while spool() iterates its rows) must remove its .attempt-* temp
    # file instead of leaving an orphan on the executor's disk
    import glob

    import pytest
    from pyspark.sql import functions as F

    @F.udf("string")
    def boom(x):
        if x == 5:
            raise ValueError("boom")
        return str(x)

    df = spark.range(10).select(
        "id", boom("id").alias("r")
    ).coalesce(1)
    sess = ViewerSession(str(tmp_path), metadata={})
    with pytest.raises(Exception):
        sess.stream_responses(df, idx_col="id")
    orphans = glob.glob(
        os.path.join(sess.dir, "**", "*.attempt-*"), recursive=True
    )
    assert not orphans, f"orphan attempt spool left behind: {orphans}"
