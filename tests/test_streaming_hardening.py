"""Regression tests for the r4 streaming/engine hardening batch:
checkpoint-content lineage, merged-commit replay keys, batch/stream
NULL-text parity, schema immutability, and domain extraction."""

from __future__ import annotations

import json
import os

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from curator_spark.config import QualityConfig
from curator_spark.engine.schema import PAGES
from curator_spark.pipeline import fsutil
from curator_spark.pipeline.snapshot import SnapshotTable, _merge_metas_default
from curator_spark.streaming.quality_stream import (
    checkpoint_lineage,
    make_snapshot_batch_committer,
)


def _fake_ckpt(tmp_path, name: str, qid: str) -> str:
    d = tmp_path / name
    d.mkdir()
    (d / "metadata").write_text(json.dumps({"id": qid}))
    return str(d)


def test_lineage_is_checkpoint_content_not_path(spark, tmp_path):
    ck1 = _fake_ckpt(tmp_path, "ck", "qid-AAA")
    assert checkpoint_lineage(ck1) == "qid-AAA"
    # same path re-created (deleted checkpoint) -> NEW lineage
    os.remove(os.path.join(ck1, "metadata"))
    with open(os.path.join(ck1, "metadata"), "w") as fh:
        json.dump({"id": "qid-BBB"}, fh)
    assert checkpoint_lineage(ck1) == "qid-BBB"

    table = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [("u", 0, "x")], "url string, bucket_id int, scrubbed_text string"
    ).withColumn("warc_ts", F.current_timestamp())
    commit = make_snapshot_batch_committer(table, ck1)
    commit(df, 0)
    assert len(table.active_commits()) == 1
    # replay of batch 0 under the same committer: no-op
    commit(df, 0)
    assert len(table.active_commits()) == 1
    # a FRESH committer on the same checkpoint (restart): still a no-op
    commit2 = make_snapshot_batch_committer(table, ck1)
    commit2(df, 0)
    assert len(table.active_commits()) == 1
    # a DELETED+recreated checkpoint (new query id) restarts at batch 0
    # under a NEW lineage: the batch must land, not be dropped
    with open(os.path.join(ck1, "metadata"), "w") as fh:
        json.dump({"id": "qid-CCC"}, fh)
    commit3 = make_snapshot_batch_committer(table, ck1)
    commit3(df, 0)
    assert len(table.active_commits()) == 2


def test_merged_stream_keys_still_guard_replays(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "tbl"))
    ck = _fake_ckpt(tmp_path, "ck", "qid-X")
    df = spark.createDataFrame(
        [("u", 0, "x")], "url string, bucket_id int, scrubbed_text string"
    ).withColumn("warc_ts", F.current_timestamp())
    commit = make_snapshot_batch_committer(table, ck)
    commit(df, 0)
    commit(df, 1)
    # a rewrite replaces both streaming commits with the DEFAULT merge
    upd = spark.createDataFrame(
        [("u2", 0, "y")], "url string, bucket_id int, scrubbed_text string"
    )
    table.merge_upsert(spark, upd, key_col="url")
    metas = [c["meta"] for c in table.active_commits()]
    assert any(
        sorted(m.get("stream_batches", [])) == [["qid-X", 0], ["qid-X", 1]]
        for m in metas
    )
    # restart replaying batch 1: must be dropped, not re-appended
    commit2 = make_snapshot_batch_committer(table, ck)
    n_before = len(table.active_commits())
    commit2(df, 1)
    assert len(table.active_commits()) == n_before


def test_merge_metas_default_unions_everything():
    merged = _merge_metas_default(
        [
            {"buckets": {"0": 1}, "failed_rows": 1,
             "stream_lineage": "L", "stream_batch_id": 0},
            {"buckets": {"1": 2}, "stream_batches": [["L", 1], ["M", 0]]},
        ]
    )
    assert merged["buckets"] == {"0": 1, "1": 2}
    assert merged["failed_rows"] == 1
    assert merged["stream_batches"] == [["L", 0], ["L", 1], ["M", 0]]
    assert "stream_lineage" not in merged


def test_stream_null_text_matches_batch_quarantine(spark, tmp_path):
    from curator_spark.streaming.quality_stream import run_available_now

    pages = str(tmp_path / "pages")
    spark.createDataFrame(
        [
            ("https://a.example/1", None, b"", None, "en"),
            ("https://a.example/2", None, b"", "", "en"),
            ("https://a.example/3", None, b"",
             "the quick brown fox is a fine and good animal here " * 3, "en"),
        ],
        PAGES,
    ).write.parquet(pages)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run_available_now(spark, pages, out, ck, QualityConfig())
    got = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in spark.read.parquet(out).collect()
    }
    assert got["https://a.example/1"] == (False, "extract_failed")
    assert got["https://a.example/2"] == (False, "extract_failed")
    assert got["https://a.example/3"][1] != "extract_failed"


def test_generate_pages_profile_does_not_mutate_shared_schema(spark):
    from curator_spark.engine.synth import generate_pages

    n_before = len(PAGES.fields)
    df = generate_pages(spark, 16, with_profile=True)
    assert "profile" in df.columns
    df2 = generate_pages(spark, 16, with_profile=True)  # second call: no dup
    assert df2.columns.count("profile") == 1
    assert len(PAGES.fields) == n_before
    assert "profile" not in [f.name for f in PAGES.fields]


def test_domain_extraction_handles_bare_domain(spark):
    d = spark.createDataFrame(
        [("https://example.com",), ("https://example.com/a/b",),
         ("http://x.org",)],
        ["url"],
    ).select(
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("domain")
    )
    assert [r["domain"] for r in d.collect()] == [
        "example.com", "example.com", "x.org"
    ]


def test_lineage_corrupt_metadata_degrades_to_path(tmp_path):
    # a truncated / partially-written metadata file must fall back to
    # the abspath, not raise JSONDecodeError into the first micro-batch
    d = tmp_path / "ck_corrupt"
    d.mkdir()
    (d / "metadata").write_text('{"id": "qid-trunc')  # cut mid-value
    assert checkpoint_lineage(str(d)) == os.path.abspath(str(d))


def _raise(exc):
    def read_text(spark, path):
        raise exc
    return read_text


@pytest.mark.parametrize(
    "read_text",
    [
        lambda spark, path: '{"id": "qid-tr',  # truncated mid-value
        lambda spark, path: "[1, 2]",  # valid JSON, not an object
        _raise(OSError("disk gone")),
        _raise(Py4JError("remote FS hiccup")),
    ],
    ids=["truncated_json", "non_object_json", "oserror", "py4j_error"],
)
def test_lineage_unreadable_metadata_falls_back(monkeypatch, tmp_path,
                                                read_text):
    monkeypatch.setattr(fsutil, "read_text", read_text)
    ck = str(tmp_path / "ck")
    assert checkpoint_lineage(ck) == os.path.abspath(ck)


def test_lineage_programming_error_propagates(monkeypatch, tmp_path):
    # the catch names the failures of an unreadable file; a bug in the
    # read path must surface, not silently mint a path lineage
    monkeypatch.setattr(fsutil, "read_text", _raise(AttributeError("bug")))
    with pytest.raises(AttributeError, match="bug"):
        checkpoint_lineage(str(tmp_path / "ck"))
