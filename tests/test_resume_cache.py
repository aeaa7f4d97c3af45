"""Resume + cache semantics (reference patterns, SURVEY.md §5.2-5.3).

- kill-and-resume: process k buckets, 'die', rerun → remaining buckets
  only, every bucket exactly once (reference: test_all.py:233-246).
- cache: same input+config again ⇒ no-op; changed config ⇒ new
  fingerprint, full rerun (reference: test_caching.py:12-96).
"""

from __future__ import annotations

from dataclasses import replace

from curator_spark.config import QualityConfig
from curator_spark.pipeline.run import QualityPipeline


def test_partial_run_then_resume(spark, pages_path, cfg, tmp_path):
    pipe = QualityPipeline(str(tmp_path / "out"), cfg)
    r1 = pipe.run(spark, pages_path, max_buckets=5)
    assert len(r1.buckets_processed) == 5

    r2 = pipe.run(spark, pages_path)
    assert not r2.cached
    assert len(r2.buckets_processed) == cfg.n_buckets - 5
    # no bucket processed twice
    assert set(r1.buckets_processed).isdisjoint(r2.buckets_processed)

    m = pipe.metrics(spark, r1.fingerprint).toPandas()
    assert sorted(m["bucket_id"]) == list(range(cfg.n_buckets))
    out = pipe.read_output(spark, r1.fingerprint)
    assert out.count() == m["docs_seen"].sum()
    # every url exactly once across both runs
    assert out.select("url").distinct().count() == out.count()


def test_cache_hit_and_invalidation(spark, pages_path, cfg, tmp_path):
    pipe = QualityPipeline(str(tmp_path / "out"), cfg)
    r1 = pipe.run(spark, pages_path)
    assert not r1.cached

    r2 = pipe.run(spark, pages_path)
    assert r2.cached
    assert r2.fingerprint == r1.fingerprint

    # changed config ⇒ new fingerprint ⇒ full rerun, outputs kept separate
    cfg2 = replace(cfg, max_perplexity=500.0)
    pipe2 = QualityPipeline(str(tmp_path / "out"), cfg2)
    r3 = pipe2.run(spark, pages_path)
    assert not r3.cached
    assert r3.fingerprint != r1.fingerprint
    out1 = pipe.read_output(spark, r1.fingerprint)
    out3 = pipe2.read_output(spark, r3.fingerprint)
    assert out1.count() == out3.count()


def test_failed_row_quarantine(spark, cfg, tmp_path):
    """Rows with undecodable/empty html body → quarantine, strict mode raises
    (reference require_all_responses, config.py:30)."""
    import pytest
    from pyspark.sql import functions as F

    from curator_spark.engine.synth import generate_pages

    pages = generate_pages(spark, 50)
    broken = pages.withColumn(
        "html",
        F.when(F.col("url").endswith("/p/3"), F.lit(b"<html>no body</html>")).otherwise(
            F.col("html")
        ),
    )
    path = str(tmp_path / "pages_broken")
    broken.write.parquet(path)

    pipe = QualityPipeline(str(tmp_path / "out"), cfg)
    with pytest.raises(RuntimeError, match="failed extraction"):
        pipe.run(spark, path)

    # non-strict mode: quarantined but run succeeds
    from dataclasses import replace

    pipe2 = QualityPipeline(str(tmp_path / "out2"), replace(cfg, require_all_rows=False))
    res = pipe2.run(spark, path)
    assert res.failed_rows == 1
    assert res.docs_seen == 49

    # quarantined rows are excluded from the committed output but land
    # in the _failed dir with the sentinel drop_reason (they ride the
    # same single-scan write under bucket_id=-1, relocated pre-commit)
    out = pipe2.read_output(spark, res.fingerprint)
    assert out.count() == 49
    assert out.filter(F.col("url").endswith("/p/3")).count() == 0
    import glob

    fdir = glob.glob(str(tmp_path / "out2" / "data" / "*_failed"))
    assert len(fdir) == 1
    q = spark.read.parquet(fdir[0])
    rows = q.collect()
    assert len(rows) == 1
    assert rows[0]["url"].endswith("/p/3")
    assert rows[0]["drop_reason"] == "extract_failed"
    assert rows[0]["keep"] is False


def test_compaction_preserves_data_and_resume(spark, pages_path, cfg, tmp_path):
    """Small-files compaction: k incremental commits rewrite into ONE
    bucket-partitioned commit; rows, metrics totals, and cache/resume
    state are unchanged, and the reader sees fewer data roots."""
    import glob

    pipe = QualityPipeline(str(tmp_path / "out"), cfg)
    r1 = pipe.run(spark, pages_path, max_buckets=3)
    pipe.run(spark, pages_path, max_buckets=3)
    pipe.run(spark, pages_path)
    fp = r1.fingerprint
    assert len(pipe.table.active_commits()) == 3

    before = pipe.read_output(spark, fp).orderBy("url").collect()
    m_before = pipe.metrics(spark, fp).toPandas()

    sid = pipe.compact(spark, fp)
    assert sid is not None
    # one active commit; replaced ones stay in full history
    assert len(pipe.table.active_commits()) == 1
    assert len(pipe.table.commits()) == 4
    assert len(pipe.table.data_paths()) == 1
    # one file per bucket in the rewritten dir
    files = glob.glob(str(tmp_path / "out" / "data" / "*" / "bucket_id=*" / "*.parquet"))
    per_bucket = {}
    for f in files:
        d = pipe.table.data_paths()[0]
        if f.startswith(d):
            per_bucket.setdefault(f.split("bucket_id=")[1].split("/")[0], []).append(f)
    assert per_bucket and all(len(v) == 1 for v in per_bucket.values())

    after = pipe.read_output(spark, fp).orderBy("url").collect()
    assert after == before
    m_after = pipe.metrics(spark, fp).toPandas()
    assert m_after["docs_seen"].sum() == m_before["docs_seen"].sum()
    assert sorted(m_after["bucket_id"]) == sorted(m_before["bucket_id"])

    # resume still sees every bucket committed: rerun is a cache no-op
    assert pipe.run(spark, pages_path).cached
    # compacting a single commit is a no-op
    assert pipe.compact(spark, fp) is None


def test_rule_core_source_is_in_stage_code_hash(monkeypatch):
    """The pipeline's rule stats come from functions/rule_core.py, so an
    edit there must change every run fingerprint."""
    import inspect

    from curator_spark.functions import rule_core
    from curator_spark.pipeline.fingerprint import stage_code_hash

    before = stage_code_hash()
    real = inspect.getsource

    def edited(obj):
        return real(obj) + ("# edit\n" if obj is rule_core else "")

    monkeypatch.setattr(inspect, "getsource", edited)
    assert stage_code_hash() != before


def test_stage_code_edit_invalidates_fingerprint(tmp_path, cfg, pages_path):
    """Closure-sensitive caching (reference: test_caching.py:76-96 —
    editing a nested closure invalidates): a stage-code change flips
    the run fingerprint; a config-identical, code-identical recompute
    keeps it."""
    import importlib
    import sys
    import textwrap

    from curator_spark.pipeline.fingerprint import (
        run_fingerprint,
        stage_code_hash,
    )

    # config-identical recompute: stable
    assert run_fingerprint(pages_path, cfg) == run_fingerprint(pages_path, cfg)

    # the default hash basis is FULL MODULES — the semantic logic of a
    # stage lives in same-module helpers (_BODY_RE, make_*_udf, ...),
    # not just the thin with_* wrappers (ADVICE r2)
    import types

    from curator_spark.pipeline.fingerprint import _default_stage_objs

    assert all(isinstance(o, types.ModuleType) for o in _default_stage_objs())

    mod_file = tmp_path / "fake_stage.py"
    mod_file.write_text(
        textwrap.dedent(
            """
            _LIMIT = 10  # nested helper the wrapper closes over

            def with_fake(df):
                return df.limit(_LIMIT)
            """
        )
    )
    sys.path.insert(0, str(tmp_path))
    try:
        import fake_stage

        fp1 = run_fingerprint(pages_path, cfg, stage_code_hash([fake_stage]))
        # edit ONLY the nested helper (the wrapper's source is
        # unchanged) -> fingerprint must still change
        mod_file.write_text(
            textwrap.dedent(
                """
                _LIMIT = 20  # nested helper the wrapper closes over

                def with_fake(df):
                    return df.limit(_LIMIT)
                """
            )
        )
        importlib.invalidate_caches()
        fake_stage = importlib.reload(fake_stage)
        import linecache

        linecache.clearcache()
        fp2 = run_fingerprint(pages_path, cfg, stage_code_hash([fake_stage]))
        assert fp1 != fp2
    finally:
        sys.path.remove(str(tmp_path))
        sys.modules.pop("fake_stage", None)
