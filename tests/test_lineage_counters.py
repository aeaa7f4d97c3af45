"""The per-bucket lineage counters committed in the manifest meta equal
the same counters recomputed in pandas from the committed output rows:
docs_seen, docs_kept, dropped_by_rule and scrub_counts, including the
NULL scrub sums of a bucket whose rows all carry NULL counts (a bucket
of only dup_of_history rows)."""

from __future__ import annotations

import pandas as pd

from curator_spark.config import QualityConfig
from curator_spark.engine.synth import write_pages
from curator_spark.pipeline.dedup_index import DedupIndex
from curator_spark.pipeline.run import QualityPipeline

SCRUB_KEYS = ("emails", "ids", "phones", "toxic")


def _committed(pipe: QualityPipeline, fp: str) -> dict[int, dict]:
    buckets: dict[int, dict] = {}
    for c in pipe.table.active_commits():
        if c["meta"].get("run_fingerprint") == fp:
            buckets.update({int(b): bm for b, bm in c["meta"]["buckets"].items()})
    return buckets


def _scrub_sum(counts: pd.Series, key: str) -> int | None:
    vals = [int(s[key]) for s in counts if s is not None and s[key] is not None]
    return sum(vals) if vals else None  # SQL sum: NULL over all-NULL rows


def _recomputed(out: pd.DataFrame, n_buckets: int) -> dict[int, dict]:
    buckets = {}
    for b in range(n_buckets):
        g = out[out["bucket_id"] == b]
        dropped = g[~g["keep"]]["drop_reason"].value_counts()
        buckets[b] = {
            "docs_seen": len(g),
            "docs_kept": int(g["keep"].sum()),
            "dropped_by_rule": {k: int(v) for k, v in dropped.items()},
            "scrub_counts": {
                k: (_scrub_sum(g["scrub_counts"], k) if len(g) else 0)
                for k in SCRUB_KEYS
            },
        }
    return buckets


def _assert_meta_matches_output(spark, pipe, fp) -> pd.DataFrame:
    out = pipe.read_output(spark, fp).toPandas()
    assert _committed(pipe, fp) == _recomputed(out, pipe.cfg.n_buckets)
    return out


def test_bucket_counters_match_output_plain_run(spark, pages_path, cfg, tmp_path):
    pipe = QualityPipeline(str(tmp_path / "out"), cfg)
    res = pipe.run(spark, pages_path)
    out = _assert_meta_matches_output(spark, pipe, res.fingerprint)
    assert (~out["keep"]).any() and out["keep"].any()


def test_bucket_counters_match_output_dedup_run(spark, tmp_path):
    # crawl2 re-crawls crawl1's 400 pages plus 20 fresh ones, so of
    # its 32 buckets at least 12 hold only dup_of_history rows (NULL
    # scrub counts) and the rest mix dups with freshly scored rows.
    c1, c2 = str(tmp_path / "crawl1"), str(tmp_path / "crawl2")
    write_pages(spark, c1, 400)
    write_pages(spark, c2, 420)
    cfg = QualityConfig()
    idx = DedupIndex(str(tmp_path / "idx"), key_expr="url")
    p1 = QualityPipeline(str(tmp_path / "out1"), cfg,
                         dedup_index=idx, update_dedup_index=True)
    p1.run(spark, c1)
    p2 = QualityPipeline(str(tmp_path / "out2"), cfg, dedup_index=idx)
    r2 = p2.run(spark, c2)
    out = _assert_meta_matches_output(spark, p2, r2.fingerprint)

    meta = _committed(p2, r2.fingerprint)
    dup = out["drop_reason"] == "dup_of_history"
    all_dup = {b for b, g in dup.groupby(out["bucket_id"]) if g.all()}
    mixed = {b for b, g in dup.groupby(out["bucket_id"]) if 0 < g.sum() < len(g)}
    assert all_dup and mixed
    for b in all_dup:
        assert meta[b]["scrub_counts"] == dict.fromkeys(SCRUB_KEYS)
