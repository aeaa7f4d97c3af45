"""functions/topk.mark_top_frac — exact threshold-style global top-K.

The contract: selected == (row_number() OVER (ORDER BY value DESC,
id ASC) <= floor(frac * n)), but computed WITHOUT an unpartitioned
window. Equality is pinned against an independent pandas rank across
adversarial distributions (ties at the boundary, all-equal values,
skew), across a degraded sketch (accuracy=1 forces every residual
branch), and through the _SketchMiss fallback.
"""

from __future__ import annotations

import math
import random

import pandas as pd
import pytest

from curator_spark.functions import topk
from curator_spark.functions.topk import mark_top_frac


def _expected(df: pd.DataFrame, frac: float) -> set[int]:
    n_keep = int(frac * len(df))
    # Spark ranks NaN ABOVE every other double; pandas sort_values puts
    # NaN last regardless of direction — order by an explicit is-nan
    # key so the oracle matches Spark's (value DESC, id ASC) semantics
    d = df.assign(_nan=df["v"].isna())
    return set(
        d.sort_values(["_nan", "v", "id"], ascending=[False, False, True])[
            "id"
        ].head(n_keep)
    )


def _check(spark, rows: list[tuple[int, float]], frac: float) -> None:
    pdf = pd.DataFrame(rows, columns=["id", "v"])
    # tuples, not the pandas frame: createDataFrame(pdf) silently
    # converts float NaN to NULL (out of mark_top_frac's contract);
    # the tuple path preserves NaN as a real double
    sdf = spark.createDataFrame(rows, "id bigint, v double")
    out = mark_top_frac(sdf, "v", "id", frac).toPandas()
    got = set(out.loc[out["selected"], "id"])
    assert got == _expected(pdf, frac), (
        f"frac={frac} n={len(rows)}: got {len(got)} keep, "
        f"want {len(_expected(pdf, frac))}"
    )


DISTRIBUTIONS = {
    "distinct": lambda rng, n: [(i, float(rng.randrange(10 * n))) for i in range(n)],
    "heavy_ties": lambda rng, n: [(i, float(rng.randrange(5))) for i in range(n)],
    "all_equal": lambda rng, n: [(i, 7.25) for i in range(n)],
    "boundary_tie_block": lambda rng, n: [
        (i, 1.0 if i < n // 2 else float(2 + rng.randrange(3)))
        for i in range(n)
    ],
    "negatives_and_zero": lambda rng, n: [
        (i, round(rng.uniform(-1e-5, 1e-5), 6)) for i in range(n)
    ],
    # NaN ranks first in Spark; a NaN block straddling the boundary
    # exercises the NaN-safe _negkey (plain -v would skip NaN rows)
    "nan_block": lambda rng, n: [
        (i, float("nan") if i < n // 3 else float(rng.randrange(9)))
        for i in range(n)
    ],
    "infinities": lambda rng, n: [
        (i, [float("inf"), float("-inf"), 0.0, 1.5][i % 4])
        for i in range(n)
    ],
    # every value NaN: the fused prefetch sketch returns NULL, so the
    # resolver must re-sketch and then land entirely in the NaN
    # tie-split branch (boundary is a pure id split)
    "all_nan": lambda rng, n: [(i, float("nan")) for i in range(n)],
}


@pytest.mark.parametrize("dist", sorted(DISTRIBUTIONS))
@pytest.mark.parametrize("frac", [0.2, 0.5])
def test_matches_rank_semantics(spark, dist, frac):
    rng = random.Random(hash(dist) & 0xFFFF)
    _check(spark, DISTRIBUTIONS[dist](rng, 400), frac)


def test_degraded_sketch_still_exact(spark, monkeypatch):
    # accuracy=1 gives the sketch maximal rank error, forcing the
    # excess / tie / deficit residual branches — the answer must not
    # change (the exact counts + bounded probes absorb sketch error)
    monkeypatch.setattr(topk, "SKETCH_ACC", 1)
    rng = random.Random(11)
    for dist in sorted(DISTRIBUTIONS):
        _check(spark, DISTRIBUTIONS[dist](rng, 300), 0.25)


def test_sketch_miss_falls_back_to_rank(spark, monkeypatch):
    monkeypatch.setattr(topk, "RESIDUAL_CAP", 0)
    rng = random.Random(7)
    _check(spark, DISTRIBUTIONS["distinct"](rng, 200), 0.3)
    _check(spark, DISTRIBUTIONS["all_equal"](rng, 200), 0.3)


def test_edge_fracs(spark):
    rows = [(i, float(i % 13)) for i in range(50)]
    _check(spark, rows, 0.0)    # n_keep = 0 -> nothing selected
    _check(spark, rows, 1.0)    # everything selected
    _check(spark, rows, 0.999)  # floor() boundary
    _check(spark, [(0, 1.0)], 0.5)  # single row, n_keep = 0
    _check(spark, [(0, 1.0)], 1.0)  # single row, n_keep = 1


def test_no_window_in_plan(spark):
    # the scale property this module exists for: the normal path has
    # NO window operator (the rank fallback is the only one, and it
    # only fires on a _SketchMiss)
    rows = [(i, float(i)) for i in range(300)]
    sdf = spark.createDataFrame(rows, ["id", "v"])
    out = mark_top_frac(sdf, "v", "id", 0.2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_returned_frame_reads_probe_cache(spark):
    # perf contract: the probes materialize the scored input, and the
    # RETURNED frame must read that in-memory relation rather than
    # recompute its lineage (unpersisting before return measured 3-4x
    # on dsir_importance, whose lineage is explode + join + agg)
    rows = [(i, float(i % 97)) for i in range(500)]
    sdf = spark.createDataFrame(rows, ["id", "v"])
    out = mark_top_frac(sdf, "v", "id", 0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    # and the live entry is bounded at one: a second call releases it
    from curator_spark.functions.topk import _LIVE_CACHE

    mark_top_frac(sdf, "v", "id", 0.2)
    assert len(_LIVE_CACHE) == 1


class _Cached:
    def __init__(self, exc=None):
        self.exc = exc

    def unpersist(self):
        if self.exc is not None:
            raise self.exc


def test_release_probe_cache_swallows_only_py4j_errors(monkeypatch):
    # an entry whose session is stopped raises a Py4JError on unpersist:
    # it is dropped and the rest of the cache is still released
    from py4j.protocol import Py4JError

    cache = [_Cached(), _Cached(Py4JError("session stopped")), _Cached()]
    monkeypatch.setattr(topk, "_LIVE_CACHE", cache)
    topk.release_probe_cache()
    assert cache == []
    # a programming error is not swallowed
    monkeypatch.setattr(topk, "_LIVE_CACHE", [_Cached(AttributeError("bug"))])
    with pytest.raises(AttributeError):
        topk.release_probe_cache()


def test_dsir_plan_has_no_unpartitioned_window(spark):
    from curator_spark.queries.mixq import q_dsir_importance

    df = q_dsir_importance(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    n_keep = math.floor(0.2 * df.count())
    assert df.filter("selected").count() == n_keep


# ---------------------------------------------------------------------------
# salted_partition_rank — exact per-partition rank without mega-tasks.
# ---------------------------------------------------------------------------


def test_salted_rank_matches_plain_window(spark):
    # skewed fixture: one lang holds 50% of all rows (the web-corpus
    # English case the plain PARTITION BY lang window single-tasks)
    from pyspark.sql import functions as F

    from curator_spark.functions.topk import salted_partition_rank

    rows = [(i, "en" if i % 2 == 0 else f"l{i % 7}") for i in range(2000)]
    d = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = salted_partition_rank(
        d, "lang", F.md5(F.col("doc_id").cast("string")), "doc_id"
    ).toPandas()

    import hashlib

    pdf = got.copy()
    pdf["k"] = pdf["doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )
    pdf = pdf.sort_values(["lang", "k", "doc_id"])
    pdf["want"] = pdf.groupby("lang").cumcount() + 1
    assert (pdf["rk"] == pdf["want"]).all()


def test_salted_rank_plan_partitions_by_salt(spark):
    # the corpus-side window must partition by (lang, salt): the plan's
    # window spec over the big input carries BOTH columns, so no
    # partition value maps to a single task
    from pyspark.sql import functions as F

    from curator_spark.functions.topk import salted_partition_rank

    d = spark.createDataFrame(
        [(i, "en") for i in range(100)], ["doc_id", "lang"]
    )
    out = salted_partition_rank(
        d, "lang", F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # the row_number window's partition spec names lang AND _salt
    win_specs = re.findall(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan)
    assert any("lang" in s and "_salt" in s for s in win_specs), plan


def test_salted_rank_no_straggler_partition(spark):
    # with one lang = 50% of rows, the largest (lang, salt) task slice
    # must be ~1/16 of that lang, not the whole lang
    from pyspark.sql import functions as F

    from curator_spark.functions.topk import salted_partition_rank

    rows = [(i, "en" if i < 8000 else f"l{i % 5}") for i in range(16000)]
    d = spark.createDataFrame(rows, ["doc_id", "lang"])
    slices = (
        d.withColumn("_k", F.md5(F.col("doc_id").cast("string")))
        .groupBy("lang", F.substring("_k", 1, 1).alias("s"))
        .count()
        .toPandas()
    )
    en = slices[slices["lang"] == "en"]["count"]
    assert en.max() < 8000 * 0.15  # ~1/16 each, generous bound
