"""Student–teacher cascade (stages/cascade.py): fidelity vs the full
teacher, routed-cost bound, determinism, band semantics, and the
plan-level claim that student inference is native (no extra Python
stage beyond the one teacher Arrow pass)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from curator_spark.config import QualityConfig
from curator_spark.queries.common import t
from curator_spark.stages.cascade import (
    TEACHER_OUTPUTS,
    cascade_quality,
    teacher_model_ok,
    with_native_features,
)
from curator_spark.stages.score import with_scores

SF_DIR = "/root/testdata/sf0.01"
CFG = QualityConfig()


@pytest.fixture(scope="module")
def docs(spark):
    return t(spark, SF_DIR, "documents").withColumnRenamed(
        "lang", "lang_claim"
    )


@pytest.fixture(scope="module")
def teacher(spark, docs):
    return (
        with_scores(docs, CFG, outputs=TEACHER_OUTPUTS)
        .withColumn("ok", teacher_model_ok(CFG))
        .select("doc_id", "ok")
    )


def test_cascade_fidelity_and_cost(spark, docs, teacher):
    out = cascade_quality(docs, CFG).cache()
    j = out.join(teacher, "doc_id")
    n = j.count()
    agree = (
        j.where(F.col("model_ok") == F.col("ok")).count() / n
    )
    assert agree >= 0.97, agree
    # at query time the teacher pays only for the uncertain band
    routed = out.where(F.col("route") != "student").count() / n
    assert routed <= 0.35, routed
    out.unpersist()


def test_cascade_full_band_equals_teacher(spark, docs, teacher):
    """band (0,1) routes EVERY row to the teacher — the cascade must
    then reproduce the teacher verdict exactly (the fidelity dial's
    end stop)."""
    out = cascade_quality(docs, CFG, band=(0.0, 1.0))
    j = out.join(teacher, "doc_id")
    assert j.where(F.col("model_ok") != F.col("ok")).count() == 0
    assert j.where(F.col("route") == "student").count() == 0


def test_cascade_deterministic(spark, docs):
    a = sorted(
        (r.doc_id, r.student_p, r.route, r.keep)
        for r in cascade_quality(docs, CFG).collect()
    )
    b = sorted(
        (r.doc_id, r.student_p, r.route, r.keep)
        for r in cascade_quality(docs, CFG).collect()
    )
    assert a == b


def test_cascade_null_text_defined(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over the lazy dog "
                        "and the cat sat on the mat with the dog")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cascade_quality(df, CFG).collect()}
    # null text = empty doc: features defined, rules fail it
    assert out[1].keep is False and out[1].student_p is not None
    assert out[2].keep is not None


def test_cascade_single_arrow_stage(spark, docs):
    """Student inference is an inlined native sigmoid: the query-time
    plan carries exactly ONE Arrow node (the routed teacher pass) and
    no row-at-a-time Python."""
    plan = (
        cascade_quality(docs, CFG)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_native_features_no_exchange(spark, docs):
    plan = (
        with_native_features(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_cascade_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    out = cascade_quality(df, CFG)
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id", "student_p", "route", "model_ok", "keep",
    }


def test_train_student_partition_invariant(spark, docs):
    """The fit must be identical under ANY input partitioning: the
    collected sample is sorted by id before the solve, so float
    summation order — and with it the weights' low bits and any
    band-edge route — cannot depend on cluster size."""
    from curator_spark.stages.cascade import train_student

    feats = with_native_features(docs)
    lab = with_scores(feats, CFG, outputs=TEACHER_OUTPUTS).withColumn(
        "model_ok", teacher_model_ok(CFG)
    )
    assert train_student(lab.repartition(3)) == train_student(
        lab.repartition(17)
    )


def test_cascade_band_is_monotone_fidelity_dial(spark, docs, teacher):
    """Widening the band only converts student rows into teacher rows
    (which always agree), so both the routed fraction and the
    teacher-agreement rate must be non-decreasing in band width —
    the documented quality/cost dial, proven on nested bands."""
    stats = []
    for band in ((0.45, 0.55), (0.2, 0.8), (0.0, 1.0)):
        out = cascade_quality(docs, CFG, band=band)
        j = out.join(teacher, "doc_id").cache()
        n = j.count()
        stats.append((
            j.where(F.col("route") != "student").count() / n,
            j.where(F.col("model_ok") == F.col("ok")).count() / n,
        ))
        j.unpersist()
    routed = [r for r, _ in stats]
    agree = [a for _, a in stats]
    assert routed == sorted(routed), routed
    assert agree == sorted(agree), agree
    assert agree[-1] == 1.0  # full band reproduces the teacher
