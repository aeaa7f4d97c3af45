"""Student–teacher cascade for the model-based quality decision (the
DCLM / FineWeb-Edu classifier pattern: train a cheap classifier to
imitate an expensive scorer, spend the scorer only where the cheap
one is unsure).

At 10^12 documents the dominant pipeline cost is the fused Arrow
model stage (langid + perplexity, `stages/score.py`) — the heuristic
rules are free by comparison (native Catalyst expressions). The
cascade:

1. labels a DETERMINISTIC, CAPPED doc-hash sample (~CASCADE_TRAIN_CAP
   rows, modulus from parquet footer counts) with the real teacher,
2. fits a logistic-regression student on NATIVE features only
   (rule stats + per-language marker densities — columns the rules
   stage computes anyway) with a driver-local Newton/IRLS solve over
   the collected sample — a fixed cost independent of corpus size,
3. INLINES the fitted coefficients as column literals — inference is
   a native sigmoid expression inside whole-stage codegen, no ml UDF,
   no Python, no model object shipped to executors,
4. routes only the student's uncertain probability band through the
   teacher, using the null-text trick (the Arrow UDF receives NULL
   for confident rows — cheap-on-empty, same property the
   dedup-index skip path relies on): ONE scan, ONE Arrow stage whose
   useful work is O(band), never a second pass over the corpus.

Final verdict: teacher where routed, student elsewhere; the native
rule flags stay exact for every row. Teacher-vs-cascade agreement and
the routed fraction are the quality/cost dials (band wider -> more
teacher, higher fidelity).

Reference parity: beyond the reference — curator has no cascade; the
nearest analog is its online/batch processor split (cheap vs
expensive request paths chosen per run, reference:
src/bespokelabs/curator/request_processor/). This restates the
published classifier-filter pattern (DCLM, arXiv:2406.11794; FineWeb-
Edu, arXiv:2406.17557) Spark-first as a column-level cascade with the
teacher already in-plan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from curator_spark.config import QualityConfig
from curator_spark.functions import textstats as ts
# single source for the marker lexicons (derived from models.corpora
# WORDS) — the langid_heuristic query and the student share them
from curator_spark.queries.common import parquet_row_count
from curator_spark.queries.textq import MARKERS
from curator_spark.stages.rules import with_rule_flags, with_rule_stats
from curator_spark.stages.score import with_scores

# Native student features, in fixed order (training and the inlined
# inference expression must agree on it).
FEATURES = (
    "f_log_wc",
    "mean_word_length",
    "symbol_ratio",
    "repeated_line_fraction",
    "stopword_density",
) + tuple(f"f_marker_{lang}" for lang in sorted(MARKERS))

CASCADE_TRAIN_CAP = 16384  # ~rows teacher-labeled for the student fit
CASCADE_BAND = (0.2, 0.8)  # student probs inside [lo, hi] go to teacher


def with_native_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rule stats (stages.rules.with_rule_stats, value-identical to the
    pipeline's Arrow-computed ones) plus per-language marker-word
    densities — all JVM-side column expressions, so the student needs
    no Python round-trip.

    Marker hits use the trie-regex `regexp_count` form
    (ts._trie_regex, the stopword-stage trick): an interpreted
    per-word `isin(40)` filter chain costs more than the Arrow
    teacher it is supposed to replace (measured 15.0 s vs the
    teacher's 1.55 s over 320k pages; the trie form drops the student
    pass to a fraction of the teacher's cost — see BENCH/BASELINE.md).
    The student only needs a deterministic signal, not oracle parity,
    so the codegen'd Java-regex variant is always the right form
    here."""
    df = with_rule_stats(df, text_col)
    wc = F.col("word_count")
    df = df.withColumn(
        "f_log_wc", F.log1p(wc.cast("double"))
    )
    for lang in sorted(MARKERS):
        pat = (
            r"(?i)(?<!\S)(?>"
            + ts._trie_regex(MARKERS[lang])
            + r")(?!\S)"
        )
        hits = F.regexp_count(F.col(text_col), F.lit(pat))
        df = df.withColumn(
            f"f_marker_{lang}",
            F.when(wc > 0, hits / wc).otherwise(F.lit(0.0)),
        )
    return df


# The score groups the teacher verdict reads (no scrub rewrite).
TEACHER_OUTPUTS = ("langid", "perplexity")


def teacher_model_ok(cfg: QualityConfig) -> Column:
    """The teacher's verdict on the MODEL checks only (the expensive
    half of the decision; rules stay native and exact everywhere)."""
    return ~(
        (F.col("perplexity") > cfg.max_perplexity)
        | (F.col("lang_pred") != cfg.target_lang)
        | (F.col("lang_score") < cfg.langid_min_score)
    )


def train_student(
    labeled: DataFrame, label_col: str = "model_ok",
    id_col: str = "doc_id",
) -> tuple[float, dict[str, float]]:
    """Fit the logistic student on `FEATURES` -> (intercept, weights).

    ONE collect of the capped training sample (CASCADE_TRAIN_CAP rows
    of ~10 doubles) then a driver-local Newton/IRLS solve in numpy —
    deterministic, ~10 iterations over a (d+1)x(d+1) Hessian. The
    first cut used pyspark.ml LogisticRegression: its LBFGS launched
    ~90 treeAggregate JOBS over a sample that fits in one task, and
    the per-job latency (not the math) made the fit cost ~9 s of the
    cascade's 11.5 s over 320k pages. A capped sample is also the
    scale-correct design — a classifier on ~10 features does not need
    10^11 training rows, and the fit cost is now a fixed constant
    independent of corpus size."""
    import numpy as np

    # sort by id: toPandas order follows partition order, and float
    # summation order moves the fitted weights' low bits — without the
    # sort, a different cluster size could flip a band-edge route
    pdf = labeled.select(
        F.col(id_col).alias("_id"),
        *[F.col(f).cast("double") for f in FEATURES],
        F.col(label_col).cast("double").alias("_y"),
    ).toPandas().sort_values("_id", kind="mergesort", ignore_index=True)
    if len(pdf) == 0:
        # empty corpus: zero weights -> p = 0.5 everywhere -> every row
        # is in-band and routes to the teacher (which sees no rows)
        return 0.0, {f: 0.0 for f in FEATURES}
    X = np.nan_to_num(pdf[list(FEATURES)].to_numpy(dtype=np.float64))
    X = np.hstack([np.ones((len(X), 1)), X])  # bias column first
    y = pdf["_y"].to_numpy(dtype=np.float64)
    lam = 1e-3
    w = np.zeros(X.shape[1])
    reg = lam * np.eye(X.shape[1])
    reg[0, 0] = 0.0  # no penalty on the bias
    for _ in range(50):
        z = np.clip(X @ w, -35, 35)
        p = 1.0 / (1.0 + np.exp(-z))
        grad = X.T @ (y - p) - reg @ w
        h = (X * (p * (1.0 - p) + 1e-9)[:, None]).T @ X + reg
        delta = np.linalg.solve(h, grad)
        w += delta
        if float(np.max(np.abs(delta))) < 1e-10:
            break
    return float(w[0]), {f: float(v) for f, v in zip(FEATURES, w[1:])}


def student_prob_expr(intercept: float, weights: dict[str, float]) -> Column:
    """sigmoid(b0 + sum(w_i * x_i)) as a native column expression."""
    z = F.lit(float(intercept))
    for f, w in weights.items():
        if not math.isfinite(w):
            raise ValueError(f"non-finite student weight for {f}: {w}")
        z = z + F.lit(float(w)) * F.col(f).cast("double")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def cascade_quality(
    docs: DataFrame,
    cfg: QualityConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_cap: int = CASCADE_TRAIN_CAP,
    band: tuple[float, float] = CASCADE_BAND,
) -> DataFrame:
    """The full cascade over a corpus: returns one row per doc with
    `student_p`, `route` ('teacher'|'student'), `model_ok`, and the
    combined `keep` (model verdict AND native rule flags).

    Plan shape: one teacher pass over the ~train_cap-row deterministic
    hash sample (materialized by the driver-local fit), then ONE
    corpus scan where the Arrow stage sees NULL text for every
    confident row — teacher work is O(train_cap + band), and the fit
    itself is a constant independent of corpus size."""
    lo, hi = band
    # NULL text would null every feature (and with it the route and
    # verdict); a missing doc is an empty doc to the filter
    docs = docs.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    feats = with_native_features(docs, text_col)

    # deterministic hash sample of ~train_cap rows: the modulus comes
    # from parquet footer row counts when available (no data pass),
    # falling back to one count() job
    n_est = parquet_row_count(docs) or docs.count()
    train_mod = max(1, int(n_est) // max(1, train_cap))
    train = feats.where(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_mod)) == 0
    )
    labeled = with_scores(
        train, cfg, text_col, outputs=TEACHER_OUTPUTS
    ).withColumn("model_ok", teacher_model_ok(cfg))
    intercept, weights = train_student(labeled, id_col=id_col)

    p = student_prob_expr(intercept, weights)
    scored = feats.withColumn("student_p", p)
    # closed interval: a saturated sigmoid hits exactly 0.0/1.0 in
    # float, and band (0.0, 1.0) must mean "all teacher" (the
    # fidelity end stop), not "all but the saturated rows"
    in_band = (F.col("student_p") >= lo) & (F.col("student_p") <= hi)
    route = F.when(in_band, F.lit("teacher")).otherwise(F.lit("student"))
    scored = scored.withColumn("route", route)
    # null-text trick: the teacher UDF gets NULL for confident rows —
    # the batch scorer's fillna("") makes those entries near-free
    scored = scored.withColumn(
        "_t_text",
        F.when(F.col("route") != "student", F.col(text_col)),
    )
    scored = with_scores(scored, cfg, "_t_text", outputs=TEACHER_OUTPUTS)
    model_ok = F.when(
        F.col("route") != "student", teacher_model_ok(cfg)
    ).otherwise(F.col("student_p") >= 0.5)
    scored = with_rule_flags(scored, cfg).withColumn("model_ok", model_ok)
    rule_ok = ~(
        F.col("fail_rule_word_count")
        | F.col("fail_rule_mean_word_length")
        | F.col("fail_rule_symbol_ratio")
        | F.col("fail_rule_repeated_lines")
        | F.col("fail_rule_stopword_density")
    )
    return scored.select(
        id_col,
        F.round("student_p", 6).alias("student_p"),
        "route",
        "model_ok",
        (F.col("model_ok") & rule_ok).alias("keep"),
    )
