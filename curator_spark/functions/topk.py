"""Exact global top-K selection WITHOUT a global rank window.

`row_number() OVER (ORDER BY key DESC)` with no partitioning moves the
entire input into ONE shuffle partition — invisible at sf0.1, a
single-task total sort at 100 TB. This module computes the SAME
selected set (top `n_keep` rows by (value DESC, id ASC)) as a
shuffle-free filter against an exactly-resolved boundary element:

1. SKETCH: `percentile_approx(value, 1 - frac, ACC)` gives a pivot
   `tau0` that is an actual data value whose rank is within ~n/ACC of
   the boundary (one pass, map-side mergeable sketch, no shuffle of
   the data — only the O(ACC) sketch moves).
2. EXACT COUNTS: one aggregate computes `c_gt = #(value > tau0)` and
   `c_eq = #(value == tau0)` (bit-exact compares: tau0 IS one of the
   rounded data values).
3. BOUNDARY RESOLUTION: the true boundary element (the n_keep-th in
   (value DESC, id ASC) order) is then pinned with work bounded by the
   sketch's rank error (~n/ACC rows), never by n:
   - boundary above the pivot (c_gt >= n_keep): it is the
     (excess+1)-th smallest of {value > tau0} where
     excess = c_gt - n_keep <= rank error — a TakeOrdered limit.
   - boundary below the pivot (c_gt + c_eq < n_keep): the deficit-th
     largest of {value < tau0}, deficit <= rank error — same shape.
   - boundary INSIDE the pivot's tie set: the boundary value is tau0
     and the tie split is the `need`-th smallest id among the ties,
     resolved by the same sketch+exact-count+bounded-probe scheme on
     the (unique) id column — so even a pathological tie set holding
     half the corpus never lands in one task.
4. FILTER: `selected = value > w* OR (value == w* AND id <= id*)` — a
   narrow per-row predicate, zero exchanges, stable under retries and
   repartitioning.

If the sketch is pathologically off (residual beyond RESIDUAL_CAP
rows), the code falls back to the exact global-rank window — correct
at any scale, just the slow plan; the fallback is also the oracle
formulation, so tests can pin equality.

Driver cost: 2-4 tiny scalar actions (sketch+counts, probes). The
input should be persisted by the caller when its lineage is expensive.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SKETCH_ACC = 100_000     # percentile_approx accuracy: rank error <~ n/ACC
RESIDUAL_CAP = 2_000_000  # max rows a boundary probe may gather

# The most recent mark_top_frac persist, released at the NEXT call.
# The returned frame's predicate references the persisted input, so
# unpersisting before return (the first leak fix) made every caller
# RECOMPUTE the scored lineage at execution time — measured 3-4x on
# dsir_importance, whose lineage is a word-explode + join + agg. One
# live entry is the right residency: the probes already paid to
# materialize it, the scored projection is narrow (id + double), and
# repeated invocations (bench best-of loops) release the prior entry
# instead of accumulating.
_LIVE_CACHE: list[DataFrame] = []


@dataclass(frozen=True)
class Boundary:
    """The exact n_keep-th element under (value DESC, id ASC)."""

    value: float
    id: int  # noqa: A003 — mirrors the column it thresholds

    def selects(self, value: Column, id_col: Column) -> Column:
        return (value > self.value) | (
            (value == self.value) & (id_col <= self.id)
        )


def _kth_smallest_unique(
    df: DataFrame, col: str, k: int, n: int
) -> int:
    """Exact k-th smallest of a UNIQUE-valued column, sketch-guided.

    Work bounded by the sketch rank error (~n/SKETCH_ACC), not n: one
    percentile probe, one exact count, one residual TakeOrdered of
    |count - k| rows. Falls back to a direct TakeOrdered(k) when k is
    already small."""
    if k <= 0:
        raise ValueError("k must be positive")
    if k <= RESIDUAL_CAP:
        row = (
            df.orderBy(F.col(col).asc())
            .limit(k)
            .agg(F.max(col).alias("b"))
            .first()
        )
        return row["b"]
    p = min(1.0, max(0.0, k / n))
    d0 = df.agg(
        F.percentile_approx(col, F.lit(p), F.lit(SKETCH_ACC)).alias("d0")
    ).first()["d0"]
    c_le = df.agg(F.count_if(F.col(col) <= d0).alias("c")).first()["c"]
    if c_le == k:
        return d0
    if c_le > k:
        # drop the (c_le - k) largest below the probe; the k-th
        # smallest is then the max of the remaining, i.e. the
        # (c_le - k + 1)-th largest <= d0
        resid = c_le - k + 1
        if resid > RESIDUAL_CAP:
            raise _SketchMiss()
        return (
            df.filter(F.col(col) <= d0)
            .orderBy(F.col(col).desc())
            .limit(resid)
            .agg(F.min(col).alias("b"))
            .first()["b"]
        )
    resid = k - c_le
    if resid > RESIDUAL_CAP:
        raise _SketchMiss()
    return (
        df.filter(F.col(col) > d0)
        .orderBy(F.col(col).asc())
        .limit(resid)
        .agg(F.max(col).alias("b"))
        .first()["b"]
    )


class _SketchMiss(Exception):
    """Sketch residual exceeded RESIDUAL_CAP; caller falls back."""


def _negkey(v: Column, i: Column) -> Column:
    """Struct whose ASC order equals the rank order (value DESC,
    id ASC), NaN-SAFE: Spark ranks NaN above every other double (NaN
    rows come FIRST under value DESC, and NaN > x comparisons are
    true), but -NaN is still NaN and would sort LAST in a plain
    (-value, id) struct min — silently skipping a NaN boundary row.
    A leading not-NaN flag restores the order, and disambiguates
    reconstruction (value=+inf gives nw=-inf with flag 1; NaN gives
    flag 0, nw unused)."""
    flag = F.when(F.isnan(v), F.lit(0)).otherwise(F.lit(1))
    nw = F.when(F.isnan(v), F.lit(0.0)).otherwise(-v)
    return F.struct(flag.alias("nn"), nw.alias("nw"), i.alias("i"))


def _boundary_of(row) -> Boundary:
    return Boundary(
        value=float("nan") if row["nn"] == 0 else -row["nw"], id=row["i"]
    )


def _resolve_boundary(
    scored: DataFrame,
    value_col: str,
    id_col: str,
    n_keep: int,
    n: int,
    tau0: float | None = None,
    c_nan: int | None = None,
) -> Boundary:
    v, i = F.col(value_col), F.col(id_col)
    if c_nan is None:
        # caller didn't prefetch the sketch (mark_top_frac fuses it
        # into its count job); a caller-supplied tau0 may sit up to
        # one rank off the n_keep/n fraction — the exact counts below
        # absorb that into the residual budget
        first = scored.agg(
            F.percentile_approx(
                value_col, F.lit(1.0 - n_keep / n), F.lit(SKETCH_ACC)
            ).alias("t"),
            F.count_if(F.isnan(v)).alias("c_nan"),
        ).first()
        tau0, c_nan = first["t"], first["c_nan"]
    # NOTE: a prefetched c_nan with tau0=None (all-NaN column makes
    # percentile_approx return NULL) deliberately does NOT re-sketch —
    # the NaN branch below either resolves on c_nan alone or
    # re-sketches the NaN-filtered remainder itself.
    if c_nan:
        # NaN ranks above every other double in Spark, so the first
        # c_nan ranks are the NaN rows — but percentile_approx cannot
        # place NaN (it returns NULL/garbage on NaN-heavy input), so
        # split them out: boundary inside the NaN block is a pure id
        # tie-split; otherwise resolve on the non-NaN remainder (NaN
        # rows then satisfy `value > w*` under NaN-greatest compare).
        if n_keep <= c_nan:
            tie_id = _kth_smallest_unique(
                scored.filter(F.isnan(v)).select(id_col),
                id_col, n_keep, c_nan,
            )
            return Boundary(value=float("nan"), id=tie_id)
        scored = scored.filter(~F.isnan(v))
        n_keep -= c_nan
        n -= c_nan
        tau0 = scored.agg(
            F.percentile_approx(
                value_col, F.lit(1.0 - n_keep / n), F.lit(SKETCH_ACC)
            ).alias("t")
        ).first()["t"]
    if tau0 is None:
        # no pivot despite 0 < n_keep < n non-NaN rows — only reachable
        # outside the non-NULL contract; the exact rank fallback still
        # answers correctly rather than comparing against NULL below
        raise _SketchMiss()
    cnt = scored.agg(
        F.count_if(v > tau0).alias("c_gt"),
        F.count_if(v == tau0).alias("c_eq"),
    ).first()
    c_gt, c_eq = cnt["c_gt"], cnt["c_eq"]

    if c_gt >= n_keep:
        # boundary strictly above the pivot: (excess+1)-th smallest of
        # {value > tau0} under (value ASC, id DESC)
        excess = c_gt - n_keep
        if excess + 1 > RESIDUAL_CAP:
            raise _SketchMiss()
        row = (
            scored.filter(v > tau0)
            .orderBy(v.asc(), i.desc())
            .limit(excess + 1)
            # composite max under (value DESC, id ASC) == struct min of
            # the NaN-safe negated key; negation is exact for IEEE
            .agg(F.min(_negkey(v, i)).alias("b"))
            .first()["b"]
        )
        return _boundary_of(row)
    need = n_keep - c_gt
    if need <= c_eq:
        # boundary inside the pivot's tie set: value tau0, id = the
        # need-th smallest id among ties (ids unique)
        tie_id = _kth_smallest_unique(
            scored.filter(v == tau0).select(id_col), id_col, need, c_eq
        )
        return Boundary(value=tau0, id=tie_id)
    # boundary below the pivot: deficit-th largest of {value < tau0}
    deficit = need - c_eq
    if deficit > RESIDUAL_CAP:
        raise _SketchMiss()
    row = (
        scored.filter(v < tau0)
        .orderBy(v.desc(), i.asc())
        .limit(deficit)
        # v < tau0 excludes NaN (NaN compares greater), but use the
        # same NaN-safe key for uniformity
        .agg(F.max(_negkey(v, i)).alias("b"))
        .first()["b"]
    )
    return _boundary_of(row)


def release_probe_cache() -> None:
    """Unpersist the probe cache the last `mark_top_frac` call left
    live. Always safe (Spark recomputes on next access); call it when
    the returned frame's consumer has run its action and the storage
    memory should go back — e.g. between pipeline stages in a
    long-lived driver. A no-op when nothing is cached."""
    while _LIVE_CACHE:
        try:
            _LIVE_CACHE.pop().unpersist()
        except Py4JError:
            pass  # prior entry's session may already be stopped


def mark_top_frac(
    scored: DataFrame,
    value_col: str,
    id_col: str,
    frac: float,
    out_col: str = "selected",
) -> DataFrame:
    """Append `out_col` = True for exactly the top floor(frac * n)
    rows by (value DESC, id ASC), computed threshold-style (module
    docstring). Persists `scored` for the duration of the scalar
    probes; the returned frame filters the persisted input with a
    narrow predicate (no window, no extra shuffle).

    floor() here means floor of the IEEE-double product, i.e.
    `int(frac * n)` — identical to what a SQL oracle's
    `floor(frac * count(*))` computes, since both engines evaluate the
    product in double precision (e.g. 0.29 * 100 is 28.999...96 in
    binary, so BOTH sides select 28, not the 29 exact rational
    arithmetic would give).

    Contract: `value_col` must be non-NULL (coalesce first — NULL
    poisons the comparison predicate). NaN IS supported and ranks
    above every other value, matching Spark's rank ordering.

    Caching: the input is persisted for the probes AND stays persisted
    past return, so the returned frame reads the already-materialized
    projection instead of recomputing its lineage (unpersisting here
    measured 3-4x on dsir_importance). Exactly one entry stays live:
    the next invocation releases the previous one (_LIVE_CACHE), so
    repeated calls don't accumulate cache. Unpersisting early is
    always CORRECT (Spark just recomputes), so a long-lived driver app
    should call `release_probe_cache()` (or scored.unpersist()) once
    the consumer of the returned frame has executed its action —
    otherwise the last corpus-sized projection stays pinned in storage
    memory for the life of the process. The slot is a single
    module-global (not thread-safe): interleaving a second call before
    executing the first call's output unpersists the first input —
    still correct, it just recomputes its lineage."""
    release_probe_cache()
    scored = scored.persist()
    try:
        # ONE job materializes the persisted input AND prefetches the
        # boundary sketch + NaN census: the percentile fraction uses
        # `frac` directly (floor(frac*n)/n differs from it by < 1/n,
        # i.e. at most one rank — inside the sketch error the exact
        # probes already resolve), so it needs no prior count() job.
        # On a real cluster every saved action is a full job barrier.
        stats = scored.agg(
            F.count("*").alias("n"),
            F.percentile_approx(
                value_col,
                F.lit(min(1.0, max(0.0, 1.0 - frac))),
                F.lit(SKETCH_ACC),
            ).alias("t"),
            F.count_if(F.isnan(F.col(value_col))).alias("c_nan"),
        ).first()
        n = stats["n"]
        n_keep = int(frac * n)
        if n_keep <= 0:
            return scored.withColumn(out_col, F.lit(False))
        if n_keep >= n:
            return scored.withColumn(out_col, F.lit(True))
        try:
            b = _resolve_boundary(
                scored, value_col, id_col, n_keep, n,
                stats["t"], stats["c_nan"],
            )
            return scored.withColumn(
                out_col, b.selects(F.col(value_col), F.col(id_col))
            )
        except _SketchMiss:
            # pathological sketch miss: exact global-rank fallback —
            # correct at any scale, single-task sort (the plan this
            # module exists to avoid; kept only as the backstop)
            rk = F.row_number().over(
                Window.orderBy(F.col(value_col).desc(), F.col(id_col).asc())
            )
            return scored.withColumn(out_col, rk <= n_keep)
    finally:
        _LIVE_CACHE.append(scored)


def salted_partition_rank(
    df: DataFrame,
    part_col: str,
    hexkey: Column,
    tiebreak_col: str,
    out_col: str = "rk",
    salt_hex: int = 1,
) -> DataFrame:
    """Exact per-partition rank under (hexkey ASC, tiebreak ASC) —
    `row_number() OVER (PARTITION BY part ORDER BY hexkey, tiebreak)` —
    without ever putting one partition-value's full row stream into a
    single task.

    `row_number() OVER (PARTITION BY lang ...)` single-tasks the
    dominant language: English is ~45% of a web corpus, so that window
    partition IS the corpus. The fix exploits that `hexkey` is an md5
    HEX STRING (uniform, and its prefix is ORDER-CONSISTENT with the
    full key): salt = the first `salt_hex` hex digits splits every
    partition into 16^salt_hex contiguous RANGES of the per-partition
    order, so

        global rank = offset(part, salt) + rank within (part, salt)

    where offset = the total count of earlier salts in the same part —
    a window over the tiny (n_parts x 16^salt_hex) counts table, never
    over the corpus. The corpus-side window partitions by (part, salt):
    the mega-partition becomes 16^salt_hex near-equal tasks (md5
    uniformity), and salt_hex dials parallelism (2 -> 256 slices).

    Deterministic: rank is a pure function of (part, hexkey, tiebreak),
    stable under retries / repartitioning / resume.
    """
    d = df.withColumn("_k", hexkey).withColumn(
        "_salt", F.substring("_k", 1, salt_hex)
    )
    counts = d.groupBy(part_col, "_salt").agg(F.count("*").alias("_c"))
    prior = (
        Window.partitionBy(part_col)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        part_col,
        "_salt",
        F.coalesce(F.sum("_c").over(prior), F.lit(0)).alias("_off"),
    )
    rk_in = F.row_number().over(
        Window.partitionBy(part_col, "_salt").orderBy(
            "_k", tiebreak_col
        )
    )
    return (
        d.withColumn("_rk_in", rk_in)
        .join(F.broadcast(offs), [part_col, "_salt"])
        # long, not int: the whole point of this function is partitions
        # too big for one task — a >2^31-row partition would wrap an
        # int rank negative and silently corrupt every rk-<= filter
        .withColumn(out_col, (F.col("_off") + F.col("_rk_in")).cast("long"))
        .drop("_k", "_salt", "_rk_in", "_off")
    )
