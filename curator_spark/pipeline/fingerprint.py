"""Run-level fingerprinting — the reference's cache key, re-derived.

Reference semantics (reference: llm/llm.py:147-172 + proven in
tests/unittests/test_caching.py:12-96): fingerprint = hash(dataset
fingerprint, prompt-fn source, model, params); same fingerprint ⇒ whole
run is a cache hit, and editing a NESTED closure invalidates
(test_caching.py:76-96, via dill-pickling the function). Ours:
hash(input identity, config JSON, stage-code hash). The stage-code
hash covers the source text of every pipeline stage function AND the
model/helper modules they call into (vectorized scoring cores, text
stats), so editing any stage or nested helper invalidates the cache
while config-identical reruns still hit it. Granularity is
per-stage-function + per-helper-module (slightly coarser than the
reference's pickled closure — an unrelated edit inside
functions/vectorized.py also invalidates — which only ever
over-invalidates, never serves stale output).
"""

from __future__ import annotations

import hashlib
import inspect

from curator_spark.config import QualityConfig
from curator_spark.pipeline import fsutil


def input_identity(path: str, spark=None) -> str:
    """Stable identity of an input directory: sorted (name, size,
    mtime) triples. mtime is included because (name, size) alone
    would serve stale cached output for a file regenerated in place
    with different content but the same byte size (fixed-width
    shards); an in-place rewrite with identical bytes merely
    over-invalidates, which the module contract allows.

    Routed through fsutil so a SHARED-storage input (s3://, hdfs://)
    lists its real files: a plain os.walk over such a URI yields
    nothing, so every remote input would hash to the same EMPTY
    identity — two different inputs under one config would share a
    fingerprint and the second run would resume as "cached", serving
    the first input's output. `spark` is required for schemed paths
    (fsutil resolves the active session when omitted)."""
    return ";".join(sorted(fsutil.listing(spark, path)))


def _default_stage_objs() -> list:
    """Everything whose source defines the pipeline's semantics: the
    FULL stage modules (not just their with_* entry functions — the
    semantic logic lives in same-module helpers like
    extract._BODY_RE / score.make_score_udf / decide._row_param, and
    hashing only the thin wrappers would serve stale cached output
    after a helper edit — ADVICE r2), plus the helper modules holding
    the code those stages close over (model scoring cores, text
    statistics, the Arrow rule-stat kernels, scrub regexes)."""
    from curator_spark.functions import rule_core, scrub_core, textstats, vectorized
    from curator_spark.stages import decide, extract, rules, score

    return [
        extract,
        rules,
        score,
        decide,
        vectorized,
        textstats,
        rule_core,
        scrub_core,
    ]


def stage_code_hash(objs: list | None = None) -> str:
    h = hashlib.sha256()
    for obj in objs if objs is not None else _default_stage_objs():
        h.update(inspect.getsource(obj).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def run_fingerprint(
    input_path: str, cfg: QualityConfig, code_hash: str | None = None,
    spark=None, identity: str | None = None,
) -> str:
    """`identity` overrides the file-listing input identity — table
    inputs pass "table:<ident>@<snapshot_id>" so the fingerprint is a
    pure function of the SNAPSHOT actually read: a resumed run on an
    unchanged table re-derives the same fingerprint (and resumes),
    while new crawl appends change the snapshot id and are a new
    fingerprint (full reprocess) by construction — the exact analog of
    the directory listing's mtime sensitivity."""
    h = hashlib.sha256()
    h.update(
        (identity if identity is not None
         else input_identity(input_path, spark=spark)).encode()
    )
    h.update(b"\x00")
    h.update(cfg.stable_json().encode())
    h.update(b"\x00")
    h.update((code_hash if code_hash is not None else stage_code_hash()).encode())
    return h.hexdigest()[:16]
