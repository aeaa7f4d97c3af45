"""HF-Hub-shaped dataset sink + dataset card (SURVEY §2 S8).

The reference's `push_to_hub` uploads the finished dataset and then
attaches a generated DatasetCard (reference:
base_request_processor.py:568-581, hf_card_template.py). Restated for
Spark: the sink *materializes the hub repo layout locally* —
`data/train-XXXXX-of-XXXXX.parquet` shards plus a `README.md` card
with YAML front-matter and a sample row — because the upload itself is
plain file transfer that `huggingface_hub` does better than Spark.
When `huggingface_hub` is importable and a token is present the
directory is uploaded verbatim (import-try gated: this container has
neither the library nor network, so that path is documented, not
tested).

Scale note: shard count is derived from a target shard byte size using
the actual on-disk input size when the plan exposes one (same
footer-metadata trick as queries/simq.py:56), so a 100 TB dataset
lands as ~100k bounded shards instead of one task's worth of
monolith files. The write is `repartition(n)` + parquet — one
round-robin shuffle, which is the price of deterministic shard count
and even shard sizes.
"""

from __future__ import annotations

import json
import math
import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

CARD_TEMPLATE = """---
language: en
license: mit
tags:
- curator-spark
---

## Dataset card for {dataset_name}

Written by curator_spark's hub sink.

## Dataset details

A sample from the dataset:

```python
{sample}
```

Shards: {n_shards} parquet file(s) under `data/`.
"""

TARGET_SHARD_BYTES = 256 * 1024 * 1024  # hub-friendly shard size

# The optimizer's sizeInBytes is a LOGICAL (decompressed, pre-pruning)
# estimate, while TARGET_SHARD_BYTES is an ON-DISK parquet target —
# dividing logical bytes by the target directly lands shards several
# times smaller than asked. Web text compresses ~3-4x under
# snappy+dictionary parquet; 3.0 is the conservative end (fewer, not
# more, shards than a perfect estimate would give).
PARQUET_COMPRESSION_RATIO = 3.0
# Fallback floor when no byte estimate exists: never let a coalesced
# single-partition plan produce one monolithic shard if the row count
# says it holds many shards' worth of data.
FALLBACK_ROWS_PER_SHARD = 500_000


def _plan_bytes(plan) -> int:
    # py4j hands a scala BigInt back as a Python int or a proxy; str()
    # reads both
    return int(str(plan.stats().sizeInBytes()))


def _estimate_bytes(df: DataFrame) -> int | None:
    """Logical-plan size estimate (parquet footer stats when the source
    is a file scan), capped at the plan's total input size. None when
    any input reports the optimizer's unknown-size sentinel: operators
    above such an input scale the sentinel into a plausible-looking
    number, and a join estimate multiplies its inputs' sizes."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        inputs = [_plan_bytes(leaves.apply(i)) for i in range(leaves.size())]
        if max(inputs) >= (1 << 62):
            return None
        size = min(_plan_bytes(plan), sum(inputs))
        return size if size > 0 else None
    except Py4JError:
        return None


def _estimate_rows(df: DataFrame) -> int | None:
    """Optimizer row-count estimate (present for plain file scans and
    CBO-annotated plans); None when unknown."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            n = int(str(rc.get()))
            return n if n > 0 else None
    except Py4JError:
        pass
    return None


def push_to_hub_layout(
    df: DataFrame,
    repo_dir: str,
    repo_id: str,
    split: str = "train",
    target_shard_bytes: int = TARGET_SHARD_BYTES,
    upload: bool = False,
) -> dict:
    """Write `repo_dir` as a hub dataset repo: sharded parquet + card.

    Returns a manifest dict {n_shards, files, card_path}. With
    upload=True, pushes the directory via huggingface_hub when
    available (raises ImportError otherwise).
    """
    est = _estimate_bytes(df)
    if est:
        # logical bytes -> projected on-disk bytes via the compression
        # divisor, so shards land near the target instead of several
        # times under it
        n_shards = max(
            1, math.ceil(est / PARQUET_COMPRESSION_RATIO / target_shard_bytes)
        )
    else:
        # no byte estimate: partition count, floored by a row-count
        # minimum so a coalesced (e.g. 1-partition) plan over a large
        # dataset still shards instead of writing one monolith
        rows = _estimate_rows(df)
        row_floor = (
            math.ceil(rows / FALLBACK_ROWS_PER_SHARD) if rows else 1
        )
        n_shards = max(df.rdd.getNumPartitions(), row_floor, 1)
    data_dir = os.path.join(repo_dir, "data")
    tmp_dir = os.path.join(repo_dir, "_tmp_write")
    df.repartition(n_shards).write.mode("overwrite").parquet(tmp_dir)

    os.makedirs(data_dir, exist_ok=True)
    # a rerun with a smaller shard count would otherwise leave the old
    # run's train-XXXXX-of-XXXXX files (different -of- suffix, so no
    # name collision) mixed in with the new ones — stale+new rows on
    # reload. Clear this split's files before renaming the new set in.
    for old in os.listdir(data_dir):
        if old.startswith(f"{split}-") and old.endswith(".parquet"):
            os.remove(os.path.join(data_dir, old))
    parts = sorted(
        f for f in os.listdir(tmp_dir) if f.endswith(".parquet")
    )
    n = len(parts)
    files = []
    for i, part in enumerate(parts):
        name = f"{split}-{i:05d}-of-{n:05d}.parquet"
        os.replace(os.path.join(tmp_dir, part), os.path.join(data_dir, name))
        files.append(os.path.join("data", name))
    for leftover in os.listdir(tmp_dir):
        os.remove(os.path.join(tmp_dir, leftover))
    os.rmdir(tmp_dir)

    # Card sample = first row (the reference serializes dataset[0],
    # base_request_processor.py:577) — read back from THIS SPLIT's
    # first shard just written (one footer read): re-executing the
    # upstream DAG would re-run the whole pipeline, and scanning all
    # of data_dir would mix in other splits (whose schemas may not
    # even union).
    sample_row = (
        df.sparkSession.read.parquet(os.path.join(repo_dir, files[0]))
        .limit(1)
        .collect()
        if n
        else []
    )
    sample = json.dumps(
        sample_row[0].asDict(recursive=True) if sample_row else {},
        indent=4,
        default=str,
        sort_keys=True,
    )
    card_path = os.path.join(repo_dir, "README.md")
    with open(card_path, "w", encoding="utf-8") as f:
        f.write(
            CARD_TEMPLATE.format(
                dataset_name=repo_id.split("/")[-1],
                sample=sample,
                n_shards=n,
            )
        )

    if upload:
        from huggingface_hub import HfApi  # import-try gate: optional dep

        HfApi().upload_folder(
            folder_path=repo_dir, repo_id=repo_id, repo_type="dataset"
        )
    return {"n_shards": n, "files": files, "card_path": card_path}
