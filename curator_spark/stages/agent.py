"""Multi-turn agent conversations as an iterative DataFrame loop
(SURVEY §2 M4).

The reference alternates seeder/partner model calls over ONE
conversation, threading history and stopping on a per-agent completion
marker or max_length (reference: agent/processor.py:86-153,
agent/agent.py:68-101). Restated for Spark: a whole *corpus* of
conversations advances in lockstep — each round is one vectorized
batch call over every still-open conversation, which is exactly how
offline agentic data generation wants to run (the per-conversation
sequential dependency is irreducible, so the parallel axis is the
conversation, not the turn).

State: `history: array<struct<role,content>>` + `done` + `turns` per
row. Each round applies one Arrow-batched pandas UDF (the "model
call" — here a deterministic responder callable, the same seam the
rest of the repo uses for model stages, see stages/score.py) to the
open rows only, appends the reply, and re-evaluates the stop
condition. Lineage grows one projection per round, so the loop
localCheckpoints every few rounds — same discipline as the
connected-components loop in queries/dedupq.py.

Responders are plain callables `history -> reply` shipped to
executors by closure pickle (engine/packaging.ship_package covers the
module path). A real LLM backend would slot in as a pandas-UDF
batch scorer without changing the loop.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# One conversation message, reference agent/processor.py:104 shape.
MSG = "struct<role:string,content:string>"


@dataclass
class SparkAgent:
    """Mirror of the reference Agent (agent/agent.py:20-66): a name, a
    responder, and a completion predicate over the agent's reply.

    Responders come in two shapes (the M2 batched-scoring pattern,
    reference vllm_offline_request_processor.py:41-53):
    - `respond(history) -> reply` — per-conversation; convenient for
      deterministic/synthetic backends.
    - `respond_batch(histories) -> replies` — ONE call per Arrow chunk
      over every still-open conversation in the chunk; this is the
      seam a vectorized model backend (offline LLM, batched HTTP)
      plugs into. When only `respond` is given, `respond_batch`
      defaults to a per-row wrapper over it, so the loop always drives
      the batch signature.
    """

    name: str
    respond: Callable[[list[dict]], str] | None = None
    stop_marker: str = "[DONE]"
    is_completed: Callable[[str], bool] = field(default=None)  # type: ignore[assignment]
    respond_batch: Callable[[list[list[dict]]], list[str]] = field(
        default=None  # type: ignore[assignment]
    )

    def __post_init__(self):
        if self.respond is None and self.respond_batch is None:
            raise ValueError(
                f"agent {self.name!r} needs respond or respond_batch"
            )
        if self.respond_batch is None:
            per_row = self.respond
            self.respond_batch = lambda hists: [per_row(h) for h in hists]
        if self.is_completed is None:
            marker = self.stop_marker
            self.is_completed = lambda reply: marker in (reply or "")


def run_multiturn(
    seeds: DataFrame,
    seeder: SparkAgent,
    partner: SparkAgent,
    max_length: int,
    seed_col: str = "seed_message",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Run up to `max_length` alternating turns for every seed row.

    Returns the input columns + `history`, `turns`, `done`,
    `stopped_by`. Turn parity matches the reference
    (processor.py:110-145): the seed message is attributed to the
    seeder and the PARTNER answers first; even steps are partner
    turns, odd steps seeder turns.
    """
    assert seeder.name != partner.name, "seeder and partner must differ"

    conv = seeds.withColumn(
        "history",
        F.array(
            F.struct(
                F.lit(seeder.name).alias("role"),
                F.col(seed_col).cast("string").alias("content"),
            )
        ),
    ).withColumns(
        {
            "turns": F.lit(0),
            "done": F.lit(False),
            "stopped_by": F.lit(None).cast("string"),
        }
    )

    for step in range(max_length):
        agent = partner if step % 2 == 0 else seeder
        respond_batch, completed = agent.respond_batch, agent.is_completed

        @F.pandas_udf(StringType())
        def reply_udf(hist: pd.Series, done: pd.Series) -> pd.Series:
            # hist: per-row list of {'role','content'} dicts. The
            # batch responder gets every OPEN conversation of the
            # Arrow chunk in ONE call — the seam a vectorized model
            # backend scores whole batches through. The done flag is
            # checked INSIDE the UDF: Catalyst hoists Python UDFs out
            # of CASE WHEN into an unconditional ArrowEvalPython node,
            # so a `when(~done, udf(...))` guard would still invoke
            # the responder on every finished row (wasted model calls,
            # and a responder that chokes on a closed history would
            # crash rows that are already done).
            flags = list(done)
            open_idx = [i for i, d in enumerate(flags) if not d]
            hists = [
                [dict(m) for m in hist.iloc[i]] for i in open_idx
            ]
            replies = respond_batch(hists) if hists else []
            if len(replies) != len(hists):
                raise ValueError(
                    f"respond_batch returned {len(replies)} replies "
                    f"for {len(hists)} histories"
                )
            out: list[str | None] = [None] * len(flags)
            for i, r in zip(open_idx, replies):
                out[i] = r
            return pd.Series(out, dtype=object)

        open_reply = reply_udf(F.col("history"), F.col("done"))
        conv = (
            conv.withColumn("_reply", open_reply)
            .withColumn(
                "history",
                F.when(
                    F.col("_reply").isNotNull(),
                    F.concat(
                        "history",
                        F.array(
                            F.struct(
                                F.lit(agent.name).alias("role"),
                                F.col("_reply").alias("content"),
                            )
                        ),
                    ),
                ).otherwise(F.col("history")),
            )
            .withColumn(
                "turns",
                F.when(F.col("_reply").isNotNull(), F.col("turns") + 1)
                .otherwise(F.col("turns")),
            )
        )

        @F.pandas_udf("boolean")
        def done_udf(reply: pd.Series) -> pd.Series:
            return reply.map(lambda r: r is not None and completed(r))

        conv = (
            conv.withColumn(
                "_hit", F.coalesce(done_udf(F.col("_reply")), F.lit(False))
            )
            .withColumn(
                "stopped_by",
                F.when(F.col("_hit"), F.lit(agent.name))
                .otherwise(F.col("stopped_by")),
            )
            .withColumn("done", F.col("done") | F.col("_hit"))
            .drop("_reply", "_hit")
        )
        if (step + 1) % checkpoint_every == 0 and step + 1 < max_length:
            # Truncate per-round lineage (and let the driver early-exit
            # when every conversation has stopped). One action per
            # checkpoint interval, not per turn.
            conv = conv.localCheckpoint(eager=True)
            if conv.where(~F.col("done")).isEmpty():
                break

    return conv
