"""Streaming tool-call correlation as a per-epoch snapshot fold (fold.py).

Reference semantics: a branch waits in JsonMaker's buffer until its
partner arrives (src/bolts/json_maker.py:82-88), forever if it never
does. Here a tool invocation (role='assistant', tool set) is paired
with its response (role='tool', same conv_id and tool, resp_ts in
(ts, ts + band], resp_turn_idx > turn_idx), the earliest by
(resp_ts, resp_turn_idx) wins, as in batch `tool_response_join`; and an
invocation still unanswered when the watermark passes ts + band is a
timeout, reported once.

The pending rows are the fold's snapshot. Per epoch, all in the JVM:

- the epoch's invocations and responses are unioned with the
  snapshot's, and each invocation takes the earliest answer in its band
  from a range window over (conv_id, tool) ordered by ts, counting only
  pairs with at least one side new in this epoch (the others were
  weighed when the later of the two arrived);
- each pending invocation carries its best answer so far, and is
  written again only when the epoch brings an earlier one, so the
  merged output holds each invocation's earliest answer;
- an invocation stays in the snapshot while ts + band is past the next
  watermark, a response while its ts is: an on-time row of a later
  epoch lies past that watermark, so it can neither answer an
  invocation that left nor be answered by a response that left. An
  invocation that leaves with no answer is a timeout.

One shuffle on (conv_id, tool) carries the fold.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .fold import Epoch, snapshot_fold
from .sink import IdempotentSink

# the columns of an epoch's turns the fold reads
ROW_COLS = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
# one snapshot row per pending invocation (with its best answer so far)
# or response (with its text)
_OPEN_SCHEMA = (
    "conv_id string, tool string, turn_idx int, ts timestamp, is_inv boolean, "
    "text string, resp_turn_idx int, resp_ts timestamp"
)
_OPEN_COLS = [c.split()[0] for c in _OPEN_SCHEMA.split(", ")]
TIMEOUT_COLS = ["conv_id", "tool", "turn_idx", "ts"]
_ANSWER_COLS = ["resp_turn_idx", "resp_ts", "resp_text"]
PAIR_COLS = TIMEOUT_COLS + _ANSWER_COLS


def _fold_pairs(open_df: DataFrame, rows: DataFrame, band_us: int) -> DataFrame:
    """The pending rows of `open_df` and the epoch's `rows` (with a
    `_late` flag), one row each in the snapshot's columns (resp_*
    updated to the best answer so far), plus `_new`, `_late` and
    `_better`: the epoch brought an invocation an earlier answer, which
    `_answer` holds. The epoch's late rows and the turns that are neither
    an invocation nor a response pass through with a null is_inv."""
    role = F.col("role")
    kind = F.when(
        ~F.col("_late") & F.col("tool").isNotNull(),
        F.when(role == "assistant", True).when(role == "tool", False),
    )
    new = rows.select(
        "conv_id", "tool", "turn_idx", "ts",
        kind.alias("is_inv"),
        F.when(role == "tool", F.col("text")).alias("text"),
        F.lit(None).cast("int").alias("resp_turn_idx"),
        F.lit(None).cast("timestamp").alias("resp_ts"),
        F.lit(True).alias("_new"),
        "_late",
    )
    allrows = new.unionByName(
        open_df.select("*", F.lit(False).alias("_new"), F.lit(False).alias("_late"))
    )

    band = (
        Window.partitionBy("conv_id", "tool")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(1, band_us)
    )
    in_band = F.collect_list(
        F.when(
            ~F.col("is_inv"),
            F.struct(
                F.col("ts").alias("resp_ts"),
                F.col("turn_idx").alias("resp_turn_idx"),
                F.col("text").alias("resp_text"),
                "_new",
            ),
        )
    ).over(band)
    # structs order by their fields: the earliest (resp_ts, resp_turn_idx)
    answer = F.array_min(
        F.filter(
            in_band,
            lambda a: (a["resp_turn_idx"] > F.col("turn_idx"))
            & (a["_new"] | F.col("_new")),
        )
    )
    answered = allrows.withColumn("_answer", F.when(F.col("is_inv"), answer))
    a_ts, a_idx = F.col("_answer.resp_ts"), F.col("_answer.resp_turn_idx")
    better = F.col("_answer").isNotNull() & (
        F.col("resp_ts").isNull()
        | (a_ts < F.col("resp_ts"))
        | ((a_ts == F.col("resp_ts")) & (a_idx < F.col("resp_turn_idx")))
    )
    return answered.withColumn("_better", better).select(
        *[c for c in _OPEN_COLS if not c.startswith("resp_")],
        F.when(F.col("_better"), a_idx).otherwise(F.col("resp_turn_idx"))
        .alias("resp_turn_idx"),
        F.when(F.col("_better"), a_ts).otherwise(F.col("resp_ts")).alias("resp_ts"),
        "_new",
        "_late",
        "_answer",
        "_better",
    )


def tool_pair_fold(
    sink: IdempotentSink,
    open_sink: IdempotentSink,
    watermark: str,
    band_s: int,
    timeouts: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function that folds each epoch's turns (they need
    ROW_COLS) into the pending invocations and responses of `open_sink`
    and writes the next snapshot there. To `sink` it writes PAIR_COLS
    rows, an invocation's earliest answer whenever it improves; with
    `timeouts`, TIMEOUT_COLS rows instead, each invocation that leaves
    the snapshot unanswered. `watermark` is the stream's delay
    ("4 hours")."""
    band_us = band_s * 1_000_000

    def fold(ep: Epoch, rows: DataFrame) -> DataFrame:
        return _fold_pairs(ep.prior, rows.select(*ROW_COLS, "_late"), band_us)

    def split(ep: Epoch, folded: DataFrame):
        pending = folded.where(F.col("is_inv").isNotNull())
        next_wm_us = ep.next_wm_ms * 1000
        ts_us = F.unix_micros("ts")
        stays = F.when(F.col("is_inv"), ts_us + band_us > next_wm_us).otherwise(
            ts_us > next_wm_us
        )
        if timeouts:
            unanswered = F.col("is_inv") & F.col("resp_turn_idx").isNull()
            out = pending.where(unanswered & ~stays).select(*TIMEOUT_COLS)
        else:
            out = pending.where("_better").select(
                *TIMEOUT_COLS, *[F.col(f"_answer.{c}").alias(c) for c in _ANSWER_COLS]
            )
        return out, lambda: pending.where(stays).select(*_OPEN_COLS)

    return snapshot_fold(sink, open_sink, _OPEN_SCHEMA, watermark, fold, split)
