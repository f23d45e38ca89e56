"""Streaming CEP sequence-pattern matching as a per-epoch snapshot fold
(fold.py) — the streaming counterpart of operators/cep.py's batch
`match_sequence` (``PATTERN (A M* Z)`` within T seconds, per key).

Where the reference hard-wires its one pattern into the topology DAG
(tokenizer → phishing → output per mail), this operator evaluates a
declarative pattern continuously over an unbounded keyed stream with
event-time correctness: a row waits in the snapshot until the
watermark passes its timestamp, then feeds, in exact (ts, id) order,
the same most-recent-start/chain-break rule the batch window plan
evaluates. So the streaming output rows equal the batch operator's rows
for every end event at or below the final watermark (parity test in
tests/test_streaming.py).

The snapshot holds one header row per live key — its position counter
(the batch `_rn` of its last row), its latest START's position, ts and
id, and its latest chain breaker's (END/OTHER) position — and the key's
rows above the next watermark. Per epoch, one shuffle on the key: the
header, the buffered rows and the epoch's on-time rows continue the
batch `_rn`/`_start_rn`/`_brk_rn` window rule from the header, and an
END at or below the next watermark with an open START within `within`
matches. The key's running state at its last row at or below the next
watermark is its next header. A key with nothing buffered leaves the
snapshot once its chain cannot extend a match: no open START, or the
next watermark more than `within` past it. So the snapshot holds at
most delay × per-key rate rows per key, plus one header.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .fold import Epoch, snapshot_fold
from .sink import IdempotentSink


def match_sequence_fold(
    sink: IdempotentSink,
    state_sink: IdempotentSink,
    watermark: str,
    key: str,
    ts: str,
    id_col: str,
    start_pred: Column,
    mid_pred: Column,
    end_pred: Column,
    within_s: int,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function that writes (key, start_id, end_id, n_mid,
    duration_ms) rows to `sink`, one per matching end event, in the
    epoch whose next watermark reaches its event time; `state_sink`
    takes the snapshots. `watermark` is the stream's delay ("1 hour").
    Classification precedence and duration math are the batch
    operator's."""
    within_us = within_s * 1_000_000
    cls = (
        F.when(start_pred, F.lit("S"))
        .when(end_pred, F.lit("E"))
        .when(mid_pred, F.lit("M"))
        .otherwise(F.lit("X"))
    )
    header = F.col("cls").isNull()
    data = ~header & ~F.col("_late")

    def fold(ep: Epoch, rows: DataFrame) -> DataFrame:
        # the header first, then the buffered and on-time rows in
        # (ts, id) order, then the late rows
        kind = F.when(header, 0).when(F.col("_late"), 2).otherwise(1)
        by_key = Window.partitionBy(key).orderBy(kind, "ts", id_col)
        upto = by_key.rowsBetween(Window.unboundedPreceding, 0)
        before = by_key.rowsBetween(Window.unboundedPreceding, -1)
        allrows = rows.unionByName(
            ep.prior.withColumn("_late", F.lit(False)), allowMissingColumns=True
        ).withColumn(
            "_rn", F.sum(F.when(header, F.col("pos")).when(data, 1)).over(upto)
        )
        start = F.when(
            header & F.col("start_pos").isNotNull(),
            F.struct(
                F.col("start_pos").alias("rn"),
                F.col("start_ts").alias("ts"),
                F.col("start_id").alias("id"),
            ),
        ).when(
            data & (F.col("cls") == "S"),
            F.struct(F.col("_rn").alias("rn"), "ts", F.col(id_col).alias("id")),
        )
        brk = F.when(header, F.col("brk_pos")).when(
            data & F.col("cls").isin("E", "X"), F.col("_rn")
        )
        flagged = allrows.select("*", start.alias("_s"), brk.alias("_b")).select(
            key, "ts", id_col, "cls", "_late", "_rn", "_b",
            # the latest START up to this row (an END's own START, as an
            # END is none), and the latest breaker before it
            F.max("_s").over(upto).alias("_start"),
            F.max("_b").over(before).alias("_brk"),
            F.lead(F.when(data, F.col("ts"))).over(by_key).alias("_next_ts"),
            F.max(F.when(data, F.col("ts")))
            .over(by_key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias("_max_ts"),
        )
        dur_us = F.unix_micros("ts") - F.unix_micros("_start.ts")
        return flagged.select(
            "*",
            (
                data
                & (F.col("cls") == "E")
                & (F.col("_start.rn") > F.coalesce("_brk", F.lit(0)))
                & (dur_us <= within_us)
            ).alias("_match"),
            ((dur_us - dur_us % 1000) / 1000).cast("bigint").alias("duration_ms"),
        )

    def split(ep: Epoch, folded: DataFrame):
        next_wm = F.timestamp_millis(F.lit(ep.next_wm_ms))
        ready = header | (F.col("ts") <= next_wm)
        out = folded.where(F.col("_match") & ready).select(
            key,
            F.col("_start.id").alias("start_id"),
            F.col(id_col).alias("end_id"),
            (F.col("_rn") - F.col("_start.rn") - 1).cast("int").alias("n_mid"),
            "duration_ms",
        )
        last = ready & (F.col("_next_ts").isNull() | (F.col("_next_ts") > next_wm))
        buffered = F.col("_max_ts").isNotNull() & (F.col("_max_ts") > next_wm)
        brk_upto = F.greatest("_brk", "_b")
        open_start = (
            F.col("_start").isNotNull()
            & (F.col("_start.rn") > F.coalesce(brk_upto, F.lit(0)))
            & (F.unix_micros(next_wm) - F.unix_micros("_start.ts") <= within_us)
        )
        # a header row has a null cls, a buffered row null header columns
        headers = folded.where(last & (buffered | open_start)).select(
            key,
            F.col("_rn").alias("pos"),
            F.col("_start.rn").alias("start_pos"),
            F.col("_start.ts").alias("start_ts"),
            F.col("_start.id").alias("start_id"),
            brk_upto.alias("brk_pos"),
        )
        rows = folded.where(~ready).select(key, "ts", id_col, "cls")
        return out, lambda: headers.unionByName(rows, allowMissingColumns=True)

    def process(batch_df: DataFrame, epoch: int) -> None:
        narrow = batch_df.select(
            key, F.col(ts).cast("timestamp").alias("ts"), id_col, cls.alias("cls")
        )
        key_type = narrow.schema[key].dataType.simpleString()
        id_type = narrow.schema[id_col].dataType.simpleString()
        schema = (
            f"`{key}` {key_type}, ts timestamp, `{id_col}` {id_type}, cls string, "
            f"pos long, start_pos long, start_ts timestamp, start_id {id_type}, "
            "brk_pos long"
        )
        snapshot_fold(sink, state_sink, schema, watermark, fold, split)(narrow, epoch)

    return process
