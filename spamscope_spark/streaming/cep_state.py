"""Streaming CEP sequence-pattern matching — the stateful counterpart
of operators/cep.py's batch `match_sequence` (``PATTERN (A M* Z)``
within T seconds, per key).

Where the reference hard-wires its one pattern into the topology DAG
(tokenizer → phishing → output per mail), this operator evaluates a
declarative pattern continuously over an unbounded keyed stream with
event-time correctness: rows buffer in keyed state until the watermark
passes their timestamp, then feed — in exact (ts, id) order — the same
most-recent-start/chain-break state machine the batch window plan
evaluates, so streaming output rows equal the batch operator's rows for
every end event at or below the final watermark (parity test in
tests/test_streaming.py).

Scale shape: keyed_state drives the matcher (hash-bucketed state, one
Python call per BUCKET per batch, not per key), and rows are projected
to (key, ts, id, cls) BEFORE the keyed shuffle, so only 4 short columns
cross the exchange and the Arrow boundary. Per-key state is O(rows
inside the watermark delay) plus five scalars of matcher state; rows at
or below the watermark are processed and dropped immediately, and a key
with nothing buffered is evicted once its chain cannot extend a match
(no open START, or the watermark passed START + within; the bucket's
timer covers that moment too). So state never grows past delay ×
per-key rate — the same horizon contract as Spark's own stream-stream
joins.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .keyed_state import apply_bucketed_state

# per-key matcher state list slots
_BUF = 0        # [(ts_us, id, cls), ...] rows still above the watermark
_POS = 1        # events processed so far (the batch rn counter)
_START_POS = 2  # position of the latest START (-1 = none)
_START_TS = 3
_START_ID = 4
_BRK_POS = 5    # position of the latest chain breaker (END/OTHER)


def _new_key_state() -> list:
    return [[], 0, -1, 0, 0, -1]


def advance_key(ks: list, wm_us: int, within_us: int) -> list[tuple]:
    """Feed a key's buffered rows at or below the watermark through the
    matcher in (ts, id) order. Mutates ks; returns emitted matches as
    (start_id, end_id, n_mid, duration_ms). Pure function — unit-tested
    without Spark."""
    buf = ks[_BUF]
    if not buf:
        return []
    buf.sort()
    out: list[tuple] = []
    cut = 0
    for ts_us, rid, cls in buf:
        if ts_us > wm_us:
            break
        cut += 1
        pos = ks[_POS]
        if cls == "E":
            if (
                ks[_START_POS] >= 0
                and ks[_START_POS] > ks[_BRK_POS]
                and ts_us - ks[_START_TS] <= within_us
            ):
                dur_us = ts_us - ks[_START_TS]
                out.append(
                    (
                        ks[_START_ID],
                        rid,
                        pos - ks[_START_POS] - 1,
                        (dur_us - dur_us % 1000) // 1000,
                    )
                )
            ks[_BRK_POS] = pos
        elif cls == "S":
            ks[_START_POS] = pos
            ks[_START_TS] = ts_us
            ks[_START_ID] = rid
        elif cls == "X":
            ks[_BRK_POS] = pos
        ks[_POS] = pos + 1
    if cut:
        ks[_BUF] = buf[cut:]
    return out


def next_due_us(states: dict, within_us: int) -> int:
    """Earliest event time at which some key needs the matcher again:
    its oldest buffered row, or — for a key with nothing buffered, which
    only stays in state while its START can still open a match — the
    point where the watermark passes START + within and it is evicted."""
    return min(
        ks[_BUF][0][0] if ks[_BUF] else ks[_START_TS] + within_us
        for ks in states.values()
    )


def match_sequence_stream(
    df: DataFrame,
    key: str,
    ts: str,
    id_col: str,
    start_pred: Column,
    mid_pred: Column,
    end_pred: Column,
    within_s: int,
) -> DataFrame:
    """Streaming DataFrame (must already carry ``withWatermark(ts, …)``)
    → append stream of (key, start_id, end_id, n_mid, duration_ms),
    one row per matching end event, emitted once its event time is at
    or below the watermark. Late rows beyond the watermark are dropped
    (standard event-time contract). Classification precedence and
    duration math are byte-identical to the batch operator."""
    key_type = df.schema[key].dataType
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(key, key_type),
            StructField("start_id", id_type),
            StructField("end_id", id_type),
            StructField("n_mid", IntegerType()),
            StructField("duration_ms", LongType()),
        ]
    )
    within_us = within_s * 1_000_000

    cls = (
        F.when(start_pred, F.lit("S"))
        .when(end_pred, F.lit("E"))
        .when(mid_pred, F.lit("M"))
        .otherwise(F.lit("X"))
    )
    narrow = df.select(F.col(key), F.col(ts), F.col(id_col), cls.alias("_cls"))

    def drain(states: dict, wm_us: int) -> list[dict]:
        rows: list[dict] = []
        dead = []
        for k, ks in states.items():
            for sid, eid, n_mid, dur_ms in advance_key(ks, wm_us, within_us):
                rows.append(
                    {
                        key: k,
                        "start_id": sid,
                        "end_id": eid,
                        "n_mid": n_mid,
                        "duration_ms": dur_ms,
                    }
                )
            # a key with no pending rows keeps only five counters of
            # matcher state; evict it once its chain cannot extend a
            # future match (start older than the watermark horizon)
            if not ks[_BUF] and (
                ks[_START_POS] <= ks[_BRK_POS]
                or wm_us - ks[_START_TS] > within_us
            ):
                dead.append(k)
        for k in dead:
            del states[k]
        return rows

    def buffer_and_drain(states: dict, pdf: pd.DataFrame, wm_us: int) -> list[dict]:
        keys = pdf[key].values
        ts_us = pdf[ts].values.astype("datetime64[us]").astype("int64")
        ids = pdf[id_col].values
        clss = pdf["_cls"].values
        for i in range(len(pdf)):
            t = int(ts_us[i])
            if t <= wm_us:
                # late beyond the watermark: already processed past
                # this point — dropping keeps streaming positions
                # identical to an on-time run
                continue
            ks = states.get(keys[i])
            if ks is None:
                states[keys[i]] = ks = _new_key_state()
            ks[_BUF].append((t, ids[i].item(), clss[i]))
        return drain(states, wm_us)

    return apply_bucketed_state(
        narrow,
        key,
        out_schema,
        on_rows=buffer_and_drain,
        on_timeout=drain,
        due_us=lambda states: next_due_us(states, within_us),
    )
