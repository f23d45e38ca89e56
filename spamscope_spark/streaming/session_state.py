"""Streaming sessionizer as a per-epoch snapshot fold (fold.py).

Reference semantics: per-conv_id session windows with a gap timeout —
the bounded version of the reference's wait-forever greedy buffers
(src/bolts/json_maker.py:82-88); a bounded seen-fingerprint list per
session (within-session duplicate count, the dedup-filter analog of
src/bolts/tokenizer.py:176-186); and the session's last MAX_SIGS
shingle signatures for near-dup turn detection (the ssdeep role).

The open sessions are the fold's snapshot, one row per open session
holding its counters, its seen sha1 list (≤ MAX_SEEN) and its last
signatures (≤ MAX_SIGS). Per epoch, all in the JVM:

- sessions are assigned per conv_id over the open session and the
  epoch's on-time rows in (ts, turn_idx) order: a row more than gap
  after the latest end before it starts a new session (with_session_ids'
  rule), and session_seq continues the open session's;
- a session is closed, and written to the output sink, when a later
  session of its conversation exists, or when session_end + gap <= the
  next watermark: an on-time row of a later epoch lies past that
  watermark, so it cannot extend the session. The other sessions are
  the next snapshot.

A turn with a sha1 is a duplicate when that sha1 occurred earlier in
its session: among the session's rows of the same epoch, or in the
seen list the snapshot carries. The seen list keeps the session's
MAX_SEEN newest distinct sha1s by first occurrence. So the count is
exact within an epoch and for sessions with at most MAX_SEEN distinct
texts; past that, a text whose first occurrence fell out of the list
in an earlier epoch counts as new again. A turn with a signature that
is not a duplicate is a near-dup when its signature's bigram Jaccard
is >= NEARDUP_SIM against one of the session's previous MAX_SIGS
signatures (duplicate turns' signatures included).

One shuffle on conv_id carries the whole fold: the open sessions enter
it as rows (a header per session, plus one row per carried sha1 and
per carried signature), so a carried list is never copied onto the
epoch's rows. The epoch's late rows ride along as a group of their own
per conversation, which only counts them.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.fingerprints import gram_similarity, shingle_grams
from .fold import Epoch, snapshot_fold
from .sink import IdempotentSink

MAX_SEEN = 512  # bounded dedup list per session (LRU analog of the
MAX_SIGS = 8    # reference's maxlen deques, spamscope.example.yml:119-135)
NEARDUP_SIM = 0.8

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("session_seq", LongType()),
        StructField("session_id", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_turns", LongType()),
        StructField("n_user", LongType()),
        StructField("n_assistant", LongType()),
        StructField("n_tool", LongType()),
        StructField("n_system", LongType()),
        StructField("n_tool_calls", LongType()),
        StructField("max_phishing_score", IntegerType()),
        StructField("n_duplicate_turns", LongType()),
        StructField("n_neardup_turns", LongType()),
    ]
)

# the columns of an epoch's turns the fold reads
ROW_COLS = [
    "conv_id", "turn_idx", "ts", "role", "tool",
    "phishing_score", "sha1", "shingle_sig",
]
_ROLES = ("user", "assistant", "tool", "system")
_COUNTS = [
    "n_turns", *[f"n_{r}" for r in _ROLES], "n_tool_calls",
    "n_duplicate_turns", "n_neardup_turns",
]
# one snapshot row per open session: the output columns but session_id,
# plus the carried seen sha1s and signatures, oldest first
_CARRIED = [
    "session_seq", "session_start", "session_end", *_COUNTS, "max_phishing_score",
]
_OPEN_SCHEMA = (
    "conv_id string, session_seq long, session_start timestamp, "
    "session_end timestamp, "
    + ", ".join(f"{c} long" for c in _COUNTS)
    + ", max_phishing_score int, seen array<string>, sigs array<string>"
)
_OPEN_COLS = ["conv_id", *_CARRIED, "seen", "sigs"]

# Row kinds within a conversation, in fold order: the open session's
# header (ts = its session_end), its carried sha1s and signatures
# (ordered by _pos), then the epoch's on-time turns and its late ones.
_HEADER, _SEEN, _SIG, _TURN, _LATE = 0, 1, 2, 3, 4
_ORDER = ["_kind", "ts", "turn_idx", "_pos"]


def _nonempty(c: str):
    return F.col(c).isNotNull() & (F.col(c) != "")


def _tail(items, field: str, n: int, distinct: bool = False):
    """The `field` values of the collected structs in _ORDER order
    (first occurrences only when `distinct`), the last `n` of them."""
    vals = F.transform(F.array_sort(items), lambda x: x[field])
    if distinct:
        vals = F.array_distinct(vals)  # keeps each value's first position
    return F.slice(vals, F.greatest(F.size(vals) - n + 1, F.lit(1)), n)


def _fold_sessions(open_df: DataFrame, rows: DataFrame, gap_us: int) -> DataFrame:
    """Every session the open sessions and the epoch's `rows` (with a
    `_late` flag) make, one row each: the snapshot columns plus `_later`
    (a later session of the conversation exists), `ts` (its end) and
    `_late` (0). The late rows make one more row per conversation, with
    a null session_seq and their count in `_late`."""
    header = open_df.select(
        "conv_id", F.lit(_HEADER).alias("_kind"), F.col("session_end").alias("ts"),
        F.struct(*_CARRIED).alias("_open"),
    )
    seen = open_df.select(
        "conv_id", F.lit(_SEEN).alias("_kind"),
        F.posexplode("seen").alias("_pos", "sha1"),
    )
    sigs = open_df.select(
        "conv_id", F.lit(_SIG).alias("_kind"),
        F.posexplode("sigs").alias("_pos", "shingle_sig"),
    )
    allrows = rows.select(
        *ROW_COLS, F.when(F.col("_late"), _LATE).otherwise(_TURN).alias("_kind")
    )
    for part in (header, seen, sigs):
        allrows = allrows.unionByName(part, allowMissingColumns=True)

    # session_seq: the lag/cumulative-sum rule over the open session's
    # end and the turns. A turn's previous end is the running max of the
    # earlier ends, not the lag: this epoch's first turns may lie before
    # the open session's end.
    turn = F.col("_kind") == _TURN
    conv = Window.partitionBy("conv_id").orderBy(*_ORDER)
    whole_conv = Window.partitionBy("conv_id")
    ts_us = F.unix_micros("ts")
    prev_end = F.max(ts_us).over(conv.rowsBetween(Window.unboundedPreceding, -1))
    starts = (F.col("_kind") == _HEADER) | (
        turn & (prev_end.isNull() | (ts_us - prev_end > gap_us))
    )
    base = F.coalesce(F.max("_open.session_seq").over(whole_conv), F.lit(0)) - 1
    sessioned = allrows.withColumn("_starts", starts.cast("long")).select(
        "*",
        F.when(
            F.col("_kind") != _LATE,
            base + F.sum("_starts").over(conv.rowsBetween(Window.unboundedPreceding, 0)),
        ).alias("session_seq"),
        (base + F.sum("_starts").over(whole_conv)).alias("_last_seq"),
    )

    # per turn: an exact repeat within the session (carried sha1s sort
    # first), else a near-dup of one of the previous MAX_SIGS signatures
    has_sha, has_sig = _nonempty("sha1"), _nonempty("shingle_sig")
    by_sha = Window.partitionBy("conv_id", "session_seq", "sha1").orderBy(*_ORDER)
    by_sig = (
        Window.partitionBy("conv_id", "session_seq", has_sig)
        .orderBy(*_ORDER)
        .rowsBetween(-MAX_SIGS, -1)
    )
    flagged = sessioned.select(
        "*",
        (turn & has_sha & (F.row_number().over(by_sha) > 1)).alias("_dup"),
        F.when(has_sig, shingle_grams(F.col("shingle_sig"))).alias("_grams"),
    )
    flagged = flagged.withColumn(
        "_near",
        F.when(
            turn & has_sig & ~F.col("_dup"),
            F.exists(
                F.collect_list("_grams").over(by_sig),
                lambda g: gram_similarity(F.col("_grams"), g) >= NEARDUP_SIM,
            ),
        ),
    )

    def count(cond):
        return F.count_if(turn & cond)

    sess = flagged.groupBy("conv_id", "session_seq").agg(
        F.first("_open", ignorenulls=True).alias("_open"),
        F.max("_last_seq").alias("_last_seq"),
        F.min(F.when(turn, F.col("ts"))).alias("_start"),
        F.max("ts").alias("session_end"),
        F.count_if(turn).alias("n_turns"),
        *[count(F.col("role") == r).alias(f"n_{r}") for r in _ROLES],
        count(F.col("tool").isNotNull()).alias("n_tool_calls"),
        F.max(F.when(turn, F.col("phishing_score"))).alias("_max_score"),
        F.count_if("_dup").alias("n_duplicate_turns"),
        F.count_if("_near").alias("n_neardup_turns"),
        F.collect_list(F.when(has_sha, F.struct(*_ORDER, "sha1"))).alias("_seen"),
        F.collect_list(F.when(has_sig, F.struct(*_ORDER, "shingle_sig"))).alias("_sigs"),
        F.count_if(F.col("_kind") == _LATE).alias("_late"),
    )
    return sess.select(
        "conv_id",
        "session_seq",
        F.coalesce("_open.session_start", "_start").alias("session_start"),
        "session_end",
        *[
            (F.coalesce(F.col(f"_open.{c}"), F.lit(0)) + F.col(c)).alias(c)
            for c in _COUNTS
        ],
        F.greatest(
            F.coalesce("_open.max_phishing_score", F.lit(0)),
            F.coalesce("_max_score", F.lit(0)),
        ).cast("int").alias("max_phishing_score"),
        _tail("_seen", "sha1", MAX_SEEN, distinct=True).alias("seen"),
        _tail("_sigs", "shingle_sig", MAX_SIGS).alias("sigs"),
        (F.col("session_seq") < F.col("_last_seq")).alias("_later"),
        F.col("session_end").alias("ts"),
        "_late",
    )


def session_fold(
    sink: IdempotentSink,
    open_sink: IdempotentSink,
    watermark: str,
    gap_s: int,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function that sessionizes each epoch's rows (they
    need ROW_COLS), writes the closed sessions as SESSION_OUT_SCHEMA
    rows to `sink` and the open ones as the next snapshot to
    `open_sink`. `watermark` is the stream's delay ("4 hours")."""
    gap_us = gap_s * 1_000_000

    def fold(ep: Epoch, rows: DataFrame) -> DataFrame:
        return _fold_sessions(ep.prior, rows, gap_us)

    def split(ep: Epoch, sessions: DataFrame):
        closed = F.col("_later") | (
            F.unix_micros("session_end") + gap_us <= ep.next_wm_ms * 1000
        )
        out = (
            sessions.where(closed)
            .withColumn("session_id", F.concat_ws("#", "conv_id", "session_seq"))
            .select(*SESSION_OUT_SCHEMA.fieldNames())
        )
        return out, lambda: sessions.where(~closed).select(*_OPEN_COLS)

    return snapshot_fold(sink, open_sink, _OPEN_SCHEMA, watermark, fold, split)
