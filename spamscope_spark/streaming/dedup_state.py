"""Streaming flag-dedup as a per-epoch snapshot fold (fold.py).

Reference semantics (src/bolts/tokenizer.py:81-97,176-196): a bounded
LRU of seen fingerprints; a repeated text is NOT dropped — it is
flagged `is_filtered=True` so downstream skips expensive work.

The seen-set is the fold's snapshot. Each epoch flags a row whose sha1
is in the seen-set or is not the first of its sha1 in the epoch by
(ts, conv_id, turn_idx) — the batch `with_dedup_flag` order — and
builds the next snapshot from the written epoch's narrow columns.

The seen-set is bounded per bucket `pmod(xxhash64(sha1), n_buckets)`:
`max_per_bucket` entries, evicted oldest-first by (epoch, ts, conv_id,
turn_idx) of the row that added them (256 × 4096 ≈ the reference's 1e6
cap). A bucket that receives rows expires at max(its max ts + ttl,
watermark + 1 s); a later epoch whose watermark has passed that drops
the bucket before flagging. n_buckets is part of the snapshot contract.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .fold import Epoch, snapshot_fold
from .sink import IdempotentSink

_SEEN_SCHEMA = (
    "bucket int, sha1 string, epoch long, ts timestamp, conv_id string, "
    "turn_idx int, expires_ms long"
)
_SEEN_COLS = [c.split()[0] for c in _SEEN_SCHEMA.split(", ")]

# the narrow columns of a written epoch the next snapshot is built from
_WRITTEN_SCHEMA = (
    "sha1 string, ts timestamp, conv_id string, turn_idx int, is_filtered boolean"
)
_FIRST = ["ts", "conv_id", "turn_idx"]

# how long past its newest row's ts a seen-set bucket lives (`ttl_ms`)
SEEN_TTL_MS = 6 * 3600 * 1000


def dedup_fold(
    sink: IdempotentSink,
    seen_sink: IdempotentSink,
    watermark: str,
    ttl_ms: int,
    prepare: Callable[[DataFrame], DataFrame] = lambda df: df,
    n_buckets: int = 256,
    max_per_bucket: int = 4096,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function that flags each epoch's rows and writes
    them through `prepare` to `sink`, and the next seen-set snapshot to
    `seen_sink`. `watermark` is the stream's delay ("4 hours"); rows
    need sha1, ts, conv_id, turn_idx and may carry an is_filtered
    placeholder, which is replaced. `prepare` must keep every column
    (late rows are dropped after it)."""
    bucket = F.pmod(F.xxhash64("sha1"), F.lit(n_buckets)).cast("int")

    def live(ep: Epoch) -> DataFrame:
        return ep.prior.where(F.col("expires_ms") >= ep.wm_ms)

    def fold(ep: Epoch, rows: DataFrame) -> DataFrame:
        # Late rows rank after every kept row of their sha1 and ride
        # through `prepare`, which may sort: a sort's sampling job runs
        # the stage below it twice.
        rows = rows.drop("is_filtered")
        first = Window.partitionBy("sha1").orderBy("_late", *_FIRST)
        flagged = rows.join(
            live(ep).select("sha1", F.lit(True).alias("_seen")), "sha1", "left"
        ).select(
            *rows.columns,
            (F.col("_seen").isNotNull() | (F.row_number().over(first) > 1))
            .alias("is_filtered"),
        )
        return prepare(flagged)

    def split(ep: Epoch, flagged: DataFrame):
        def snapshot() -> DataFrame:
            # from the columns just written (not the epoch's rows, whose
            # plan would recompute the enrichment)
            written = sink.read_epoch(
                flagged.sparkSession, ep.id, _WRITTEN_SCHEMA
            ).withColumn("bucket", bucket)
            expires = written.groupBy("bucket").agg(
                F.greatest(
                    F.max(F.unix_millis("ts")) + F.lit(ttl_ms),
                    F.lit(ep.wm_ms + 1000),
                ).alias("_expires")
            )
            added = written.where(~F.col("is_filtered")).select(
                "bucket", "sha1", F.lit(ep.id).cast("long").alias("epoch"),
                *_FIRST, F.lit(None).cast("long").alias("expires_ms"),
            )
            newest = Window.partitionBy("bucket").orderBy(
                *[F.col(c).desc() for c in ("epoch", *_FIRST, "sha1")]
            )
            return (
                live(ep).unionByName(added)
                .join(expires, "bucket", "left")
                .withColumn("expires_ms", F.coalesce("_expires", "expires_ms"))
                .withColumn("_age", F.row_number().over(newest))
                .where(F.col("_age") <= max_per_bucket)
                .select(*_SEEN_COLS)
            )

        return flagged, snapshot

    return snapshot_fold(
        sink, seen_sink, _SEEN_SCHEMA, watermark, fold, split, settle=False
    )
