"""Streaming flag-dedup as a per-epoch fold inside foreachBatch.

Reference semantics (src/bolts/tokenizer.py:81-97,176-196): a bounded
LRU of seen fingerprints; a repeated text is NOT dropped — it is
flagged `is_filtered=True` so downstream skips expensive work.

The query stays stateless (no state store, no no-data batch, no Arrow
round trip): the seen-set is a side sink with one snapshot per epoch,
like the silence monitor's state sink. Epoch k reads the newest
snapshot committed BELOW k, so a replay of k writes the same flags and
snapshot. It drops rows at or behind the snapshot's watermark (Spark's
late-row rule), flags a row whose sha1 is in the seen-set or is not
the first of its sha1 in the epoch by (ts, conv_id, turn_idx) — the
batch `with_dedup_flag` order — and builds the next snapshot from the
written epoch's narrow columns.

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
from pyspark.sql import DataFrame, Observation, Window

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
    delayed_ms = F.unix_millis(F.col("ts") - F.expr(f"INTERVAL {watermark}"))

    def process(batch_df: DataFrame, epoch: int) -> None:
        spark = batch_df.sparkSession
        entry, seen = seen_sink.read_prior(spark, epoch, _SEEN_SCHEMA)
        # Spark's first-batch watermark is 0 too
        wm_ms = entry["watermark_ms"] if entry else 0
        seen = seen.where(F.col("expires_ms") >= wm_ms)
        late = F.col("ts") <= F.timestamp_millis(F.lit(wm_ms))

        # Late rows ride along, ranked after every kept row of their
        # sha1, to the last stage (after `prepare`, which may sort) and
        # are observed and dropped there. Lower down, an all-late epoch
        # lets AQE prune the observed stage once the shuffle above it
        # comes out empty, and a sort's sampling job runs it twice.
        rows = batch_df.drop("is_filtered")
        first = Window.partitionBy("sha1").orderBy(late, *_FIRST)
        late_obs, wm_obs = Observation(), Observation()
        next_wm = F.greatest(F.max(delayed_ms), F.lit(wm_ms))
        flagged = rows.join(
            seen.select("sha1", F.lit(True).alias("_seen")), "sha1", "left"
        ).select(
            *rows.columns,
            (F.col("_seen").isNotNull() | (F.row_number().over(first) > 1))
            .alias("is_filtered"),
            late.alias("_late"),
        )
        out = (
            prepare(flagged)
            .observe(late_obs, F.count_if("_late").alias("late_rows"))
            .observe(wm_obs, next_wm.alias("watermark_ms"))
            .where(~F.col("_late"))
            .drop("_late")
        )
        sink.observe_next(late_obs)
        sink.process_batch(out, epoch)

        # next snapshot, from the columns just written (not batch_df,
        # whose plan would recompute the enrichment)
        written = sink.read_epoch(spark, epoch, _WRITTEN_SCHEMA).withColumn(
            "bucket", bucket
        )
        expires = written.groupBy("bucket").agg(
            F.greatest(
                F.max(F.unix_millis("ts")) + F.lit(ttl_ms),
                F.lit(wm_ms + 1000),
            ).alias("_expires")
        )
        added = written.where(~F.col("is_filtered")).select(
            "bucket", "sha1", F.lit(epoch).cast("long").alias("epoch"),
            *_FIRST, F.lit(None).cast("long").alias("expires_ms"),
        )
        newest = Window.partitionBy("bucket").orderBy(
            *[F.col(c).desc() for c in ("epoch", *_FIRST, "sha1")]
        )
        nxt = (
            seen.unionByName(added)
            .join(expires, "bucket", "left")
            .withColumn("expires_ms", F.coalesce("_expires", "expires_ms"))
            .withColumn("_age", F.row_number().over(newest))
            .where(F.col("_age") <= max_per_bucket)
            .select(*_SEEN_COLS)
        )
        # the output write has run, so wm_obs is complete
        seen_sink.write_epoch(nxt, epoch, wm_obs)

    return process
