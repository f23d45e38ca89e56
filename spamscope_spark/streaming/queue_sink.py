"""Queue sink — the OutputRedis analog.

The reference's Redis sink RPUSHes JSON strings onto two queues (mails
+ flattened attachments) after `reformat_output` splits each document
(src/bolts/output_redis.py:31-126; split semantics
src/modules/utils.py:269-372: attachment records are promoted to their
own queue entries carrying the parent mail's ids), flushing every
`flush_size` docs or tick.

Engine recast: a foreachBatch sink appending one epoch-atomic segment
per queue and microbatch — the microbatch IS the flush batch; a
consumer drains committed epochs in order (the queue contract); a
replayed epoch overwrites its own segment (exactly-once). Each queue is
an `IdempotentSink` whose rows are the messages: parquet with one
`value` string column, the JSON message byte for byte, so segment row
counts come from the parquet footers. The split: every enriched turn
goes to the `turns` queue as its canonical `json` row (`with_json_row`,
the enriched sink's serialization); tool-invocation rows are PROMOTED
to a `tool_calls` queue entry keyed by the parent (conv_id, turn_idx)
— the mail/attachment split. No driver-side collect: segments are
written by executors, only the rename + manifest append run on the
driver.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .pipeline import with_json_row
from .sink import IdempotentSink, epochs_glob


class QueueSink:
    """foreachBatch target: JSON-message queues, one `IdempotentSink`
    of epoch-atomic segments per queue."""

    def __init__(self, path: str, queues: tuple[str, ...] = ("turns", "tool_calls")):
        self.path = path
        self.queues = queues
        self._sinks = {
            q: IdempotentSink(os.path.join(path, q), keys=["value"]) for q in queues
        }

    def _split(self, batch_df: DataFrame) -> dict[str, DataFrame]:
        """reformat_output analog: full rows → turns queue; tool
        invocations promoted with parent keys → tool_calls queue."""
        turns = with_json_row(batch_df).select(F.col("json").alias("value"))
        promoted = batch_df.where(F.col("tool").isNotNull()).select(
            F.to_json(
                F.struct(
                    F.col("conv_id").alias("parent_conv_id"),
                    F.col("turn_idx").alias("parent_turn_idx"),
                    F.col("tool").alias("tool"),
                    F.col("ts").alias("ts"),
                    F.col("role").alias("role"),
                )
            ).alias("value")
        )
        return {"turns": turns, "tool_calls": promoted}

    def process_batch(self, batch_df: DataFrame, epoch: int) -> None:
        parts = self._split(batch_df)
        for q, sink in self._sinks.items():
            sink.process_batch(parts[q], epoch)

    def __call__(self, batch_df: DataFrame, epoch: int) -> None:
        self.process_batch(batch_df, epoch)

    def read_queue(self, spark: SparkSession, queue: str) -> DataFrame:
        """Committed entries, one JSON string per row (the consumer's
        LRANGE view); epoch column for drain ordering."""
        return self._sinks[queue].read_raw(spark)


TOOL_CALLS_SCHEMA = (
    "parent_conv_id string, parent_turn_idx int, tool string, "
    "ts timestamp, role string"
)


def read_queue_stream(
    spark: SparkSession,
    path: str,
    queue: str,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Queue CONSUMER — the RabbitMQ client analog
    (src/modules/rabbitmq_client.py:44-160: connect, basic_qos prefetch,
    consume JSON messages, ack).

    Engine recast: a file-source stream over the queue's committed
    epoch segments. The broker handshake is subsumed by the directory
    protocol — segments become visible ONLY via QueueSink's atomic
    rename, so discovery never sees a half-written epoch; offsets in
    the consumer's checkpoint are the acks (a restart resumes exactly
    after the last committed batch, replacing channel redelivery);
    `max_files_per_trigger` is the basic_qos prefetch bound. With a
    `schema`, messages are parsed from JSON into columns (the client's
    json.loads); corrupt records become null columns rather than
    killing the consumer, matching the client's log-and-continue."""
    raw = spark.readStream
    if max_files_per_trigger is not None:
        raw = raw.option("maxFilesPerTrigger", max_files_per_trigger)
    out = raw.schema("value string").parquet(epochs_glob(os.path.join(path, queue)))
    if schema is None:
        return out
    return out.select(
        F.from_json(F.col("value"), schema).alias("msg")
    ).select("msg.*")
