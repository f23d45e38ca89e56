"""The one driver of the per-epoch snapshot folds.

A custom streaming operator (the dedup, session, tool-pair and CEP
folds) keeps its state as a side sink with one snapshot per epoch and
folds each epoch's rows into it in the query's foreachBatch, so the
query stays stateless: no state store, no no-data batch, no Arrow round
trip. Only this module knows the protocol:

- epoch k folds from the newest snapshot committed BELOW k
  (`IdempotentSink.read_prior`), so a replay of k writes the same output
  and snapshot;
- the watermark is the prior snapshot's `watermark_ms`, 0 before the
  first one (as Spark's first-batch watermark);
- an epoch row with ts <= watermark is late (Spark's rule): it is
  dropped and counted as `late_rows` in the output epoch's manifest line;
- the next watermark, greatest(watermark, max ts - delay) over the
  epoch's rows, goes in the snapshot's manifest line; an on-time row of
  a later epoch lies past it, so what sits at or below it is final;
- both are observed on the step's folded rows, above its shuffle: when
  the rows below a shuffle come out empty, AQE prunes their stage from
  the plan, observations and all;
- the output is written through `process_batch`, then the snapshot
  through `write_epoch`.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from .sink import IdempotentSink


@dataclass(frozen=True)
class Epoch:
    """The epoch a step folds: its id, and the prior snapshot's rows and
    watermark (ms)."""

    id: int
    prior: DataFrame
    wm_ms: int
    _next_wm: Observation

    @property
    def next_wm_ms(self) -> int:
        """greatest(wm_ms, max ts - delay) over the epoch's rows. Known
        once a job has computed the folded rows: in a settled step's
        `split`, or after the output write."""
        return self._next_wm.get["watermark_ms"]


def snapshot_fold(
    sink: IdempotentSink,
    state_sink: IdempotentSink,
    schema: str,
    watermark: str,
    fold: Callable[[Epoch, DataFrame], DataFrame],
    split: Callable[[Epoch, DataFrame], tuple[DataFrame, Callable[[], DataFrame]]],
    settle: bool = True,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function that folds each epoch's rows (they need a
    `ts` timestamp) into the `schema` snapshots of `state_sink`;
    `watermark` is the stream's delay ("4 hours").

    `fold(epoch, rows)` gets the rows with a `_late` flag and returns
    its folded rows, each with `ts` and `_late`: the late rows it stands
    for, a flag or a count. So late rows ride through the shuffle. Rows
    carried from the snapshot may too: their ts came from an earlier
    epoch, so ts - delay cannot pass the watermark. The driver drops the
    late rows and, with `settle`, checkpoints the rest, so the input is
    read once and `Epoch.next_wm_ms` is known. `split(epoch, folded)`
    returns the output rows and a function giving the next snapshot,
    called after the output write, so it may read the written epoch."""
    delayed_ms = F.unix_millis(F.col("ts") - F.expr(f"INTERVAL {watermark}"))

    def process(batch_df: DataFrame, epoch: int) -> None:
        entry, prior = state_sink.read_prior(batch_df.sparkSession, epoch, schema)
        wm_ms = entry["watermark_ms"] if entry else 0
        late_obs, wm_obs = Observation(), Observation()
        ep = Epoch(epoch, prior, wm_ms, wm_obs)
        rows = batch_df.withColumn(
            "_late", F.col("ts") <= F.timestamp_millis(F.lit(wm_ms))
        )
        n_late = F.col("_late").cast("long")
        folded = (
            fold(ep, rows)
            .observe(late_obs, F.coalesce(F.sum(n_late), F.lit(0)).alias("late_rows"))
            .observe(
                wm_obs,
                F.greatest(F.max(delayed_ms), F.lit(wm_ms)).alias("watermark_ms"),
            )
            .where(n_late == 0)
            .drop("_late")
        )
        if settle:
            # the one job that reads the epoch's input; it completes
            # both observations
            folded = folded.localCheckpoint()
        out, snapshot = split(ep, folded)
        sink.observe_next(late_obs)
        sink.process_batch(out, epoch)
        # the output write has run, so wm_obs is complete
        state_sink.write_epoch(snapshot(), epoch, wm_obs)

    return process
