"""Streaming SCD2 dimension maintenance — foreachBatch incremental MERGE.

Each microbatch's change rows fold into a versioned dimension via
`operators.scd.scd2_apply` (the fold law `apply(b1) ∘ apply(b2) ==
build(b1 + b2)` is pytest-asserted on the operator), so a continuously
running stream maintains "current + full history per entity" without
ever rebuilding from the raw stream. The demo dimension tracks each
conversation's phishing risk tier — the CEP output a security consumer
would page on transitions of.

Exactly-once without a transactional store: one complete dimension
snapshot per epoch, written through an `IdempotentSink` (`write_epoch`,
the same staging + rename + manifest commit as every other epoch
output). Epoch k folds into the newest snapshot committed below k
(`read_prior`), so a replayed epoch k rebuilds from snapshot k-1 —
which still exists — and overwrites snapshot k with identical content;
`scd2_apply` itself is idempotent for re-delivered duplicate change
rows (a duplicate is run-collapsed away, asserted in tests). Restart
resumes from the latest committed snapshot.

Scale: per batch, only TOUCHED entities re-enter a window
(`scd2_apply` anti-joins the untouched majority straight through), and
the snapshot write is the dimension's size, not the stream's. At
10^12-turn scale the snapshot becomes an Iceberg MERGE on
(entity, valid_from) — same interface, same fold.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.scd import init_scd2_dim, scd2_apply
from .sink import IdempotentSink


def risk_tier(score_col: str = "phishing_score") -> F.Column:
    """Phishing-score → tier: the attribute whose transitions the
    dimension versions."""
    s = F.coalesce(F.col(score_col), F.lit(0))
    return (
        F.when(s >= 80, F.lit("high"))
        .when(s >= 20, F.lit("medium"))
        .otherwise(F.lit("low"))
    )


class Scd2DimSink:
    """foreachBatch sink maintaining an SCD2 dimension of per-entity
    attribute history across microbatches."""

    def __init__(
        self,
        path: str,
        entity_col: str = "conv_id",
        attr_col: str = "risk_tier",
        ts_col: str = "ts",
        seq_col: str = "seq",
    ) -> None:
        self.path = path
        self.entity_col, self.attr_col = entity_col, attr_col
        self.ts_col, self.seq_col = ts_col, seq_col
        self._snapshots = IdempotentSink(path, keys=[entity_col, "version"])

    def committed_epochs(self) -> set[int]:
        return self._snapshots.committed_epochs()

    def read_dim(self, spark: SparkSession, epoch: int | None = None) -> DataFrame | None:
        """The dimension as of `epoch` (default: latest committed)."""
        if epoch is None:
            last = self._snapshots.last_committed()
            if last is None:
                return None
            epoch = last[0]
        return self._snapshots.read_epoch(spark, epoch)

    # -- foreachBatch --------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, epoch: int) -> None:
        changes = batch_df.select(
            self.entity_col, self.attr_col, self.ts_col, self.seq_col
        )
        kw = dict(
            entity_col=self.entity_col,
            attr_col=self.attr_col,
            ts_col=self.ts_col,
            seq_col=self.seq_col,
        )
        # before the first snapshot the prior is empty, and scd2_apply
        # over it builds the dimension from the changes alone
        _, dim_prev = self._snapshots.read_prior(
            batch_df.sparkSession, epoch, init_scd2_dim(changes, **kw).schema.toDDL()
        )
        self._snapshots.write_epoch(scd2_apply(dim_prev, changes, **kw), epoch)

    def __call__(self, batch_df: DataFrame, epoch: int) -> None:
        self.process_batch(batch_df, epoch)
