"""Streaming flag-dedup with bounded keyed state.

Reference semantics (src/bolts/tokenizer.py:81-97,176-196): a bounded
LRU of seen fingerprints; a repeated text is NOT dropped — it is
flagged `is_filtered=True` so downstream skips expensive work. State is
persisted (the reference pickles deques each tick; Spark's state store
checkpoints for free).

Implementation — scale-first: groupBy(BUCKET of fingerprint) +
applyInPandasWithState, NOT groupBy(fingerprint). Keying state on the
raw fingerprint means one Python invocation per distinct hash per
batch (≈ one per row — mostly-unique crypto hashes), which serializes
the whole stream through per-group overhead. Instead the key is
`pmod(xxhash64(sha1), n_buckets)`: a fixed number of uniformly-loaded
groups (crypto-hash input → no hot buckets), each processing its rows
VECTORIZED (pandas isin/duplicated), with per-bucket seen-sets as the
bounded-LRU state (the reference caps at 1e6 entries total; we cap
per bucket at `max_per_bucket`, evicting oldest-first). An event-time
TTL clears buckets idle past the watermark so availableNow/batch-drain
runs terminate.

n_buckets trades parallelism against per-group overhead: it should be
≥ shuffle parallelism (so all cores work) and ≪ distinct hashes per
batch (so the vectorization pays). Measured (409k-turn fixture,
local[1]): the applyInPandasWithState machinery costs ~12 ms per
GROUP per batch regardless of group size, so 1024 buckets paid ~12 s
of pure per-group overhead per batch where 256 pays a quarter of
that; 256 × max_per_bucket(4096) ≈ 1.05M retained fingerprints, the
reference's 1e6 cap almost exactly. Raise it for clusters with >256
concurrently-scheduled state tasks. n_buckets is part of the
CHECKPOINT CONTRACT: state keys are bucket ids, so changing it on a
live checkpoint mis-routes lookups — pick per deployment, keep for
the checkpoint's life.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import dedup_kernel as dk
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

_BUCKET_COL = "_dedup_bucket"

STATE_SCHEMA = StructType(
    [
        StructField("seen", ArrayType(StringType())),
    ]
)


def _out_schema(input_schema: StructType) -> StructType:
    return StructType(
        [f for f in input_schema.fields if f.name != _BUCKET_COL]
        + [StructField("is_filtered", BooleanType())]
    )


def flag_duplicates(
    df: DataFrame,
    key: str = "sha1",
    state_timeout_ms: int = 6 * 3600 * 1000,
    n_buckets: int = 256,
    max_per_bucket: int = 4096,
) -> DataFrame:
    """Streaming DataFrame → same rows + is_filtered flag. Requires an
    upstream watermark on ts (for the event-time TTL).

    Within a microbatch, rows of one bucket are ordered by
    (ts, conv_id, turn_idx); the globally-first occurrence of each
    fingerprint keeps is_filtered=False — matching the batch
    with_dedup_flag ordering. Total retained state ≈
    n_buckets × max_per_bucket fingerprints (≈4M default, the
    reference's 1e6-per-filter analog)."""
    if "is_filtered" in df.columns:  # replace a placeholder flag column
        df = df.drop("is_filtered")
    out_schema = _out_schema(df.schema)
    sort_cols = [c for c in ("ts", "conv_id", "turn_idx") if c in df.columns]

    def fn(
        key_: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        seen: list[str] = list(state.get[0]) if state.exists else []
        # vectorized kernel (dedup_kernel.py), testable without Spark
        out, seen, max_ts_ms = dk.process_bucket(
            seen, list(pdfs), key, sort_cols, drop_col=_BUCKET_COL
        )
        if out is not None:
            yield out
        seen = dk.evict(seen, max_per_bucket)
        state.update((seen,))
        # event-time TTL: evict once the watermark passes last-seen + ttl
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts_ms + state_timeout_ms, wm + 1000))

    bucketed = df.withColumn(
        _BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
    )
    return bucketed.groupBy(_BUCKET_COL).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
