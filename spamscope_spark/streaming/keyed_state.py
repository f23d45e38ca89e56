"""Hash-bucketed keyed state for the Python stateful operators.

The only module that knows how a Python stateful operator keeps its
state; the CEP sequence matcher (cep_state.py) is its one user. The
sessionizer folds per epoch in the JVM instead (session_state.py). An
operator supplies three pure callbacks over a dict
``{key: per-key state}``, all mutating it in place:

- ``on_rows(states, pdf, wm_us) -> rows``: a bucket's new rows arrived;
- ``on_timeout(states, wm_us) -> rows``: the bucket's timer fired;
- ``due_us(states) -> int``: the earliest event time at which some key
  needs another call (called only while ``states`` is non-empty).

State is keyed on ``pmod(xxhash64(key), N_BUCKETS)``, not on the key
itself: the ``applyInPandasWithState`` machinery costs ~12 ms per GROUP
per batch regardless of group size (409k-turn fixture, local[1]), so one
Python call per bucket per batch amortizes it over the bucket's keys,
where one call per key would dominate the stage at 10^6+ live keys.
Buckets are uniform for a high-cardinality key, and the bucket decides
which task carries a hot key. N_BUCKETS (≥ the shuffle parallelism,
≪ the groups per batch) is part of the checkpoint contract: state keys
are bucket ids.

Per bucket, the state row is one ``blob`` column holding a protocol-4
pickle of the dict, and one event-time timer at ``due_us``, clamped
above the watermark (Spark rejects timestamps at or below it). A bucket
whose dict empties is removed from the store.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, StructField, StructType

N_BUCKETS = 256
BUCKET_COL = "_bucket"
_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def apply_bucketed_state(
    df: DataFrame,
    key: str,
    out_schema: StructType,
    on_rows: Callable[[dict, pd.DataFrame, int], list[dict]],
    on_timeout: Callable[[dict, int], list[dict]],
    due_us: Callable[[dict], int],
) -> DataFrame:
    """Run a keyed state machine over a watermarked stream. ``df`` is
    the operator's projection (only the columns its callbacks read:
    project BEFORE the shuffle, column pruning does not cross
    applyInPandasWithState). Emits ``out_schema`` rows in append mode."""

    def fn(
        _bucket: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        states: dict = pickle.loads(state.get[0]) if state.exists else {}
        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            rows = on_timeout(states, wm_ms * 1000)
        else:
            # Concat Arrow chunks first: a bucket bigger than
            # maxRecordsPerBatch arrives as several chunks, and the
            # kernels order rows across the whole bucket-batch.
            chunks = [p for p in pdfs if len(p)]
            rows = []
            if chunks:
                pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
                rows = on_rows(states, pdf, wm_ms * 1000)
        if states:
            state.update((pickle.dumps(states, protocol=4),))
            state.setTimeoutTimestamp(max(due_us(states) // 1000, wm_ms + 1000))
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(rows)

    bucketed = df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(N_BUCKETS))
    )
    return bucketed.groupBy(BUCKET_COL).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
