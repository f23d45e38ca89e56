"""Per-bucket flag-dedup kernel.

The vectorized bucket-processing core of the streaming dedup filter
(dedup_state.flag_duplicates, which adds only `applyInPandasWithState`
state plumbing and the TTL). Semantics are the reference's bounded
LRU flag-not-drop filter (src/bolts/tokenizer.py:81-97,176-196); the
kernel owns the ordering guarantee (globally-first occurrence by
(ts, conv_id, turn_idx) within the batch), the seen-set update, and
the oldest-first eviction.
"""

from __future__ import annotations

import pandas as pd


def process_bucket(
    seen: list[str],
    chunks: list[pd.DataFrame],
    key: str,
    sort_cols: list[str],
    drop_col: str | None = None,
) -> tuple[pd.DataFrame | None, list[str], int]:
    """Flag one bucket's microbatch rows against (and into) the seen
    list. Returns (out_pdf | None, seen, max_ts_ms). Chunks are
    concatenated BEFORE the sort: Arrow delivers a group as multiple
    chunks past maxRecordsPerBatch, and sorting them independently
    would break first-occurrence ordering across chunk boundaries."""
    chunks = [p for p in chunks if len(p)]
    if not chunks:
        return None, seen, 0
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(
        chunks, ignore_index=True
    )
    if sort_cols:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
    max_ts_ms = 0
    if "ts" in pdf.columns:
        max_ts_ms = int(pd.Timestamp(pdf["ts"].max()).value // 1_000_000)
    seen_set = set(seen)
    hashes = pdf[key]
    in_seen = hashes.isin(seen_set)
    flagged = in_seen | hashes.duplicated(keep="first")
    new = pd.unique(hashes[~in_seen])
    seen = seen + list(new)
    if drop_col is not None and drop_col in pdf.columns:
        pdf = pdf.drop(columns=[drop_col])
    return pdf.assign(is_filtered=flagged.values), seen, max_ts_ms


def evict(seen: list[str], max_per_bucket: int) -> list[str]:
    """Oldest-first eviction to the per-bucket cap (LRU analog of the
    reference's 1e6-entry filters)."""
    if len(seen) > max_per_bucket:
        return seen[len(seen) - max_per_bucket:]
    return seen
