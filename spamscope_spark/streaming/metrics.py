"""Streaming metrics: per-query, per-batch progress via
StreamingQueryListener — rows/sec, batch durations, state size.

The north rule requires the job to be observable (metrics + lineage);
the enriched output rows additionally carry `_lineage_partition`
(pipeline.py) and the sink manifest records per-epoch row counts.
"""

from __future__ import annotations

import json
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    """Collects every progress event per query name.

    `late_rows_dropped` in `summary()` sums the state operators'
    numRowsDroppedByWatermark, so it counts only queries that have a
    state operator. A snapshot fold (fold.py: the dedup, session,
    tool-pair and CEP folds) runs in a stateless query's foreachBatch,
    drops late rows itself and writes their count as `late_rows` in each
    epoch's line of its output sink's manifest
    (`IdempotentSink.manifest_entries()`, e.g. of `out/enriched`,
    `out/sessions` and `out/tool_pairs`); its `late_rows_dropped` here
    stays 0."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = defaultdict(list)

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        try:
            d = json.loads(p.json)
        except Exception:
            return
        self.progress[d.get("name") or d.get("id", "?")].append(
            {
                "batchId": d.get("batchId"),
                "numInputRows": d.get("numInputRows"),
                "processedRowsPerSecond": d.get("processedRowsPerSecond"),
                "durationMs": d.get("durationMs"),
                "stateOperators": [
                    {
                        "operatorName": s.get("operatorName"),
                        "numRowsTotal": s.get("numRowsTotal"),
                        "memoryUsedBytes": s.get("memoryUsedBytes"),
                        # late-data observability: rows the watermark
                        # rejected (the reference silently never ages
                        # its JsonMaker buffers; here drops are counted)
                        "numRowsDroppedByWatermark": s.get(
                            "numRowsDroppedByWatermark"
                        ),
                    }
                    for s in d.get("stateOperators", [])
                ],
            }
        )

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def summary(self) -> dict:
        """Per-query rollup. `sustained_rows_per_sec` counts only
        batches that processed data (numInputRows > 0) and only their
        triggerExecution time: in a long-running streaming job the
        query start and the final drain/no-data batches amortize to
        zero — what recurs per microbatch is data-batch processing."""
        out = {}
        for name, batches in self.progress.items():
            data = [b for b in batches if (b["numInputRows"] or 0) > 0]
            rows = sum(b["numInputRows"] or 0 for b in batches)
            data_ms = sum(
                (b["durationMs"] or {}).get("triggerExecution", 0) for b in data
            )
            out[name] = {
                "batches": len(batches),
                "data_batches": len(data),
                "total_input_rows": rows,
                "late_rows_dropped": sum(
                    s.get("numRowsDroppedByWatermark") or 0
                    for b in batches
                    for s in b.get("stateOperators", [])
                ),
                "data_batch_ms": data_ms,
                "sustained_rows_per_sec": (
                    round(rows / (data_ms / 1000.0), 1) if data_ms else None
                ),
                "mean_rows_per_sec": round(
                    sum(b["processedRowsPerSecond"] or 0 for b in batches)
                    / max(len(batches), 1),
                    1,
                ),
            }
        return out
