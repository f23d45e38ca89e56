"""Streaming metrics: per-query, per-batch progress via
StreamingQueryListener — rows/sec, batch durations, state size.

The north rule requires the job to be observable (metrics + lineage);
the enriched output rows additionally carry `_lineage_partition`
(pipeline.py) and the sink manifest records per-epoch row counts.
"""

from __future__ import annotations

import json
import threading
import traceback
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
    stays 0, and app.py prints the manifest sum in its place.

    The listener bus delivers events asynchronously, after
    `awaitTermination` may have returned, but in order: once a query's
    termination event has arrived, so have all its progress events.
    `wait_terminated` waits for that point."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.unparsed: list[str] = []
        self._terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        try:
            d = json.loads(event.progress.json)
        except ValueError:
            # runs on the listener bus, which would only log a raise;
            # summary() raises instead
            self.unparsed.append(traceback.format_exc())
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
        with self._cond:
            self._terminated.add(str(event.id))
            self._cond.notify_all()

    def wait_terminated(self, query_ids, timeout_s: float) -> None:
        """Block until the termination event of every query id has
        arrived; raise TimeoutError if one has not within timeout_s."""
        ids = {str(i) for i in query_ids}
        with self._cond:
            if not self._cond.wait_for(lambda: ids <= self._terminated, timeout_s):
                raise TimeoutError(
                    f"no termination event within {timeout_s}s for queries "
                    f"{sorted(ids - self._terminated)}"
                )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def summary(self) -> dict:
        """Per-query rollup. `sustained_rows_per_sec` counts only
        batches that processed data (numInputRows > 0) and only their
        triggerExecution time: in a long-running streaming job the
        query start and the final drain/no-data batches amortize to
        zero — what recurs per microbatch is data-batch processing.
        Raises ValueError if a progress event could not be parsed."""
        if self.unparsed:
            raise ValueError(
                f"{len(self.unparsed)} progress events could not be parsed; "
                f"the first:\n{self.unparsed[0]}"
            )
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
