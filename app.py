#!/usr/bin/env python
"""spark-submit entrypoint for the streaming CEP pipeline.

Usage (multi-executor cluster):

  zip -r app.zip spamscope_spark/
  spark-submit --py-files app.zip \\
      --conf spark.sql.shuffle.partitions=2000 \\
      app.py --input s3://bucket/turns --work-dir s3://bucket/spamscope \\
             --gap-s 1800 --watermark "4 hours" [--continuous]

Runs the three queries (enriched turns / sessions / tool pairs), each
reading the turns source, with checkpoints under {work-dir}/checkpoints.
The same three queries run in both modes; only the trigger differs. The
default is availableNow (drain the backlog and exit); --continuous keeps
them running, one microbatch after another. Kill it and resubmit, it
resumes: a checkpoint holds the source offsets, and each query's state
(seen set, open sessions, pending tool calls) lives in per-epoch
snapshots beside its output under {work-dir}/out.

None of the three has a state operator. Queries with one take their
state-store provider from Spark's conf, as in any deployment; RocksDB is

  --conf spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
  --conf spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true

The printed summary has one entry per query, built from all its
progress events: it is printed once the listener has seen every query
terminate. Its `late_rows_dropped` per query is the sum of the
`late_rows` its folds recorded in its sink's manifest.

The reference's equivalent is `spamscope-topology submit`
(src/cli/spamscope_topology.py:32-142).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

# How long the summary waits for the listener bus to deliver the
# queries' last events after they have terminated.
_TERMINATION_WAIT_S = 60


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="turns table path (parquet dir) or Iceberg table name")
    ap.add_argument("--input-format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--work-dir", required=True, help="checkpoints + outputs root")
    ap.add_argument("--gap-s", type=int, default=1800)
    ap.add_argument("--watermark", default="4 hours")
    ap.add_argument("--band-s", type=int, default=600)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--continuous", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("spamscope-spark").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from spamscope_spark.streaming.metrics import MetricsListener
    from spamscope_spark.streaming.pipeline import (
        PipelineConfig,
        start_enriched_query,
        start_join_query,
        start_session_query,
    )

    cfg = PipelineConfig(
        input_path=args.input,
        work_dir=args.work_dir,
        input_format=args.input_format,
        gap_s=args.gap_s,
        watermark=args.watermark,
        band_s=args.band_s,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    listener = MetricsListener()
    spark.streams.addListener(listener)

    started = [
        start(spark, cfg, available_now=not args.continuous)
        for start in (start_enriched_query, start_session_query, start_join_query)
    ]
    for q, _ in started:
        q.awaitTermination()
    listener.wait_terminated([q.id for q, _ in started], _TERMINATION_WAIT_S)
    summary = listener.summary()
    for q, sink in started:
        summary.setdefault(q.name, {})["late_rows_dropped"] = sum(
            e.get("late_rows", 0) for e in sink.manifest_entries().values()
        )
    json.dump(summary, sys.stdout, indent=2)
    print()


if __name__ == "__main__":
    main()
