#!/usr/bin/env python3
"""The N→4N scaling pair, run through the production entrypoint.

Usage: python3 tools/scaling_pair.py   (about 5 minutes on a 4-core host)

Writes one seeded turns backlog (`generate_turns`, 6000 conversations x
64 turns, 16 parquet files so each side has at least 4N splits) under a
temp dir, then drains it with app.py under `spark-submit --py-files`
twice, each time with a fresh work dir and the same confs: pinned to
core 0 at local[1], then to cores 0-3 at local[4]. Per side it reports
the turns, the drain time (the slowest query's `data_batch_ms` in
app.py's printed summary), turns/s and the host's steal% over the run.
It prints one JSON line with both sides and
efficiency = (turns/s at local[4] / turns/s at local[1]) / 4.

It exits non-zero if a side's summary lacks one of the three queries or
its enriched manifest rows differ from the input turns. One run is one
sample: no reps, retries or steal gating; run it again for another.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.measure import proc_stat, steal_pct  # noqa: E402

QUERIES = ("enriched_turns", "sessions", "tool_pairs")
CONFS = (
    "spark.sql.shuffle.partitions=16",
    "spark.sql.session.timeZone=UTC",
    "spark.ui.enabled=false",
    "spark.ui.showConsoleProgress=false",
)


def write_backlog(path: str) -> int:
    """Runs in a child process, so its JVM is gone before the pair."""
    from pyspark.sql import SparkSession

    from spamscope_spark.datagen import generate_turns

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    generate_turns(spark, n_convs=6000, turns_per_conv=64).repartition(16).write.parquet(path)
    turns = spark.read.parquet(path).count()
    spark.stop()
    return turns


def drain(tmp: str, cores: str, n: int, turns: int) -> dict:
    """Run app.py at local[n] pinned to `cores`; check and time it."""
    work = os.path.join(tmp, f"work_{n}")
    cmd = ["taskset", "-c", cores, "spark-submit", "--master", f"local[{n}]",
           "--py-files", os.path.join(tmp, "app.zip")]
    for conf in CONFS:
        cmd += ["--conf", conf]
    cmd += [os.path.join(REPO, "app.py"), "--input", os.path.join(tmp, "turns"),
            "--work-dir", work]
    before = proc_stat()
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True,
                         env={**os.environ, "PYSPARK_PYTHON": sys.executable}).stdout
    steal = steal_pct(before, proc_stat())
    summary = json.loads(out[out.index("{"):])
    # app.py prints late_rows_dropped for every query it started, so a
    # query without progress in the summary still has an entry
    missing = [q for q in QUERIES if "data_batch_ms" not in summary.get(q, {})]
    if missing:
        sys.exit(f"local[{n}]: the summary lacks the progress of {missing}: {summary}")
    with open(os.path.join(work, "out", "enriched", "_manifest.jsonl")) as f:
        epochs = {e["epoch"]: e["rows"] for e in map(json.loads, f)}
    if sum(epochs.values()) != turns:
        sys.exit(f"local[{n}]: enriched manifest rows {sum(epochs.values())} != {turns} turns")
    drain_s = max(summary[q]["data_batch_ms"] for q in QUERIES) / 1000.0
    return {"turns": turns, "drain_s": round(drain_s, 1),
            "turns_per_s": round(turns / drain_s, 1), "steal_pct": round(steal, 2)}


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="scaling_pair_") as tmp:
        with multiprocessing.get_context("spawn").Pool(1) as pool:
            turns = pool.apply(write_backlog, (os.path.join(tmp, "turns"),))
        shutil.make_archive(os.path.join(tmp, "app"), "zip", REPO, "spamscope_spark")
        one = drain(tmp, "0", 1, turns)
        four = drain(tmp, "0-3", 4, turns)
    eff = four["turns_per_s"] / one["turns_per_s"] / 4
    print(json.dumps({"local1": one, "local4": four, "efficiency": round(eff, 3)}))


if __name__ == "__main__":
    main()
