"""Ship-path evidence: the pipeline runs under `spark-submit --py-files`
with NO repo on the driver/executor PYTHONPATH — the deployment the
north rule names (and the analog of the reference's `spamscope-topology
submit`, src/cli/spamscope_topology.py:32-142). The test zips the
package, launches app.py from a foreign cwd, and asserts the drained
output; a resubmit with the same checkpoints must add zero rows
(resumability + exactly-once across process restarts, not just across
query restarts inside one JVM)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_package(dest: str) -> str:
    zpath = os.path.join(dest, "app.zip")
    pkg = os.path.join(REPO, "spamscope_spark")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(root, fn)
                    zf.write(p, os.path.relpath(p, REPO))
    return zpath


def _submit(tmp_path, input_dir: str, work_dir: str, *extra: str) -> dict:
    """Run app.py under spark-submit with the package shipped as a
    --py-files zip; return the summary it prints."""
    zpath = _zip_package(str(tmp_path))
    cmd = [
        "spark-submit",
        "--master", "local[2]",
        "--py-files", zpath,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.sql.session.timeZone=UTC",
        os.path.join(REPO, "app.py"),
        "--input", input_dir,
        "--work-dir", work_dir,
        "--gap-s", "1800",
        "--watermark", "4 hours",
        *extra,
    ]
    # Foreign cwd + scrubbed PYTHONPATH: the ONLY route to the package
    # is the --py-files zip, exactly like a cluster submit.
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout[r.stdout.index("{"):])


needs_submit = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


@needs_submit
def test_spark_submit_py_files_round_trip(spark, tmp_path):
    input_dir = str(tmp_path / "turns_in")
    work_dir = str(tmp_path / "work")
    from spamscope_spark.datagen import generate_turns

    generate_turns(spark, n_convs=30, turns_per_conv=8).coalesce(2).write.parquet(
        input_dir
    )
    summary = _submit(tmp_path, input_dir, work_dir)
    enriched = spark.read.parquet(
        os.path.join(work_dir, "out", "enriched", "data", "epoch=*")
    )
    n_in = spark.read.parquet(input_dir).count()
    assert enriched.count() == n_in > 0
    # the summary holds every query's progress, the last to end too
    for query in ("enriched_turns", "sessions", "tool_pairs"):
        assert summary[query]["batches"] >= 1, (query, summary)
        assert summary[query]["total_input_rows"] == n_in, (query, summary)
    assert {"conv_id", "turn_idx", "json"} <= set(enriched.columns)
    sessions = spark.read.parquet(
        os.path.join(work_dir, "out", "sessions", "data", "epoch=*")
    )
    assert sessions.count() > 0
    manifest = os.path.join(work_dir, "out", "enriched", "_manifest.jsonl")
    assert os.path.exists(manifest)

    # resubmit from the same checkpoints: a fresh JVM resumes, drains
    # nothing new, and the committed output is unchanged
    _submit(tmp_path, input_dir, work_dir)
    assert (
        spark.read.parquet(
            os.path.join(work_dir, "out", "enriched", "data", "epoch=*")
        ).count()
        == n_in
    )


@needs_submit
def test_printed_late_rows_are_the_manifest_sums(spark, tmp_path):
    """The three queries fold their state in foreachBatch and drop late
    rows there, so the printed `late_rows_dropped` of each is the sum of
    `late_rows` over its sink's manifest. A second file whose rows all
    lie at or below the first file's next watermark is late in full."""
    import pyspark.sql.functions as F

    from spamscope_spark.datagen import generate_turns

    input_dir = str(tmp_path / "turns_in")
    work_dir = str(tmp_path / "work")
    first = generate_turns(spark, n_convs=12, turns_per_conv=8)
    lo, hi = first.select(F.min("ts"), F.max("ts")).first()
    # max ts of the second file = lo - 4 hours <= hi - 4 hours, the
    # watermark the first file leaves
    back = int((hi - lo).total_seconds()) + 4 * 3600
    late = first.withColumn(
        "conv_id", F.concat(F.lit("late_"), F.col("conv_id"))
    ).withColumn("ts", F.col("ts") - F.expr(f"INTERVAL {back} SECONDS"))
    first.coalesce(1).write.parquet(input_dir)
    (old,) = [n for n in os.listdir(input_dir) if n.endswith(".parquet")]
    late.coalesce(1).write.mode("append").parquet(input_dir)
    (new,) = [
        n for n in os.listdir(input_dir) if n.endswith(".parquet") and n != old
    ]
    # maxFilesPerTrigger takes the oldest file first
    t = os.path.getmtime(os.path.join(input_dir, old)) + 1
    os.utime(os.path.join(input_dir, new), (t, t))

    summary = _submit(
        tmp_path, input_dir, work_dir, "--max-files-per-trigger", "1"
    )
    for query, out in (
        ("enriched_turns", "enriched"), ("sessions", "sessions"),
        ("tool_pairs", "tool_pairs"),
    ):
        with open(os.path.join(work_dir, "out", out, "_manifest.jsonl")) as f:
            manifest = sum(json.loads(line).get("late_rows", 0) for line in f)
        assert summary[query]["late_rows_dropped"] == manifest > 0, query
