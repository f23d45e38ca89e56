#!/usr/bin/env python3
"""Benchmark of the spamscope_spark engine.

Usage, from the root of the repository:

  python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/LAYERS.md for what each one measures):
  stream_drain  the three drain-mode streaming queries over a seeded
                turns backlog, run together until all terminate
  batch_corpus  document-corpus batch queries over a seeded corpus

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics; with --trace 1 they are the per-layer metrics, and
the spans of the run are written to .perfbench_out/. The line before it
is a JSON object of annotations (steal%, sample counts, failed_frac).
--tiny shrinks every input so that the benchmark's own tests run fast.

Everything the run writes (checkpoints, sinks, shuffle files,
spark-warehouse, temp files) goes under .perfbench_tmp/ in the current
directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = ("stream_drain", "batch_corpus")
SPEC = os.path.join(REPO, "BENCHMARK.json")
# Task slots: half the cores. The JIT compiler keeps about one core busy
# for the whole run, and the drain's enrichment UDFs run in Python
# workers beside the task threads; at one slot per core they overran the
# cores, and work_cpu_s of runs on different seeds spread by a third.
CORES = max(1, (os.cpu_count() or 1) // 2)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for tests")
    ap.add_argument(
        "--one-core", action="store_true",
        help="traced stream_drain only: also drain once pinned to one core "
             "(taskset) and report drain.turns_per_s_1core",
    )
    return ap.parse_args(argv)


def prepare_env(tmp_root: str) -> None:
    """Pin the engine to its own defaults and keep every file the run
    writes under tmp_root. Must run before pyspark or the package is
    imported."""
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM", "SPARK_MASTER",
                "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    # only the q_turns_flagship input size reads this; pinned so the
    # query module sees one value whatever the caller's environment
    os.environ["SPARK_GRAFT_FLAGSHIP_CONVS"] = "40"
    os.environ["TMPDIR"] = tmp_root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_session(tmp_root: str, shuffle_partitions: int | None):
    """The engine's session at local[CORES]: build_session's defaults,
    plus only the settings that keep files inside tmp_root."""
    from pyspark.sql import SparkSession  # noqa: F401  (import cost is setup)

    from spamscope_spark.config import build_session

    # -XX:-UsePerfData: the JVM would otherwise keep /tmp/hsperfdata_<user>/<pid>
    java_opts = (
        f"-Djava.io.tmpdir={tmp_root} -Dderby.system.home={tmp_root} -XX:-UsePerfData"
    )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=shuffle_partitions,
        extra={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(tmp_root, "spark-warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process
    this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from measure import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)



def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "spamscope_spark")) or not os.path.isfile(SPEC):
        print(f"perfbench: no spamscope_spark package or BENCHMARK.json in {REPO}",
              file=sys.stderr)
        return 2
    cwd = os.getcwd()
    tmp_root = os.path.join(cwd, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(cwd, ".perfbench_out")
    os.makedirs(tmp_root, exist_ok=True)
    prepare_env(tmp_root)
    sys.path.insert(0, HERE)

    from measure import ProcSampler, Tracer, proc_stat, steal_pct

    if args.workload == "stream_drain":
        import drain as workload
    else:
        import corpus as workload

    tracer = Tracer(enabled=bool(args.trace))
    sampler = ProcSampler().start()
    stat0 = proc_stat()
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("setup.session"):
            spark = start_session(tmp_root, workload.SHUFFLE_PARTITIONS)
        session_s = time.perf_counter() - t0
        res = workload.run(spark, args, tmp_root, tracer, sampler)
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp_root))
        except OSError:
            pass
    steal = steal_pct(stat0, proc_stat())

    res.layer["setup.session_s"] = session_s
    res.setup_s += session_s
    with open(SPEC) as f:
        spec = json.load(f)
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        span_path = os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
        )
        tracer.write(span_path)
        res.notes["span_file"] = os.path.relpath(span_path, cwd)
        res.layer["trace.overhead_s"] = tracer.bookkeeping_s + res.trace_extra_s
        res.layer["trace.work_s"] = res.work_s
        res.layer["trace.spans"] = len(tracer.spans)
        res.layer["proc.peak_rss_mb"] = sampler.peak_rss / 2**20
        # layers a workload does not exercise read 0
        values = res.layer
        listed = spec["per_layer"]
        res.notes["unlisted_layers"] = sorted(set(values) - {m["name"] for m in listed})
    else:
        values = {"work_cpu_s": res.work_cpu_s, "setup_s": res.setup_s}
        res.notes["work_s"] = res.work_s
        listed = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in listed
    }
    if args.trace and args.one_core and args.workload == "stream_drain":
        metrics["drain.turns_per_s_1core"] = {
            "value": one_core_turns_per_s(args), "unit": "1/s"
        }
    res.notes.update({
        "workload": args.workload,
        "seed": args.seed,
        "steal_pct": round(steal, 2),
        "peak_rss_mb": round(sampler.peak_rss / 2**20, 1),
        "failed_frac": res.failed / max(res.attempted, 1),
        "check_failures": res.check_failures,
    })
    print(json.dumps({"annotations": res.notes}))
    print(json.dumps({
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def one_core_turns_per_s(args: argparse.Namespace) -> float:
    """The stream-processing baseline: one untraced stream_drain run in
    a fresh process pinned to CPU 0, JVM and Python workers included."""
    cmd = ["taskset", "-c", "0", sys.executable, os.path.abspath(__file__),
           "--workload", "stream_drain", "--seed", str(args.seed),
           "--seconds", "0", "--trace", "0"] + (["--tiny"] if args.tiny else [])
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900, check=True)
    notes = json.loads(out.stdout.strip().splitlines()[-2])["annotations"]
    return notes["turns_per_s"]


if __name__ == "__main__":
    sys.exit(main())
