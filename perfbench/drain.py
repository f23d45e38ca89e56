"""stream_drain: the three queries app.py starts in drain mode
(enriched turns, sessions, tool pairs; all availableNow) run together
on one session over a seeded turns backlog until all terminate.

work_s is the wall time from the first start_* call to the last query's
termination, timer-driven session closing included; work_cpu_s is the
cpu time the JVM (without its JIT compiler threads) and its Python
workers spent in it. Both are medians over the drains of a run.
After the timed drains, the last drain's sinks are checked against the
batch operators on the same input (untimed)."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import pyspark.sql.functions as F

from measure import Result

from spamscope_spark.datagen import generate_turns
from spamscope_spark.operators.enrich import enrich_turns
from spamscope_spark.operators.joins import tool_response_join
from spamscope_spark.operators.sessionize import session_features
from spamscope_spark.streaming.pipeline import (
    PipelineConfig,
    start_enriched_query,
    start_join_query,
    start_session_query,
)
from spamscope_spark.streaming.sink import IdempotentSink

# Shuffle partitions for the streaming session. The engine default (32)
# makes one drain of the three queries take 55-78 s on a 4-core box:
# every microbatch, data or not, commits 32 state stores per stateful
# operator (128 for the join). That does not fit a run, so this
# workload runs at one partition per core; batch_corpus keeps the
# default.
SHUFFLE_PARTITIONS = os.cpu_count()

# (sink and layer key, start function); the query names in the
# progress events are enriched_turns, sessions and tool_pairs
QUERIES = (
    ("enriched", start_enriched_query),
    ("sessions", start_session_query),
    ("tool_pairs", start_join_query),
)

SIZES = {
    # n_convs, turns_per_conv
    False: (400, 24),
    True: (6, 8),
}

PHASES = {
    "planning_ms": "queryPlanning",
    "addbatch_ms": "addBatch",
    "walcommit_ms": "walCommit",
    "commitoffsets_ms": "commitOffsets",
    "latestoffset_ms": "latestOffset",
    "getbatch_ms": "getBatch",
}


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, f)).num_rows
    return total


def drain_once(spark, tracer, sampler, tmp_root: str, tag: str, seed: int,
               n_convs: int, turns_per_conv: int) -> dict:
    """Materialize a seeded backlog, then drain it with the three
    queries. Returns walls, progress events, sinks and errors."""
    inp = os.path.join(tmp_root, f"in_{tag}")
    t = time.perf_counter()
    with tracer.span("setup.datagen"):
        generate_turns(
            spark, n_convs=n_convs, turns_per_conv=turns_per_conv, seed=seed
        ).write.parquet(inp)
    datagen_s = time.perf_counter() - t
    cfg = PipelineConfig(input_path=inp, work_dir=os.path.join(tmp_root, f"work_{tag}"))

    handles = {}
    ended: dict[str, float] = {}
    cpu0 = sampler.cpu_now()
    with tracer.span("drain"):
        t0 = time.perf_counter()
        for key, start in QUERIES:
            with tracer.span(f"{key}.start"):
                handles[key] = start(spark, cfg)
        with tracer.span("drain.await"):
            while len(ended) < len(handles):
                for key, (q, _sink) in handles.items():
                    if key not in ended and not q.isActive:
                        ended[key] = time.perf_counter()
                time.sleep(0.05)
        for key in handles:
            tracer.record(f"{key}.wall", t0, ended[key])
    cpu_s = sampler.cpu_now() - cpu0
    errors = {}
    for key, (q, _sink) in handles.items():
        exc = q.exception()
        if exc is not None:
            errors[key] = str(exc)[:300]
    return {
        "input": inp,
        "n_turns": _parquet_rows(inp),
        "datagen_s": datagen_s,
        "wall_s": max(ended.values()) - t0,
        "cpu_s": cpu_s,
        "query_wall_s": {k: ended[k] - t0 for k in handles},
        "progress": {k: list(q.recentProgress) for k, (q, _s) in handles.items()},
        "sinks": {k: s for k, (_q, s) in handles.items()},
        "errors": errors,
    }


def check_drain(spark, d: dict) -> dict[str, str]:
    """Compare the drain's sinks with the batch operators on the same
    input, as tests/test_streaming.py does. Returns {query: reason} for
    every query whose output is wrong."""
    raw = spark.read.parquet(d["input"])
    bad: dict[str, str] = {}

    # enriched: every turn committed exactly once, values equal batch
    cols = ["conv_id", "turn_idx", "phishing_score", "sha1", "targets", "with_phishing"]
    sink = d["sinks"]["enriched"]

    def keyed(df):
        return {
            (r[0], r[1]): (r[2], r[3], tuple(r[4]), r[5])
            for r in df.select(*cols).collect()
        }

    got = keyed(sink.read_merged(spark))
    with open(sink.manifest) as f:
        committed = sum(json.loads(line)["rows"] for line in f if line.strip())
    if not committed == len(got) == d["n_turns"]:
        bad["enriched"] = (
            f"{committed} rows committed, {len(got)} keys for {d['n_turns']} turns"
        )
    elif got != keyed(enrich_turns(raw, dedup_flag=False)):
        bad["enriched"] = "values differ from enrich_turns"

    # sessions: the closed sessions of session_features, nothing else
    vals = ["session_id", "n_turns", "n_user", "n_assistant", "n_tool"]
    got = {r[0]: tuple(r[1:]) for r in
           d["sinks"]["sessions"].read_merged(spark).select(*vals).collect()}
    batch = session_features(raw, gap_s=PipelineConfig("", "").gap_s).select(
        "conv_id", "session_seq", *vals
    ).collect()
    last = {}
    for r in batch:
        last[r["conv_id"]] = max(last.get(r["conv_id"], -1), r["session_seq"])
    closed = {r["session_id"]: tuple(r[3:]) for r in batch
              if r["session_seq"] < last[r["conv_id"]]}
    if not got or any(got.get(k) != v for k, v in closed.items()) or not (
        set(got) <= {r["session_id"] for r in batch}
    ):
        bad["sessions"] = f"{len(got)} sessions vs {len(closed)} closed in batch"

    # tool pairs: equal to the batch band join
    pair = ["conv_id", "turn_idx", "resp_turn_idx"]
    got_p = {tuple(r) for r in d["sinks"]["tool_pairs"].read_merged(spark).select(*pair).collect()}
    exp_p = {tuple(r) for r in tool_response_join(raw, band_s=PipelineConfig("", "").band_s)
             .where(F.col("resp_turn_idx").isNotNull()).select(*pair).collect()}
    if got_p != exp_p:
        bad["tool_pairs"] = f"{len(got_p)} pairs vs {len(exp_p)} in batch"
    return bad


def progress_layers(key: str, progress: list) -> dict[str, float]:
    """Per-query microbatch and state-operator numbers from one drain's
    progress events."""
    out: dict[str, float] = {}
    trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
    empty = [p.numInputRows == 0 for p in progress]
    out[f"{key}.batches"] = len(progress)
    out[f"{key}.empty_batch_frac"] = sum(empty) / max(len(progress), 1)
    out[f"{key}.data_batch_s"] = sum(t for t, e in zip(trig, empty) if not e) / 1000
    out[f"{key}.nodata_batch_s"] = sum(t for t, e in zip(trig, empty) if e) / 1000
    out[f"{key}.batch_p50_ms"] = statistics.median(trig) if trig else 0.0
    out[f"{key}.input_rows"] = sum(p.numInputRows for p in progress)
    for name, phase in PHASES.items():
        out[f"{key}.{name}"] = sum(p.durationMs.get(phase, 0) for p in progress)
    ops = [s for p in progress for s in (p.stateOperators or [])]
    last = progress[-1].stateOperators if progress else []
    st = f"state.{key}"
    out[f"{st}.rows_total"] = sum(s.numRowsTotal for s in last)
    out[f"{st}.memory_bytes"] = sum(s.memoryUsedBytes for s in last)
    out[f"{st}.stores"] = sum(s.numStateStoreInstances for s in last)
    out[f"{st}.commit_ms"] = sum(s.commitTimeMs for s in ops)
    out[f"{st}.update_ms"] = sum(s.allUpdatesTimeMs for s in ops)
    out[f"{st}.removal_ms"] = sum(s.allRemovalsTimeMs for s in ops)
    out[f"{st}.late_rows_dropped"] = sum(s.numRowsDroppedByWatermark for s in ops)
    return out


class SinkTracer:
    """Wraps IdempotentSink.process_batch for the traced run: a span per
    epoch write plus write time, epochs, rows and bytes per sink. The
    three queries' callbacks run on separate threads."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.acc: dict[str, dict[str, float]] = {}
        self.extra_s = 0.0
        self._lock = threading.Lock()
        self.orig = IdempotentSink.process_batch
        orig, me = self.orig, self

        def process_batch(sink, batch_df, epoch):
            name = os.path.basename(sink.path)
            t = time.perf_counter()
            with me.tracer.span(f"sink.{name}"):
                orig(sink, batch_df, epoch)
            t1 = time.perf_counter()
            epoch_dir = os.path.join(sink.data_dir, f"epoch={epoch}")
            rows = _parquet_rows(epoch_dir)
            size = sum(os.path.getsize(os.path.join(epoch_dir, f)) for f in os.listdir(epoch_dir))
            with me._lock:
                a = me.acc.setdefault(name, {"write_s": 0.0, "epochs": 0, "rows": 0, "bytes": 0})
                a["write_s"] += t1 - t
                a["epochs"] += 1
                a["rows"] += rows
                a["bytes"] += size
                me.extra_s += time.perf_counter() - t1

        IdempotentSink.process_batch = process_batch

    def layers(self, n: int) -> dict[str, float]:
        return {f"sink.{q}.{k}": v / n for q, a in self.acc.items() for k, v in a.items()}

    def close(self) -> None:
        IdempotentSink.process_batch = self.orig


def enrich_layers(spark, tracer, path: str) -> dict[str, float]:
    """Direct calls into functions/ and operators.enrich on a turns
    table, each written to a noop sink."""
    from spamscope_spark.datagen import SUBJECT_KEYS, TARGET_KEYS, WHITELIST_DOMAINS
    from spamscope_spark.functions.fingerprints import shingle_signature_udf, with_fingerprints
    from spamscope_spark.functions.phishing import with_phishing_columns

    raw = spark.read.parquet(path)
    steps = {
        "enrich.fingerprints_s": with_fingerprints(raw, "text"),
        "enrich.shingle_s": raw.withColumn("shingle_sig", shingle_signature_udf(F.col("text"))),
        "enrich.phishing_s": with_phishing_columns(
            raw, text=F.col("text"), tool_name=F.col("tool"), author=F.col("role"),
            target_keys=TARGET_KEYS, subject_keys=SUBJECT_KEYS, whitelist=WHITELIST_DOMAINS,
        ),
        "enrich.total_s": enrich_turns(raw, dedup_flag=False),
    }
    out = {}
    for name, df in steps.items():
        t = time.perf_counter()
        with tracer.span(name[:-2]):
            df.write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t
    return out


def run(spark, args, tmp_root: str, tracer, sampler) -> Result:
    res = Result()
    n_convs, tpc = SIZES[args.tiny]
    # Warm-up: one Python worker per task slot, with the enrichment imported.
    # Without it, how many workers the drain forks (each importing
    # pandas, pyarrow and the package) depends on task timing.
    t = time.perf_counter()
    with tracer.span("setup.warmup"):
        warm = generate_turns(spark, n_convs=2 * os.cpu_count(), turns_per_conv=8,
                              seed=args.seed).repartition(os.cpu_count())
        enrich_turns(warm, dedup_flag=False).write.format("noop").mode("overwrite").save()
    warmup_s = time.perf_counter() - t
    sinks = SinkTracer(tracer) if args.trace else None
    try:
        drains = []
        jvm0, jit0, py0, cpu0 = sampler.cpu_split()
        t_start = time.perf_counter()
        lengths: list[float] = []
        # a drain starts only if one of the median length still ends in time
        while not drains or (
            time.perf_counter() - t_start + statistics.median(lengths) <= args.seconds
        ):
            t = time.perf_counter()
            drains.append(drain_once(spark, tracer, sampler, tmp_root, f"d{len(drains)}",
                                     args.seed * 1000 + len(drains), n_convs, tpc))
            lengths.append(time.perf_counter() - t)
        window_s = time.perf_counter() - t_start
        sampler.sample()
        jvm1, jit1, py1, cpu1 = sampler.cpu_split()
    finally:
        if sinks:
            sinks.close()

    with tracer.span("check"):
        bad = check_drain(spark, drains[-1])
    res.attempted = len(QUERIES) * len(drains)
    res.failed = sum(len(d["errors"]) for d in drains)
    res.failed += len(set(bad) - set(drains[-1]["errors"]))
    res.check_failures = [f"{q}: {why}" for q, why in sorted(bad.items())]
    res.check_failures += [f"{q}: raised {e}" for d in drains for q, e in d["errors"].items()]

    res.work_s = statistics.median(d["wall_s"] for d in drains)
    res.work_cpu_s = statistics.median(d["cpu_s"] for d in drains)
    datagen_s = statistics.median(d["datagen_s"] for d in drains)
    res.setup_s = warmup_s + datagen_s
    turns = statistics.median(d["n_turns"] for d in drains)
    res.notes.update({
        "drains": len(drains),
        "turns_per_drain": turns,
        "turns_per_s": turns / res.work_s,
        "microbatches": sum(len(ps) for d in drains for ps in d["progress"].values()),
        "shuffle_partitions": SHUFFLE_PARTITIONS,
    })

    if args.trace:
        n = len(drains)
        lay = res.layer
        lay["setup.datagen_s"] = datagen_s
        lay["setup.warmup_s"] = warmup_s
        for key, _start in QUERIES:
            per = [progress_layers(key, d["progress"][key]) for d in drains]
            for name in per[0]:
                lay[name] = sum(p[name] for p in per) / n
            lay[f"{key}.wall_s"] = sum(d["query_wall_s"][key] for d in drains) / n
        lay.update(sinks.layers(n))
        res.trace_extra_s = sinks.extra_s
        lay["proc.jvm_cpu_s"] = (jvm1 - jvm0) / n
        lay["proc.jit_cpu_s"] = (jit1 - jit0) / n
        lay["proc.python_cpu_s"] = (py1 - py0) / n
        lay["proc.cpu_util"] = (cpu1 - cpu0) / (window_s * os.cpu_count())
        lay.update(enrich_layers(spark, tracer, drains[-1]["input"]))
    return res


def turns_input(spark, tmp_root: str, args) -> str:
    """A seeded turns table of the drain's size, for enrich_layers."""
    n_convs, tpc = SIZES[args.tiny]
    path = os.path.join(tmp_root, "enrich_in")
    generate_turns(spark, n_convs=n_convs, turns_per_conv=tpc, seed=args.seed).write.parquet(path)
    return path
