"""The streaming CEP pipeline — the reference topology recast
(SURVEY.md §7 target pipeline):

  turns parquet/Iceberg stream
    → per-turn enrichment (URLs, keywords, bitmap score, fingerprints,
      shingle signature) — all vectorized, no per-row Python
    → watermark(ts)
    → flag-dedup on content fingerprint, folded per epoch in the sink's
      foreachBatch against a bounded seen-set snapshot
    → session windows per conv_id, folded per epoch in the sessions
      query's foreachBatch against a snapshot of the open sessions
      (closed by the next watermark — the reference's greedy buffers,
      bounded properly)
    → tool-invocation ⋈ tool-response in a time band (dialect analog),
      folded per epoch in the tool-pairs query's foreachBatch against a
      snapshot of the pending invocations and responses (earliest
      answer wins; an invocation the watermark passes unanswered is a
      timeout)
    → foreachBatch exactly-once sink (epoch-atomic parquet MERGE on
      (conv_id, turn_idx)), JSON-per-turn rows, per-partition lineage

The dedup, session and tool-pair folds above, and the CEP sequence
matcher (cep_state.match_sequence_fold, no query here), are the four
snapshot folds: one driver (fold.py) runs each in its query's
foreachBatch against the newest snapshot below the epoch.

Every query reads the turns source itself (`read_turns_stream`), in
drain and continuous mode alike: no query streams another query's sink,
and none reads its own output back, so the dataflow is the same
whichever trigger runs it.

Every query checkpoints; a restart resumes from offsets + state (the
enriched query's seen-set snapshots, the sessions query's open sessions,
the tool-pairs query's pending rows and the anomaly and silence
monitors' newest windows per key live beside their outputs, each read
back through `IdempotentSink.read_prior`). The queries with a state
operator (windows, sketches, the built-in dedup, the anomaly and
silence counts) keep it in the state store that Spark's own conf names
(`spark.sql.streaming.stateStore.providerClass`, e.g. RocksDB via
`spark-submit --conf`); nothing here overrides it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.enrich import enrich_turns
from ..schema import TURNS_SCHEMA
from .dedup_state import SEEN_TTL_MS, dedup_fold
from .pair_state import tool_pair_fold
from .session_state import session_fold
from .sink import IdempotentSink


@dataclass
class PipelineConfig:
    input_path: str
    work_dir: str
    # "parquet" (sandbox default) or "iceberg" (real-cluster path:
    # input_path is a catalog table name; requires the iceberg-spark
    # runtime on the classpath — see iceberg_sink.iceberg_available).
    input_format: str = "parquet"
    gap_s: int = 30 * 60
    watermark: str = "4 hours"
    band_s: int = 600
    window_s: int = 600
    slide_s: int | None = None  # sliding windows when set (else tumbling)
    max_files_per_trigger: int | None = None
    # Priority-ingestion approximation (SURVEY §7 risk 6): order each
    # microbatch's sink output by (priority if present, ts, conv_id,
    # turn_idx) — the reference spout's (priority, ctime) queue holds
    # only within a microbatch here, never across batches.
    priority_order: bool = False

    def checkpoint(self, name: str) -> str:
        return os.path.join(self.work_dir, "checkpoints", name)

    def output(self, name: str) -> str:
        return os.path.join(self.work_dir, "out", name)


def read_turns_stream(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """File-source stream over the turns table. Source offset tracking +
    checkpoint subsume the reference's `.processing` rename/lease claim
    protocol (files_mails.py:109-145); maxFilesPerTrigger is the
    backpressure knob (max.spout.pending analog)."""
    from ..config import ensure_py_files

    ensure_py_files(spark)
    if cfg.input_format == "iceberg":
        # Real-cluster path: stream the Iceberg table's snapshot log
        # (input_path = catalog table name). Offsets are snapshot ids —
        # same resume semantics as file offsets, and the scan prunes on
        # the table's partition spec (days(ts) at 10^12-turn scale).
        reader = spark.readStream.format("iceberg")
        if cfg.max_files_per_trigger:
            reader = reader.option(
                "streaming-max-files-per-micro-batch", cfg.max_files_per_trigger
            )
        return reader.load(cfg.input_path)
    reader = spark.readStream.schema(TURNS_SCHEMA)
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    return reader.parquet(cfg.input_path)


def _sha1_turns(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Raw turn stream + content sha1, watermarked on ts: the common
    prefix of every enriched output."""
    return (
        read_turns_stream(spark, cfg)
        .withColumn("sha1", F.sha1(F.coalesce(F.col("text"), F.lit(""))))
        .withWatermark("ts", cfg.watermark)
    )


def _enrich(
    df: DataFrame, target_keys=None, subject_keys=None, whitelist=None
) -> DataFrame:
    """Turns → enrichment + lineage columns, with is_filtered a False
    placeholder. The keys are positional in the order of
    configload.HotReloadConfig.current(); None takes enrich_turns'
    default."""
    enriched = enrich_turns(
        df,
        target_keys=target_keys,
        subject_keys=subject_keys,
        whitelist=whitelist,
        dedup_flag=False,  # a stream cannot rank; dedup_fold flags per epoch
    )
    return enriched.withColumn("_lineage_partition", F.spark_partition_id())


def enriched_stream(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Watermarked raw turns → enrichment + lineage columns, stateless.
    is_filtered is a False placeholder: the enriched query sets the
    flag per epoch in its foreachBatch (start_enriched_query), and the
    queue sink's turns messages carry the placeholder as is."""
    return _enrich(_sha1_turns(spark, cfg))


def deduped_stream_builtin(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Alternative exact-dedup path: Spark's built-in
    `dropDuplicatesWithinWatermark` on the content sha1 — all-JVM keyed
    state (RocksDB-spillable, watermark-evicted), no Python round-trip.

    Semantics deviate from the reference's flag filter deliberately:
    duplicates are DROPPED (first arrival wins), not flagged — the
    right choice when downstream never wants duplicates at all (e.g. a
    training-corpus sink). The flag path (start_enriched_query) keeps
    the reference's flag-not-drop contract with a seen-set snapshot it
    folds per epoch. State eviction: a key older than the
    watermark is dropped from state, so re-arrivals beyond the
    watermark horizon are NOT deduped — same horizon contract as the
    tool-pair fold's pending rows."""
    return _enrich(_sha1_turns(spark, cfg).dropDuplicatesWithinWatermark(["sha1"]))


def with_json_row(df: DataFrame) -> DataFrame:
    """Canonical JSON-per-turn serialization (json_maker analog,
    src/bolts/json_maker.py:33-75): deterministic column order, so the
    golden-output comparison is plain text equality."""
    cols = [c for c in df.columns if not c.startswith("_")]
    return df.withColumn("json", F.to_json(F.struct(*[F.col(c) for c in sorted(cols)])))


# ---------------------------------------------------------------------------
# windowed rates (tumbling event-time aggregate under the watermark)
# ---------------------------------------------------------------------------


def windowed_rates(
    df: DataFrame, window_s: int = 600, slide_s: int | None = None
) -> DataFrame:
    """Per-(conv_id, tumbling-or-sliding window) turn/tool/score rates —
    the SURVEY §7 'tumbling/sliding window aggregates (per-conversation
    rates)' stage. Partial aggregation is map-side; the window column is
    a pure function of ts so no extra shuffle beyond the groupBy (a
    sliding window fans each row out to window/slide windows before the
    same shuffle). On a stream the upstream watermark bounds state: a
    window's row is emitted (append mode) once the watermark passes
    window.end."""
    w = (
        F.window("ts", f"{window_s} seconds", f"{slide_s} seconds")
        if slide_s
        else F.window("ts", f"{window_s} seconds")
    )
    return (
        df.groupBy(w.alias("w"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool_calls"),
            F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
            F.max("phishing_score").alias("max_phishing_score"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id", "n_turns", "n_tool_calls", "n_user", "max_phishing_score",
        )
    )


def windowed_linreg(
    df: DataFrame, window_s: int = 600, y_col: str = "phishing_score"
) -> DataFrame:
    """Per-tumbling-window OLS trend of a metric over time (drift
    monitor): slope of y ~ seconds-into-window across all turns in the
    window. Sufficient statistics are plain associative sums, so the
    regression streams under the same partial-agg + watermark contract
    as any windowed count — the streaming face of
    operators/regress.grouped_linreg (same closed form, same nulls)."""
    from ..operators.regress import grouped_linreg

    w = F.window("ts", f"{window_s} seconds").alias("w")
    base = df.select(
        w,
        (F.unix_timestamp("ts") % window_s).cast("double").alias("x"),
        F.coalesce(F.col(y_col), F.lit(0)).cast("double").alias("y"),
    )
    out = grouped_linreg(base, "w", F.col("x"), F.col("y"))
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n",
        "slope_e6",
        "intercept_e6",
        "r2_e6",
        "corr_e6",
    )


def windowed_cm_sketch(
    df: DataFrame,
    window_s: int = 600,
    value_col: str = "tool",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Per-tumbling-window count-min sketch of a value stream (tool
    usage by default): one (window, row_j, cell, cnt) row per non-empty
    sketch cell. The per-window state the stream carries is bounded at
    depth*width counters regardless of how many distinct values the
    window sees — the streaming analog of q_cm_sketch's batch shape,
    and the mergeability law (cell-wise sum) is exactly what lets a
    downstream consumer combine windows/epochs into coarser sketches
    without replaying the stream. Append mode emits a window's cells
    once the watermark passes window.end."""
    from ..operators.sketch import _h48

    v = F.col(value_col).cast("string")
    cells = F.array(
        *[
            (_h48(F.concat(F.lit(f"{j}|"), v)) % width).cast("int")
            for j in range(depth)
        ]
    )
    return (
        df.where(v.isNotNull())
        .select(
            F.window("ts", f"{window_s} seconds").alias("w"),
            F.posexplode(cells).alias("row_j", "cell"),
        )
        .groupBy("w", "row_j", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "row_j",
            "cell",
            "cnt",
        )
    )


# ---------------------------------------------------------------------------
# query assembly
# ---------------------------------------------------------------------------


def _start(
    spark: SparkSession,
    cfg: PipelineConfig,
    df: DataFrame,
    name: str,
    sink,
    available_now: bool,
    batch_fn=None,
    query_name: str | None = None,
):
    """The one writer behind every start_*_query: run `df` through
    foreachBatch (`batch_fn`, default the sink itself) in append mode,
    checkpointed under `name` and drained with availableNow when asked.
    `query_name` defaults to `name`; three queries pass their own, which
    MetricsListener and the benchmarks key on. Returns (query, sink)."""
    writer = (
        df.writeStream.foreachBatch(batch_fn or sink)
        .option("checkpointLocation", cfg.checkpoint(name))
        .outputMode("append")
        .queryName(query_name or name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), sink


def start_enriched_query(
    spark: SparkSession,
    cfg: PipelineConfig,
    available_now: bool = True,
    config_source=None,
):
    """Primary output: enriched JSON-per-turn rows, exactly-once, with
    the duplicate flag folded per epoch in foreachBatch against the
    seen-set snapshots of the `enriched_seen` side sink (dedup_fold).
    The query itself is stateless: its checkpoint holds offsets only.

    Each epoch is enriched in the foreachBatch. With a `config_source`
    (configload.HotReloadConfig) its `current()` keys score the epoch:
    the reference reloads keyword/whitelist YAML on every tick tuple
    (abstracts.py:83-85, tokenizer.py:151-154), so an edited keyword
    file or an expired whitelist changes the scoring of the NEXT epoch
    without restarting the stream. Without one, enrich_turns' defaults
    score every epoch."""
    df = _sha1_turns(spark, cfg)
    order = []
    if cfg.priority_order:
        # PRIORITY-ORDERED INGESTION approximation (the reference spout's
        # (priority, ctime) queue, src/spouts/files_mails.py:96-104):
        # a range-partitioned sort orders rows within each epoch's part
        # files, never across epochs (SURVEY §7 risk 6)
        pri = ["priority"] if "priority" in df.columns else []
        order = pri + ["ts", "conv_id", "turn_idx"]
    sink = IdempotentSink(cfg.output("enriched"), keys=["conv_id", "turn_idx"])
    seen_sink = IdempotentSink(cfg.output("enriched_seen"), keys=["sha1"])

    def prepare(flagged: DataFrame) -> DataFrame:
        out = with_json_row(flagged)
        return out.orderBy(*order) if order else out

    fold = dedup_fold(sink, seen_sink, cfg.watermark, SEEN_TTL_MS, prepare)

    def process(batch_df: DataFrame, epoch: int) -> None:
        keys = config_source.current() if config_source else ()
        fold(_enrich(batch_df, *keys), epoch)

    return _start(
        spark, cfg, df, "enriched", sink, available_now, batch_fn=process,
        query_name="enriched_turns",
    )


def start_dedup_builtin_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """Drop-duplicates variant of the enriched output: built-in
    watermark-scoped dedup state (see deduped_stream_builtin), same
    exactly-once sink contract."""
    df = with_json_row(deduped_stream_builtin(spark, cfg))
    sink = IdempotentSink(
        cfg.output("enriched_dd"), keys=["conv_id", "turn_idx"]
    )
    return _start(
        spark, cfg, df, "enriched_dd", sink, available_now,
        query_name="enriched_dedup_builtin",
    )


def start_queue_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """OutputRedis-analog sink: enriched rows RPUSH'd (epoch-atomic
    JSON-message segments) to the turns queue, tool invocations
    promoted to the tool_calls queue (streaming/queue_sink.py)."""
    from .queue_sink import QueueSink

    sink = QueueSink(cfg.output("queues"))
    df = enriched_stream(spark, cfg)
    return _start(
        spark, cfg, df, "queues", sink, available_now,
        query_name="queue_sink",
    )


def start_session_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """Per-session feature vectors, exactly-once: each epoch's turns are
    folded into the open sessions of the `sessions_open` side sink in
    foreachBatch (session_fold), and the closed sessions are written.
    The query itself is stateless: its checkpoint holds offsets only."""
    sink = IdempotentSink(cfg.output("sessions"), keys=["conv_id", "session_id"])
    open_sink = IdempotentSink(cfg.output("sessions_open"), keys=["conv_id"])
    fold = session_fold(sink, open_sink, cfg.watermark, cfg.gap_s)
    return _start(
        spark, cfg, enriched_stream(spark, cfg), "sessions", sink, available_now,
        batch_fn=fold,
    )


def start_window_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """Tumbling-window per-conversation rates, exactly-once (append
    mode: a window row is final once the watermark passes its end)."""
    sink = IdempotentSink(
        cfg.output("window_rates"), keys=["window_start", "conv_id"]
    )
    df = windowed_rates(
        enriched_stream(spark, cfg), window_s=cfg.window_s, slide_s=cfg.slide_s
    )
    return _start(spark, cfg, df, "window_rates", sink, available_now)


def start_join_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """Tool-call correlation pairs, exactly-once: each epoch's turns are
    folded into the pending invocations and responses of the
    `tool_pairs_open` side sink in foreachBatch (tool_pair_fold), and an
    invocation's earliest answer in its band is written. The query
    itself is stateless: its checkpoint holds offsets only."""
    return _start_pair_fold(spark, cfg, "tool_pairs", available_now, timeouts=False)


def start_timeout_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """Unanswered-tool-call timeouts, exactly-once: the same fold as
    start_join_query, writing each invocation that leaves its
    `tool_timeouts_open` snapshot with no answer in its band (once the
    watermark passes ts + band). A late response beyond the watermark
    is dropped, so a timeout verdict is final."""
    return _start_pair_fold(spark, cfg, "tool_timeouts", available_now, timeouts=True)


def _start_pair_fold(
    spark: SparkSession, cfg: PipelineConfig, name: str, available_now: bool,
    timeouts: bool,
):
    sink = IdempotentSink(cfg.output(name), keys=["conv_id", "turn_idx"])
    open_sink = IdempotentSink(cfg.output(f"{name}_open"), keys=["conv_id", "turn_idx"])
    fold = tool_pair_fold(sink, open_sink, cfg.watermark, cfg.band_s, timeouts)
    return _start(
        spark, cfg, read_turns_stream(spark, cfg), name, sink, available_now,
        batch_fn=fold,
    )


def start_cm_sketch_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True,
    depth: int = 4, width: int = 64,
):
    """Per-window count-min sketches of tool usage, exactly-once:
    bounded depth*width state per window, cells mergeable across
    windows/epochs by cell-wise sum."""
    sink = IdempotentSink(
        cfg.output("cm_sketch"), keys=["window_start", "row_j", "cell"]
    )
    df = windowed_cm_sketch(
        enriched_stream(spark, cfg), window_s=cfg.window_s, depth=depth, width=width
    )
    return _start(spark, cfg, df, "cm_sketch", sink, available_now)


def start_linreg_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """Per-window score-drift regression, exactly-once (append mode:
    a window's fit is final once the watermark passes its end)."""
    sink = IdempotentSink(cfg.output("window_linreg"), keys=["window_start"])
    df = windowed_linreg(enriched_stream(spark, cfg), window_s=cfg.window_s)
    return _start(spark, cfg, df, "window_linreg", sink, available_now)


def start_scd2_query(
    spark: SparkSession, cfg: PipelineConfig, available_now: bool = True
):
    """Streaming SCD2 dimension of per-conversation risk tier: each
    microbatch folds into the versioned dimension via scd2_apply
    (incremental MERGE), exactly-once via per-epoch snapshots. Late
    rows are handled structurally: the fold replays the touched
    entity's full (small) history, so an out-of-order change lands in
    its correct interval position rather than being dropped."""
    from .scd2_sink import Scd2DimSink, risk_tier

    sink = Scd2DimSink(cfg.output("scd2_dim"))
    df = enriched_stream(spark, cfg).select(
        "conv_id",
        risk_tier().alias("risk_tier"),
        "ts",
        F.col("turn_idx").cast("long").alias("seq"),
    )
    return _start(spark, cfg, df, "scd2_dim", sink, available_now)


def _start_window_monitor(
    spark: SparkSession, cfg: PipelineConfig, name: str, key: str,
    bucket_s: int, keep: int, step, available_now: bool,
):
    """The one shape of the anomaly and silence monitors: a watermarked
    tumbling (window_start, key, n) turn count over raw turns — their
    one wide stage — then, in foreachBatch, `step(history, fresh)` over
    the count rows the epoch closed (`fresh`) and the `{name}_state`
    snapshot (`history`), written to the `name` sink.

    Append mode emits a (window, key) row once, when the watermark
    passes the window end, and window closure is GLOBAL (one watermark):
    every window an epoch closes is newer than every window closed
    before it. So each key's `keep` newest count rows are all the
    history a trailing-window step needs, and the snapshot written each
    epoch holds exactly those rows of history ∪ fresh: |keys| × `keep`
    rows, constant in stream lifetime.

    History is the newest snapshot STRICTLY BEFORE the epoch
    (`read_prior`): on a crash-replay of epoch E the state sink may
    already hold E's own snapshot, and stepping from it would treat the
    replayed windows as history. Excluding E makes the replay recompute
    the identical rows (the step is deterministic over closed windows)
    and overwrite E with the same content — exactly-once by
    convergence, the same property process_batch's always-overwrite
    contract assumes."""
    sink = IdempotentSink(cfg.output(name), keys=["window_start", key])
    state_sink = IdempotentSink(cfg.output(f"{name}_state"), keys=["window_start", key])
    cnt = (
        read_turns_stream(spark, cfg)
        .withWatermark("ts", cfg.watermark)
        .groupBy(F.window("ts", f"{bucket_s} seconds").alias("w"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), key, "n")
    )
    schema = cnt.schema.toDDL()
    newest = Window.partitionBy(key).orderBy(F.col("window_start").desc())

    def process(batch_df: DataFrame, epoch: int) -> None:
        # the one job that runs the count; the step and the snapshot
        # read its result
        fresh = batch_df.select("window_start", key, "n").localCheckpoint()
        _, history = state_sink.read_prior(spark, epoch, schema)
        sink.process_batch(step(history, fresh), epoch)
        kept = (
            history.unionByName(fresh)
            .withColumn("_rn", F.row_number().over(newest))
            .where(F.col("_rn") <= keep)
            .drop("_rn")
        )
        state_sink.write_epoch(kept, epoch)

    return _start(spark, cfg, cnt, name, sink, available_now, batch_fn=process)


def start_anomaly_query(
    spark: SparkSession,
    cfg: PipelineConfig,
    key: str = "role",
    bucket_s: int = 3600,
    lookback: int = 6,
    min_history: int = 4,
    z_threshold: float = 2.0,
    available_now: bool = True,
):
    """Streaming twin of operators/cep.py::rate_anomaly — the always-on
    campaign/surge monitor over the turn stream.

    Shape (_start_window_monitor, keep = ``lookback``): each closed
    (window, key) count row is FINAL, and its z-score against the
    trailing ``lookback`` windows is computed in foreachBatch over
    [each key's ``lookback`` newest earlier windows ∪ this batch] with
    the SAME score_rate_windows kernel the batch operator uses. History
    completeness holds by watermark monotonicity: any window earlier
    than one finalizing now has an earlier end, hence finalized in this
    or a previous batch — so trailing-observed-window semantics match
    the batch operator exactly, and the emitted rows are a
    watermark-closed prefix of the batch result on the same input.

    Scale: the windowed count is the only wide stage over raw turns
    (map-side partial aggs, watermark-bounded state). The foreachBatch
    z-score reads |keys| × ``lookback`` snapshot rows besides the batch,
    and the per-key window pass parallelizes across keys."""
    from ..operators import cep

    def score(history: DataFrame, fresh: DataFrame) -> DataFrame:
        scored = cep.score_rate_windows(
            history.unionByName(fresh), key, lookback
        ).withColumn(
            # NULL z (insufficient/zero-variance history) is "not an
            # anomaly", not three-valued unknown, in the stored column
            "is_anomaly",
            F.coalesce(
                cep.anomaly_predicate(min_history, z_threshold), F.lit(False)
            ),
        )
        return scored.join(
            fresh.select("window_start", key), ["window_start", key], "left_semi"
        ).select(
            "window_start", key, "n", "n_prev", "mean_prev", "z_e4", "is_anomaly"
        )

    return _start_window_monitor(
        spark, cfg, "rate_anomaly", key, bucket_s, lookback, score, available_now
    )


def start_silence_query(
    spark: SparkSession,
    cfg: PipelineConfig,
    key: str = "role",
    bucket_s: int = 3600,
    available_now: bool = True,
):
    """Streaming heartbeat monitor — the CEP "missing event" pattern,
    dual of start_anomaly_query: maintain the dense per-key activity
    timeline and emit rows for windows where a previously-seen key
    went SILENT (plus its active windows), with windows_since_seen.

    Same shape as the anomaly query (_start_window_monitor, keep = 1):
    the foreachBatch pass extends each key's dense timeline and emits
    the newly-closed windows. Finality: a (window, key) row depends only
    on that key's activity at windows <= it, all of which are
    watermark-closed by the time the window itself closes — so rows
    never change after emission and MERGE idempotence absorbs replays.
    A key silent FOREVER keeps accruing rows as later windows close
    (the global max observed window advances), which is exactly what a
    heartbeat monitor must do — the reference's analog is the spout
    failing stuck `.processing` files after fail.after.seconds
    (src/spouts/files_mails.py:72-79), a per-item timeout this
    operator generalizes to per-key timeline gaps.

    BOUNDED STATE: extending a key's timeline needs only its last
    active window — its newest count row, the snapshot's one row per
    key. The newest of those across all keys is the last window emitted
    for every key. So per-batch cost is O(|keys| + new windows),
    constant in stream lifetime."""
    ival = F.expr(f"interval {bucket_s} seconds")

    def extend(history: DataFrame, fresh: DataFrame) -> DataFrame:
        # Global bounds, one broadcast 1-row aggregate (never a driver
        # action): the last window emitted so far, and the max window
        # this epoch closed, up to which every key's timeline extends.
        bounds = F.broadcast(
            history.agg(F.max("window_start").alias("_emitted")).crossJoin(
                fresh.agg(F.max("window_start").alias("_gmax"))
            )
        )
        firsts = fresh.groupBy(key).agg(F.min("window_start").alias("_first"))
        grid = (
            history.select(key, F.col("window_start").alias("_base_lastact"))
            .join(firsts, key, "full_outer")
            .crossJoin(bounds)
            # first window this epoch must emit for the key: one past
            # the last emission, or its first-seen window if new
            .withColumn(
                "_start_w",
                F.when(
                    F.col("_base_lastact").isNotNull(), F.col("_emitted") + ival
                ).otherwise(F.col("_first")),
            )
            .where(F.col("_start_w") <= F.col("_gmax"))
            .select(
                key,
                "_base_lastact",
                F.explode(F.sequence("_start_w", "_gmax", ival)).alias("window_start"),
            )
        )
        dense = grid.join(fresh, [key, "window_start"], "left").withColumn(
            "n", F.coalesce("n", F.lit(0))
        )
        w = (
            Window.partitionBy(key)
            .orderBy("window_start")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        lact = F.coalesce(
            F.last(
                F.when(F.col("n") > 0, F.col("window_start")),
                ignorenulls=True,
            ).over(w),
            F.col("_base_lastact"),
        )
        return dense.select(
            "window_start",
            key,
            "n",
            (
                (F.unix_timestamp("window_start") - F.unix_timestamp(lact))
                / bucket_s
            )
            .cast("long")
            .alias("windows_since_seen"),
            (F.col("n") == 0).alias("is_silent"),
        )

    return _start_window_monitor(
        spark, cfg, "silence", key, bucket_s, 1, extend, available_now
    )
