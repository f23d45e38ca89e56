"""CEP sequence-pattern matching over keyed, time-ordered event streams
— the MATCH_RECOGNIZE analog (``PATTERN (A M* Z)`` with a time bound).

SpamScope's topology is a fixed linear pattern over per-mail tuples
(tokenizer → phishing → output, `src/spamscope/topologies/*.json`); the
transcript recast generalizes that to *declarative* patterns over
per-conversation event sequences: "a tool invocation followed — through
nothing but retry chatter — by an error, within T seconds".

Semantics (deterministic, documented): events are ordered per key by
(ts, id). Each END-class row matches the MOST RECENT START-class row
such that every row strictly between them is MID-class and
end.ts - start.ts <= within. One output row per matching end event.
Overlapping matches share a start (SKIP TO NEXT ROW, not PAST LAST
ROW) — this keeps the operator a pure window expression, identical in
Spark and ANSI SQL, with no iterative consume-loop.

Scale shape: two window passes over the same (key, ts, id) sort order —
ONE shuffle on the key, no self-join on raw events; the only join is
match-rows (already filtered, tiny) back to start rows on (key, rn),
which reuses the same hash partitioning. A 100 TB event log shuffles
once by key; pattern evaluation is whole-stage-codegen column work.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions import exact

__all__ = ["match_sequence", "sql_match_sequence"]


def match_sequence(
    df: DataFrame,
    key: str,
    ts: str,
    id_col: str,
    start_pred: Column,
    mid_pred: Column,
    end_pred: Column,
    within_s: int,
) -> DataFrame:
    """Match ``START MID* END`` per key within ``within_s`` seconds.

    Rows are classified once, with precedence START > END > MID > OTHER
    (so predicates need not be disjoint). END and OTHER rows break a
    pending chain; an intervening START simply becomes the new latest
    start (the running max picks it up).

    Returns one row per matching end event:
    (key, start_id, end_id, n_mid, duration_ms).
    """
    w_ord = Window.partitionBy(key).orderBy(ts, id_col)
    w_prec = w_ord.rowsBetween(Window.unboundedPreceding, -1)

    cls = (
        F.when(start_pred, F.lit("S"))
        .when(end_pred, F.lit("E"))
        .when(mid_pred, F.lit("M"))
        .otherwise(F.lit("X"))
    )
    base = df.select(
        F.col(key),
        F.col(ts),
        F.col(id_col),
        cls.alias("_cls"),
        F.row_number().over(w_ord).alias("_rn"),
    )
    # Running "latest start position" and "latest chain-breaker
    # position" over strictly-preceding rows: an end row matches iff a
    # start exists and no breaker (end/other) sits between them.
    flagged = base.select(
        key,
        ts,
        id_col,
        "_cls",
        "_rn",
        F.max(F.when(F.col("_cls") == "S", F.col("_rn"))).over(w_prec).alias("_start_rn"),
        F.max(
            F.when(F.col("_cls").isin("E", "X"), F.col("_rn"))
        ).over(w_prec).alias("_brk_rn"),
    )
    ends = flagged.where(
        (F.col("_cls") == "E")
        & F.col("_start_rn").isNotNull()
        & (F.col("_start_rn") > F.coalesce(F.col("_brk_rn"), F.lit(0)))
    )
    starts = base.where(F.col("_cls") == "S").select(
        F.col(key).alias("_k2"),
        F.col("_rn").alias("_srn"),
        F.col(ts).alias("_start_ts"),
        F.col(id_col).alias("start_id"),
    )
    # (key, rn) is unique, so this is a 1:1 equi-join that reuses the
    # window stage's hash partitioning on the key.
    # Duration math stays in integer microseconds until the last step
    # (floor-div, nonnegative) — double division + cast truncates in
    # Spark but ROUNDS in DuckDB, so the oracle twin must never see a
    # fractional intermediate.
    # cast: parquet TIMESTAMP_NTZ → TIMESTAMP (identity under the UTC
    # session timezone) because unix_micros rejects NTZ inputs
    dur_us = F.unix_micros(F.col(ts).cast("timestamp")) - F.unix_micros(
        F.col("_start_ts").cast("timestamp")
    )
    dur_ms = (dur_us - dur_us % 1000) / 1000
    return (
        ends.join(
            starts,
            (ends[key] == starts["_k2"]) & (ends["_start_rn"] == starts["_srn"]),
        )
        .where(dur_us <= within_s * 1_000_000)
        .select(
            F.col(key),
            F.col("start_id"),
            F.col(id_col).alias("end_id"),
            (F.col("_rn") - F.col("_start_rn") - 1).cast("int").alias("n_mid"),
            dur_ms.cast("bigint").alias("duration_ms"),
        )
    )


def sql_match_sequence(
    table: str,
    key: str,
    ts: str,
    id_col: str,
    start_sql: str,
    mid_sql: str,
    end_sql: str,
    within_s: int,
) -> str:
    """ANSI-SQL twin of match_sequence (same classification precedence,
    same window frames), for the DuckDB oracle."""
    return f"""
    WITH base AS (
        SELECT {key}, {ts}, {id_col},
               CASE WHEN {start_sql} THEN 'S'
                    WHEN {end_sql} THEN 'E'
                    WHEN {mid_sql} THEN 'M'
                    ELSE 'X' END AS cls,
               row_number() OVER w AS rn
        FROM {table}
        WINDOW w AS (PARTITION BY {key} ORDER BY {ts}, {id_col})
    ), flagged AS (
        SELECT *,
               MAX(CASE WHEN cls = 'S' THEN rn END) OVER wp AS start_rn,
               MAX(CASE WHEN cls IN ('E', 'X') THEN rn END) OVER wp AS brk_rn
        FROM base
        WINDOW wp AS (PARTITION BY {key} ORDER BY {ts}, {id_col}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT e.{key},
           s.{id_col} AS start_id,
           e.{id_col} AS end_id,
           CAST(e.rn - e.start_rn - 1 AS INTEGER) AS n_mid,
           CAST((epoch_us(e.{ts}) - epoch_us(s.{ts})) // 1000 AS BIGINT)
               AS duration_ms
    FROM flagged e
    JOIN base s ON s.{key} = e.{key} AND s.rn = e.start_rn
    WHERE e.cls = 'E'
      AND e.start_rn IS NOT NULL
      AND e.start_rn > COALESCE(e.brk_rn, 0)
      AND epoch_us(e.{ts}) - epoch_us(s.{ts}) <= {within_s * 1_000_000}
    """


# ---------------------------------------------------------------------------
# Burst detection: windowed rate z-score
# ---------------------------------------------------------------------------


def score_rate_windows(cnt: DataFrame, key: str, lookback: int = 6) -> DataFrame:
    """Score (window_start, key, n) count rows against the trailing
    ``lookback`` observed windows per key: adds n_prev (history size),
    var_num (exact-integer variance numerator, the zero-variance
    guard), mean_prev, and z (both rounded to 4dp). Shared kernel of
    the batch rate_anomaly and the streaming start_anomaly_query, which
    scores each batch's closed windows after each key's ``lookback``
    newest earlier windows (the trailing frame needs no more) —
    determinism notes on rate_anomaly."""
    w = (
        Window.partitionBy(key)
        .orderBy("window_start")
        .rowsBetween(-lookback, -1)
    )
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    m = F.count(F.lit(1)).over(w)
    var_num = m * s2 - s1 * s1
    # Divisions are guarded by lazily-evaluated CASE WHEN: under ANSI
    # mode (Spark 4 default) an UNFILTERED projection of z would raise
    # DIVIDE_BY_ZERO for one-window histories (m-1 = 0) — the batch
    # operator happened to filter those rows out before projection, but
    # the streaming path emits every scored row. The zero-variance
    # guard is an EXACT integer predicate (m*sum_sq > sum^2): engines
    # disagree on double x/0 (Spark ANSI → error, DuckDB → inf), so the
    # division must never be reached on both sides.
    # mean is an exact integer ratio -> exact rational rounding; z is
    # quantized half-up to 1e-4-unit BIGINT (functions/exact.py): its
    # value CAN land exactly ON the grid (integer-count histories with
    # perfect-square variance give rational z), where round(x, 4) was
    # engine-ambiguous and plain floor would flip on ulp noise
    mean = F.when(m > 0, exact.round_ratio(s1, m, 4))
    z = F.when(
        (m > 1) & (var_num > 0),
        exact.half_up_units(
            (F.col("n") - s1 / m) / F.sqrt((s2 - s1 * s1 / m) / (m - 1)), 4
        ),
    )
    return (
        cnt.withColumn("var_num", var_num)
        .withColumn("n_prev", m)
        .withColumn("mean_prev", mean)
        .withColumn("z_e4", z)
    )


def anomaly_predicate(min_history: int = 4, z_threshold: float = 2.0) -> F.Column:
    """The keep/drop decision over score_rate_windows output (compares
    the QUANTIZED z_e4, so both engines decide identically)."""
    return (
        (F.col("n_prev") >= min_history)
        & (F.col("var_num") > 0)
        & (F.col("z_e4") >= F.lit(int(round(z_threshold * 10000))))
    )


def rate_anomaly(
    df: DataFrame,
    key: str,
    ts: str,
    bucket: str = "hour",
    lookback: int = 6,
    min_history: int = 4,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Flag event-rate bursts: per key, bucket events into tumbling
    time windows, then score each window's count against the trailing
    ``lookback`` windows' mean/std and keep rows with z >= threshold —
    the spam-campaign/surge detector a mail-flow analyst runs on the
    indexed output (the CEP complement of match_sequence's ordered
    patterns).

    Determinism across engines: the trailing mean and variance are
    computed FROM EXACT INTEGER SUMS (sum of counts and sum of squared
    counts over the frame — both exact in int64), via
    var = (sum_sq - sum^2/n) / (n-1) written as the same expression
    tree on both sides, rather than each engine's builtin stddev
    (whose streaming algorithms differ in the last ulp). The z-score is
    rounded to 4dp and the threshold compares the ROUNDED value, so the
    keep/drop decision is identical in Spark and DuckDB.

    Scale shape: one shuffle for the (key, window) count, one window
    pass per key ordered by time — no self-join, no expansion. Empty
    buckets are absent (not zero) on both sides; "trailing windows"
    means trailing OBSERVED windows, documented semantics.
    """
    cnt = df.groupBy(
        F.date_trunc(bucket, F.col(ts)).alias("window_start"),
        F.col(key),
    ).agg(F.count(F.lit(1)).alias("n"))
    out = score_rate_windows(cnt, key, lookback).where(
        anomaly_predicate(min_history, z_threshold)
    )
    return out.select(key, "window_start", "n", "n_prev", "mean_prev", "z_e4")


def sql_rate_anomaly(
    table: str,
    key: str,
    ts: str,
    bucket: str = "hour",
    lookback: int = 6,
    min_history: int = 4,
    z_threshold: float = 2.0,
) -> str:
    """DuckDB twin of rate_anomaly — same exact-integer-sum variance."""
    return f"""
    WITH cnt AS (
        SELECT date_trunc('{bucket}', {ts}) AS window_start, {key},
               CAST(COUNT(*) AS BIGINT) AS n
        FROM {table} GROUP BY 1, 2
    ), stats AS (
        SELECT *,
            SUM(n) OVER w AS s1,
            SUM(n * n) OVER w AS s2,
            CAST(COUNT(*) OVER w AS BIGINT) AS n_prev
        FROM cnt
        WINDOW w AS (PARTITION BY {key} ORDER BY window_start
                     ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING)
    )
    SELECT {key}, window_start, n, n_prev,
        {exact.sql_round_ratio("s1", "n_prev", 4)} AS mean_prev,
        {exact.sql_half_up_units(
            "(n - s1 / CAST(n_prev AS DOUBLE))"
            " / sqrt((s2 - s1 * CAST(s1 AS DOUBLE) / n_prev)"
            " / (n_prev - 1))", 4)} AS z_e4
    FROM stats
    WHERE n_prev >= {min_history}
      AND n_prev * s2 - s1 * s1 > 0
      AND {exact.sql_half_up_units(
            "(n - s1 / CAST(n_prev AS DOUBLE))"
            " / sqrt((s2 - s1 * CAST(s1 AS DOUBLE) / n_prev)"
            " / (n_prev - 1))", 4)} >= {int(round(z_threshold * 10000))}
    """


# ---------------------------------------------------------------------------
# Missing-event detection: heartbeat / silence windows
# ---------------------------------------------------------------------------


def silence_windows(
    cnt: DataFrame, key: str, bucket_s: int = 3600
) -> DataFrame:
    """The CEP "missing event" pattern (the dual of burst detection):
    given observed (window_start, key, n) activity counts, densify each
    key's timeline from its OWN first-seen window to the global last
    observed window and flag the windows where the key went silent,
    with a running windows_since_seen counter.

    The kernel of the batch q_silence_windows query, and an oracle of
    the streaming start_silence_query (sql_silence_windows is the
    other): the stream densifies only past its last emitted window,
    from a snapshot of each key's last active window, and
    TestStreamingSilence checks its rows against this kernel's on the
    same input. For a fixed (window, key) the output row depends only
    on that key's activity at windows <= it, so under watermark-monotone
    closure the streaming emission is final the first time it is
    computable (same argument as score_rate_windows).

    Scale shape: the input is already the aggregated count table
    (|keys| x |windows| rows, orders of magnitude below the raw
    stream); the dense grid is per-key sequence/explode (grid-sized),
    the global bound joins as a broadcast 1-row aggregate, and the
    carry-forward is one per-key window pass."""
    gmax = cnt.agg(F.max("window_start").alias("_gmax"))
    spans = cnt.groupBy(key).agg(F.min("window_start").alias("_first"))
    grid = (
        spans.crossJoin(F.broadcast(gmax))
        .select(
            key,
            F.explode(
                F.sequence(
                    "_first", "_gmax", F.expr(f"interval {bucket_s} seconds")
                )
            ).alias("window_start"),
        )
    )
    dense = grid.join(cnt, [key, "window_start"], "left").withColumn(
        "n", F.coalesce("n", F.lit(0))
    )
    w = (
        Window.partitionBy(key)
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_active = F.last(
        F.when(F.col("n") > 0, F.col("window_start")), ignorenulls=True
    ).over(w)
    return dense.select(
        "window_start",
        key,
        "n",
        (
            (
                F.unix_timestamp("window_start")
                - F.unix_timestamp(last_active)
            )
            / bucket_s
        )
        .cast("long")
        .alias("windows_since_seen"),
        (F.col("n") == 0).alias("is_silent"),
    )


def sql_silence_windows(
    table: str,
    key: str,
    ts: str,
    bucket_s: int = 3600,
) -> str:
    """DuckDB twin: same per-key densify + carry-forward. The count
    bucketing is written as date_trunc('hour', ...), so only the
    hourly grid is supported here (the Spark kernel itself is
    bucket-size-generic)."""
    if bucket_s != 3600:
        raise ValueError("sql_silence_windows supports bucket_s=3600 only")
    return f"""
    WITH cnt AS (
        SELECT date_trunc('hour', {ts}) AS window_start, {key},
               CAST(COUNT(*) AS BIGINT) AS n
        FROM {table} GROUP BY 1, 2
    ), gmax AS (
        SELECT max(window_start) AS g FROM cnt
    ), grid AS (
        SELECT s.{key},
               unnest(generate_series(s.f, gmax.g,
                      INTERVAL {bucket_s} SECONDS)) AS window_start
        FROM (SELECT {key}, min(window_start) AS f FROM cnt GROUP BY 1) s,
             gmax
    ), dense AS (
        SELECT g.window_start, g.{key}, coalesce(c.n, 0) AS n
        FROM grid g
        LEFT JOIN cnt c
          ON c.{key} = g.{key} AND c.window_start = g.window_start
    )
    SELECT window_start, {key}, n,
        CAST((epoch(window_start) - epoch(last_value(
                 CASE WHEN n > 0 THEN window_start END IGNORE NULLS)
             OVER (PARTITION BY {key} ORDER BY window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
             // {bucket_s} AS BIGINT) AS windows_since_seen,
        n = 0 AS is_silent
    FROM dense
    """


# ---------------------------------------------------------------------------
# Ordered path aggregation: top user journeys
# ---------------------------------------------------------------------------


def top_paths(
    df: DataFrame,
    key: str,
    ts: str,
    step_col: str,
    tie_col: str,
    k: int = 20,
    sep: str = ">",
) -> DataFrame:
    """Top-k full event paths (ordered step sequences) across keys —
    the "most common user journeys" query behind every funnel/markov
    analysis, built on a DETERMINISTIC ordered aggregation.

    Determinism is the whole trick: `collect_list` order is undefined
    under shuffles, so the sequence is assembled by sorting an array
    of (ts, tie, step) structs AFTER collection — struct comparison is
    lexicographic, and `tie_col` (a unique id) breaks timestamp ties,
    so both engines serialize every key's path identically.

    Scale shape: one groupBy(key) to assemble paths (per-key arrays,
    bounded by per-key event counts — the same bound any sessionized
    operator carries), one groupBy(path) over |keys| rows to count,
    and a k-row TakeOrdered for the final ranking. Ties on count break
    by path string so top-k is stable."""
    path = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts).alias("t"),
                        F.col(tie_col).alias("i"),
                        F.col(step_col).alias("s"),
                    )
                )
            ),
            lambda x: x["s"],
        ),
        sep,
    )
    paths = df.groupBy(key).agg(path.alias("path"))
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_keys"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k + k-row merge — never a global sort of all distinct paths);
    # the rank window then runs over at most k rows
    topk = counts.orderBy(F.col("n_keys").desc(), "path").limit(k)
    w = Window.orderBy(F.col("n_keys").desc(), "path")
    return topk.select(
        "path",
        "n_keys",
        F.row_number().over(w).cast("int").alias("rk"),
    )


def sql_top_paths(
    table: str,
    key: str,
    ts: str,
    step_col: str,
    tie_col: str,
    k: int = 20,
    sep: str = ">",
) -> str:
    """DuckDB twin: ORDER BY inside string_agg gives the same
    deterministic serialization."""
    return f"""
    WITH paths AS (
        SELECT {key},
               string_agg({step_col}, '{sep}' ORDER BY {ts}, {tie_col})
                   AS path
        FROM {table} GROUP BY {key}
    ), counts AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n_keys
        FROM paths GROUP BY path
    )
    SELECT path, n_keys, rk FROM (
        SELECT path, n_keys,
               CAST(row_number() OVER (ORDER BY n_keys DESC, path) AS INTEGER)
                   AS rk
        FROM counts
    )
    WHERE rk <= {k}
    """
