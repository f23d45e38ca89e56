"""Sessionization + per-session feature vectors.

The graft's replacement for per-mail tokenization (BASELINE.json
north_star): turns are grouped into sessions per conv_id by a gap
timeout on ts. Batch path = window functions (lag + cumulative sum of
session starts) — one shuffle on the key, fully JVM-side. Streaming
path = streaming/session_state.session_fold: the same rule per epoch,
continued from a snapshot of the open sessions.

The gap timeout is the analog of the reference's `fail.after.seconds`
lease (src/spouts/files_mails.py:62,72-79).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

DEFAULT_GAP_S = 30 * 60


def with_session_ids(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    gap_s: int = DEFAULT_GAP_S,
) -> DataFrame:
    """Adds session_seq (0-based per key) and session_id columns.

    A new session starts when the gap to the previous event in the same
    key exceeds gap_s. Single shuffle on `key`; both window functions
    share one Window spec so Catalyst plans a single sort.
    """
    w = Window.partitionBy(key).orderBy(ts)
    prev_ts = F.lag(ts).over(w)
    new_session = (
        prev_ts.isNull()
        | (F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev_ts) > gap_s)
    ).cast("int")
    running = Window.partitionBy(key).orderBy(ts).rowsBetween(Window.unboundedPreceding, 0)
    out = df.withColumn("session_seq", F.sum(new_session).over(running) - 1)
    return out.withColumn(
        "session_id", F.concat_ws("#", F.col(key), F.col("session_seq"))
    )


def session_features(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    gap_s: int = DEFAULT_GAP_S,
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-session feature vector: role/tool frequencies, span, volume —
    the per-conversation feature vector of the north star. Partial
    aggregation (map-side combine) applies automatically."""
    with_sess = with_session_ids(df, key=key, ts=ts, gap_s=gap_s)
    aggs = [
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col(role_col) == "user").cast("long")).alias("n_user"),
        F.sum((F.col(role_col) == "assistant").cast("long")).alias("n_assistant"),
        F.sum((F.col(role_col) == "tool").cast("long")).alias("n_tool"),
        F.sum((F.col(role_col) == "system").cast("long")).alias("n_system"),
        F.sum(F.col(tool_col).isNotNull().cast("long")).alias("n_tool_calls"),
    ]
    extra = []
    if "phishing_score" in with_sess.columns:
        extra.append(F.max("phishing_score").alias("max_phishing_score"))
    if "is_filtered" in with_sess.columns:
        extra.append(F.sum(F.col("is_filtered").cast("long")).alias("n_duplicate_turns"))
    return with_sess.groupBy(key, "session_seq", "session_id").agg(*aggs, *extra)


def sql_session_features(
    table: str,
    key: str,
    ts: str,
    gap_s: int,
    role_expr: str | None = None,
) -> str:
    """DuckDB twin of with_session_ids + session_features (role/tool
    counts omitted unless role_expr given) — used by the oracle gate."""
    role_aggs = ""
    if role_expr:
        role_aggs = f""",
        CAST(SUM(CASE WHEN {role_expr} = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
        CAST(SUM(CASE WHEN {role_expr} = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant"""
    return f"""
    WITH flagged AS (
        SELECT *,
            CASE WHEN lag({ts}) OVER w IS NULL
                  OR epoch({ts}) - epoch(lag({ts}) OVER w) > {gap_s}
                 THEN 1 ELSE 0 END AS new_session
        FROM {table}
        WINDOW w AS (PARTITION BY {key} ORDER BY {ts})
    ), sessions AS (
        SELECT *,
            CAST(SUM(new_session) OVER (PARTITION BY {key} ORDER BY {ts}
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT {key}, session_seq,
        {key} || '#' || CAST(session_seq AS VARCHAR) AS session_id,
        MIN({ts}) AS session_start,
        MAX({ts}) AS session_end,
        CAST(COUNT(*) AS BIGINT) AS n_turns{role_aggs}
    FROM sessions
    GROUP BY {key}, session_seq
    """
