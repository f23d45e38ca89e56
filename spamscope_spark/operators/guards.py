"""Small-side size guards for operators that replicate or broadcast a
dimension.

Three operator families assume one side is small: brute-force cosine
top-k and phrase search broadcast a literal query dimension, and
replicate-and-salt joins materialize n_salts copies of their dimension
through the shuffle. At demo scale a misuse is invisible; at 100 TB it
is a silent executor OOM (broadcast) or an n_salts-times-amplified
shuffle. These guards fail LOUDLY at plan-construction time instead:

- `check_literal_dim` bounds driver-provided literal lists (query ids,
  phrase sets) — zero cost, pure Python.
- `check_replicated_size` bounds a DataFrame side via Catalyst's
  plan-time size estimate (`optimizedPlan().stats().sizeInBytes`) —
  zero jobs, no scan; parquet-backed plans carry accurate statistics.
  The estimate is intentionally compared BEFORE replication is applied
  and multiplied by the replication factor. A plan without statistics
  (JDBC, some views and streaming sources) reports
  `spark.sql.defaultSizeInBytes` (Long.MaxValue by default); the check
  is skipped for it, since that number says nothing about the side.

Both raise ValueError with the remediation spelled out (broadcast a
smaller dim / rely on AQE skew splitting / raise the cap explicitly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# broadcast dimensions: generous vs spark.sql.autoBroadcastJoinThreshold
# defaults, tight vs accidental "the whole corpus as queries" misuse
MAX_LITERAL_DIM = 100_000
# replicated (salted) dimensions: n_salts * size must stay shuffle-sane
MAX_REPLICATED_BYTES = 8 << 30  # 8 GiB


def check_literal_dim(items, what: str, cap: int = MAX_LITERAL_DIM) -> None:
    n = len(items)
    if n > cap:
        raise ValueError(
            f"{what}: {n} entries exceeds the broadcast-dimension cap "
            f"({cap}). A dimension this large must not be broadcast per "
            "task — use the bucketed/postings join form instead, or "
            "raise the cap explicitly if the executors are sized for it."
        )


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate in bytes (no job)."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def default_size_bytes(df: DataFrame) -> int:
    """spark.sql.defaultSizeInBytes: the estimate Catalyst gives a leaf
    plan that has no statistics."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return int(conf.defaultSizeInBytes())


def check_replicated_size(
    df: DataFrame,
    factor: int,
    what: str,
    cap_bytes: int | None = None,
) -> None:
    """Raise if `factor` copies of `df` would exceed `cap_bytes` by the
    plan-time estimate. Skipped when the estimate is at or above
    spark.sql.defaultSizeInBytes: that is Catalyst's "no statistics"
    fallback, not a size, and raising on it would reject small sides
    whose source simply keeps no statistics."""
    if cap_bytes is None:
        # read at call time so tests/config can adjust the module cap
        cap_bytes = MAX_REPLICATED_BYTES
    est = plan_size_bytes(df)
    if est >= default_size_bytes(df):
        return
    total = est * max(1, factor)
    if total > cap_bytes:
        raise ValueError(
            f"{what}: plan-time size estimate {est} B x {factor} copies "
            f"= {total} B exceeds the replicated-shuffle cap "
            f"({cap_bytes} B). Replicate-and-salt is for MEDIUM "
            "dimensions; for one this large keep the plain join and "
            "let AQE skew-join splitting handle hot keys, or raise "
            "cap_bytes explicitly if the cluster is sized for it."
        )
