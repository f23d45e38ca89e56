"""Physical-plan inspection helpers — used by tests to assert the plans
we actually want at 100 TB: filters/projections pushed to the parquet
scan, dimension joins broadcast, hot paths inside whole-stage codegen.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    txt = plan_text(df)
    cols: list[str] = []
    for line in txt.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(f.split(":")[0].strip() for f in inner.split(",") if ":" in f)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_text(df) or "BroadcastNestedLoopJoin" in plan_text(df)

