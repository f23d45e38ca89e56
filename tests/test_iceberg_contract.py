"""Iceberg MERGE path: contract tests executable WITHOUT the runtime jar.

The sandbox has no iceberg-spark-runtime (documented, SURVEY.md §7 risk
5), so the cluster path can't execute end-to-end here. These tests pin
everything that IS checkable:

  1. the generated MERGE statement text (golden — the statement a real
     cluster would run, keyed on (conv_id, turn_idx) per the north rule)
  2. process_batch plumbing: create-table-on-first-epoch, temp-view
     create → MERGE → drop lifecycle, and that an epoch REPLAY issues
     the byte-identical statement (idempotence reduces to Iceberg's
     documented MERGE atomicity once the statement is replay-stable)
  3. make_sink selection: falls back to the parquet+manifest
     IdempotentSink when the JVM lacks the Iceberg extension (which it
     does here), and both sinks expose the same foreachBatch surface
  4. semantic twin: the fallback sink's last-writer-wins read equals a
     DuckDB-computed keyed upsert over the same epochs — i.e. the
     fallback implements the same MERGE contract the statement encodes
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401 (parity with sibling tests)
import pytest

from spamscope_spark.streaming.iceberg_sink import (
    IcebergMergeSink,
    iceberg_available,
    make_sink,
    merge_sql,
)
from spamscope_spark.streaming.sink import IdempotentSink

KEYS = ["conv_id", "turn_idx"]
TABLE = "warehouse.turns_enriched"


def test_merge_sql_golden():
    assert merge_sql(TABLE, KEYS, view="_batch_src_7") == (
        "MERGE INTO warehouse.turns_enriched t USING _batch_src_7 s "
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # the default source view
    assert merge_sql(TABLE, KEYS) == (
        "MERGE INTO warehouse.turns_enriched t USING _batch_src s "
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


class _RecordingCatalog:
    def __init__(self, outer):
        self.outer = outer

    def tableExists(self, name):
        return name in self.outer.tables

    def dropTempView(self, name):
        self.outer.events.append(("drop_view", name))
        self.outer.views.discard(name)


class _RecordingSession:
    """Stands in for the cluster session: records every statement the
    sink issues, in order."""

    def __init__(self):
        self.tables = set()
        self.views = set()
        self.events = []
        self.catalog = _RecordingCatalog(self)

    def sql(self, statement):
        self.events.append(("sql", statement))
        for v in self.views:
            if f"USING {v} " in statement:
                break
        else:
            raise AssertionError(
                f"MERGE references a view that was never created: {statement}"
            )


class _RecordingBatch:
    def __init__(self, session):
        self.sparkSession = session

    def createOrReplaceTempView(self, name):
        self.sparkSession.events.append(("create_view", name))
        self.sparkSession.views.add(name)

    # writeTo(...).using("iceberg").createOrReplace() chain
    def writeTo(self, table):
        session = self.sparkSession

        class _W:
            def using(self, fmt):
                assert fmt == "iceberg"
                return self

            def createOrReplace(self):
                session.events.append(("create_table", table))
                session.tables.add(table)

        return _W()


def test_process_batch_lifecycle_and_replay_stability():
    session = _RecordingSession()
    sink = IcebergMergeSink(TABLE, KEYS)

    # first epoch: table doesn't exist -> created, no MERGE
    sink.process_batch(_RecordingBatch(session), epoch=0)
    assert session.events == [("create_table", TABLE)]

    # subsequent epoch: view create -> MERGE -> view drop, in order
    session.events.clear()
    sink.process_batch(_RecordingBatch(session), epoch=7)
    kinds = [e[0] for e in session.events]
    assert kinds == ["create_view", "sql", "drop_view"]
    first_stmt = session.events[1][1]
    assert first_stmt == merge_sql(TABLE, KEYS, "_batch_src_7")

    # crash-replay of the same epoch issues the byte-identical statement
    session.events.clear()
    sink.process_batch(_RecordingBatch(session), epoch=7)
    assert session.events[1][1] == first_stmt


def test_make_sink_falls_back_without_runtime(spark, tmp_path):
    assert not iceberg_available(spark), (
        "sandbox unexpectedly has the Iceberg runtime — promote the "
        "env-gated cluster path to an executed test"
    )
    sink = make_sink(spark, str(tmp_path / "sink"), KEYS)
    assert isinstance(sink, IdempotentSink)
    assert callable(sink) and hasattr(sink, "process_batch")


def test_fallback_matches_merge_semantics(spark, tmp_path, duck):
    """Same epoch sequence through (a) the parquet fallback's
    last-writer-wins read and (b) a DuckDB keyed upsert implementing
    the MERGE statement's semantics directly — equal final states."""
    sink = IdempotentSink(str(tmp_path / "sink"), keys=KEYS)
    epochs = [
        [("c1", 0, "a0"), ("c1", 1, "a1")],
        [("c1", 1, "b1"), ("c2", 0, "b2")],   # update + insert
        [("c1", 1, "c1x"), ("c3", 5, "c3x")],  # update again + insert
    ]
    for i, rows in enumerate(epochs):
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, payload string"
        )
        sink.process_batch(df, epoch=i)
    got = {
        (r["conv_id"], r["turn_idx"]): r["payload"]
        for r in sink.read_merged(spark).collect()
    }

    duck.execute(
        "CREATE TABLE t (conv_id VARCHAR, turn_idx INT, payload VARCHAR)"
    )
    for rows in epochs:
        for c, i, p in rows:
            # WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *
            n = duck.execute(
                "UPDATE t SET payload = ? WHERE conv_id = ? AND turn_idx = ?",
                [p, c, i],
            ).fetchall()
            if not duck.execute(
                "SELECT 1 FROM t WHERE conv_id = ? AND turn_idx = ?", [c, i]
            ).fetchall():
                duck.execute("INSERT INTO t VALUES (?, ?, ?)", [c, i, p])
    exp = {
        (c, i): p
        for c, i, p in duck.execute("SELECT * FROM t").fetchall()
    }
    assert got == exp


def test_merge_keys_match_north_rule():
    """The production sink is keyed on (conv_id, turn_idx) — the per-row
    invariant surface (per-turn text equality under stable ordering)."""
    stmt = merge_sql(TABLE, KEYS)
    assert "t.conv_id = s.conv_id" in stmt
    assert "t.turn_idx = s.turn_idx" in stmt
