"""Tests for round-3 additions: fixed-point PageRank, URL
canonicalization, the streaming rate-anomaly and heartbeat/silence
queries, degree-oriented triangle counting, and schema-evolution
reads."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from spamscope_spark.datagen import generate_turns
from spamscope_spark.functions.urls import canonicalize_url, sql_canonicalize_url
from spamscope_spark.operators import cep
from spamscope_spark.operators.graph import SCALE, pagerank, sql_pagerank
from spamscope_spark.streaming.pipeline import (
    PipelineConfig,
    start_anomaly_query,
    start_silence_query,
)

EDGES = [
    (1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (4, 2), (5, 4),
    (3, 6),  # 6 is dangling (no out-edges): its mass drops, documented
]


def _py_pagerank(edges, iterations=5):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out: dict[int, int] = {}
    inc: dict[int, list[int]] = {}
    for s, d in edges:
        out[s] = out.get(s, 0) + 1
        inc.setdefault(d, []).append(s)
    rank = {v: SCALE // n for v in nodes}
    base = (15 * SCALE) // (100 * n)
    for _ in range(iterations):
        rank = {
            v: base + (85 * sum(rank[u] // out[u] for u in inc.get(v, []))) // 100
            for v in nodes
        }
    return rank


class TestPageRank:
    def test_matches_python_reference(self, spark):
        e = spark.createDataFrame(EDGES, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
        assert got == _py_pagerank(EDGES, iterations=5)

    def test_sql_twin_matches_spark(self, spark, duck):
        e = spark.createDataFrame(EDGES, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
        values = ", ".join(f"({s}, {d})" for s, d in EDGES)
        sql = sql_pagerank(
            f"SELECT * FROM (VALUES {values}) AS t(src, dst)", iterations=4
        )
        oracle = {int(n): int(r) for n, r in duck.sql(sql).fetchall()}
        assert got == oracle

    def test_rank_orders_by_link_structure(self, spark):
        # node 1 has in-edges from 3 and 4; node 5 has none → base only
        e = spark.createDataFrame(EDGES, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank(e).collect()}
        n = len(got)
        assert got[5] == (15 * SCALE) // (100 * n)
        assert got[1] > got[5]
        # total mass never exceeds SCALE (dangling mass only leaks out)
        assert sum(got.values()) <= SCALE


CANON_CASES = [
    # (input, expected)
    ("http://Example.COM/path", "http://example.com/path"),
    ("HTTPS://example.com:443/a", "https://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    ("ftp://Example.com:21/f.txt", "ftp://example.com/f.txt"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/p#frag", "http://example.com/p"),
    (
        "http://example.com/p?utm_source=a&b=2&a=1&utm_campaign=x",
        "http://example.com/p?a=1&b=2",
    ),
    ("http://example.com/p?gclid=z&fbclid=y&keep=1", "http://example.com/p?keep=1"),
    ("http://example.com/p?b=2&a=1", "http://example.com/p?a=1&b=2"),
    ("http://example.com/p?utm_only=1", "http://example.com/p"),
    ("http://User@example.com/p", "http://user@example.com/p"),
    ("http://example.com/p?A=1", "http://example.com/p?A=1"),  # names case-kept
]


class TestCanonicalUrl:
    def test_expected_forms(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "u string")
        got = [
            r["c"]
            for r in df.select(canonicalize_url(F.col("u")).alias("c"))
            .orderBy(F.monotonically_increasing_id())
            .collect()
        ]
        # order by original list: re-derive via dict (inputs unique)
        m = {
            r["u"]: r["c"]
            for r in df.select("u", canonicalize_url(F.col("u")).alias("c")).collect()
        }
        for u, exp in CANON_CASES:
            assert m[u] == exp, u
        assert len(got) == len(CANON_CASES)

    def test_sql_twin_parity(self, spark, duck):
        m = {
            r["u"]: r["c"]
            for r in spark.createDataFrame([(u,) for u, _ in CANON_CASES], "u string")
            .select("u", canonicalize_url(F.col("u")).alias("c"))
            .collect()
        }
        for u, _ in CANON_CASES:
            (got,) = duck.sql(
                f"SELECT {sql_canonicalize_url(repr(u))} AS c"
            ).fetchone()
            assert got == m[u], u


def _write_ts_split(turns, path, n_files):
    """Append `turns` to `path` as `n_files` files split at evenly
    spaced ts cut points, oldest first: drained one file per trigger,
    the watermark closes windows in several epochs."""
    lo, hi = turns.agg(F.min("ts"), F.max("ts")).first()
    cuts = [None] + [lo + (hi - lo) * i / n_files for i in range(1, n_files)] + [None]
    for a, b in zip(cuts, cuts[1:]):
        part = turns
        if a is not None:
            part = part.where(F.col("ts") >= F.lit(a))
        if b is not None:
            part = part.where(F.col("ts") < F.lit(b))
        part.coalesce(1).write.mode("append").parquet(path)


def _duck_turns(duck, turns, key):
    """Register (key, ts) of `turns` as the DuckDB table `turns`; ts
    travels as epoch microseconds, so DuckDB's timestamps are UTC (see
    _local)."""
    raw = turns.select(key, F.unix_micros("ts").alias("us")).toPandas()
    duck.register("raw_turns", raw)
    duck.execute(
        f"CREATE OR REPLACE VIEW turns AS "
        f"SELECT {key}, make_timestamp(us) AS ts FROM raw_turns"
    )


def _local(utc):
    """A naive UTC datetime from DuckDB as the naive local datetime
    that collect() gives for the same instant."""
    return utc.replace(tzinfo=dt.timezone.utc).astimezone().replace(tzinfo=None)


def _assert_anomaly_oracle(duck, got, key, lookback, min_history, z):
    """The stream's rows against DuckDB sql_rate_anomaly on the emitted
    windows: every row with a z-score at a threshold that keeps them
    all, and the anomaly rows at the query's own thresholds."""
    def oracle(min_h, z_thr):
        sql = cep.sql_rate_anomaly(
            "turns", key, "ts", lookback=lookback, min_history=min_h,
            z_threshold=z_thr,
        )
        return {
            (_local(w), k): (n, n_prev, mean_prev, z_e4)
            for k, w, n, n_prev, mean_prev, z_e4 in duck.sql(sql).fetchall()
            if (_local(w), k) in got
        }

    scored = {k: v[:4] for k, v in got.items() if v[3] is not None}
    assert scored and scored == oracle(0, -1e6)
    assert {k: v[:4] for k, v in got.items() if v[4]} == oracle(min_history, z)


class TestStreamingRateAnomaly:
    KEY, BUCKET_S, LOOKBACK, MIN_H, Z = "role", 3600, 6, 4, 2.0

    @pytest.fixture()
    def anomaly_cfg(self, spark, tmp_path):
        path = str(tmp_path / "turns_in")
        generate_turns(spark, n_convs=20, turns_per_conv=24).write.parquet(path)
        return PipelineConfig(input_path=path, work_dir=str(tmp_path / "work"))

    def test_stream_matches_batch_and_replays_clean(self, spark, duck, anomaly_cfg):
        q, sink = start_anomaly_query(
            spark, anomaly_cfg, key=self.KEY, bucket_s=self.BUCKET_S,
            lookback=self.LOOKBACK, min_history=self.MIN_H, z_threshold=self.Z,
        )
        q.awaitTermination(300)
        got = {
            (r["window_start"], r[self.KEY]): (
                r["n"], r["n_prev"], r["mean_prev"], r["z_e4"], r["is_anomaly"]
            )
            for r in sink.read_merged(spark).collect()
        }
        assert got, "stream emitted no finalized windows"

        # batch twin over the same parquet, same kernel, full data
        turns = spark.read.parquet(anomaly_cfg.input_path)
        cnt = turns.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col(self.KEY),
        ).agg(F.count(F.lit(1)).alias("n"))
        scored = cep.score_rate_windows(cnt, self.KEY, self.LOOKBACK).withColumn(
            "is_anomaly",
            F.coalesce(cep.anomaly_predicate(self.MIN_H, self.Z), F.lit(False)),
        )
        exp = {
            (r["window_start"], r[self.KEY]): (
                r["n"], r["n_prev"], r["mean_prev"], r["z_e4"], r["is_anomaly"]
            )
            for r in scored.collect()
        }
        # every emitted (closed) window matches the batch value exactly
        for k, v in got.items():
            assert exp[k] == v, k
        # anomaly rows agree on the emitted subset
        got_anom = {k for k, v in got.items() if v[4]}
        exp_anom = {k for k, v in exp.items() if v[4] and k in got}
        assert got_anom == exp_anom
        # the batch anomaly OPERATOR (filtered form) agrees too
        op = {
            (r["window_start"], r[self.KEY])
            for r in cep.rate_anomaly(
                turns, self.KEY, "ts", bucket="hour",
                lookback=self.LOOKBACK, min_history=self.MIN_H, z_threshold=self.Z,
            ).collect()
        }
        assert got_anom == {k for k in op if k in got}
        _duck_turns(duck, turns, self.KEY)
        _assert_anomaly_oracle(duck, got, self.KEY, self.LOOKBACK, self.MIN_H, self.Z)

        # restart from the same checkpoint: exactly-once, no new rows
        q2, sink2 = start_anomaly_query(
            spark, anomaly_cfg, key=self.KEY, bucket_s=self.BUCKET_S,
            lookback=self.LOOKBACK, min_history=self.MIN_H, z_threshold=self.Z,
        )
        q2.awaitTermination(300)
        assert sink2.read_merged(spark).count() == len(got)

    def test_carried_history_matches_batch_and_oracle(self, spark, duck, tmp_path):
        """Drained one time-ordered file per trigger, windows close in
        several epochs, so later epochs score against the history the
        state snapshot carries: every emitted row still equals the batch
        value and DuckDB's. z >= 1 flags some windows of this input (its
        largest z is below the class's 2.0)."""
        z = 1.0
        path = str(tmp_path / "turns_in")
        turns = generate_turns(spark, n_convs=20, turns_per_conv=24)
        _write_ts_split(turns, path, 5)
        cfg = PipelineConfig(
            input_path=path, work_dir=str(tmp_path / "work"),
            max_files_per_trigger=1,
        )
        q, sink = start_anomaly_query(
            spark, cfg, key=self.KEY, bucket_s=self.BUCKET_S,
            lookback=self.LOOKBACK, min_history=self.MIN_H, z_threshold=z,
        )
        q.awaitTermination(300)
        emitting = [e for e, m in sink.manifest_entries().items() if m["rows"]]
        assert len(emitting) >= 2, sink.manifest_entries()
        got = {
            (r["window_start"], r[self.KEY]): (
                r["n"], r["n_prev"], r["mean_prev"], r["z_e4"], r["is_anomaly"]
            )
            for r in sink.read_merged(spark).collect()
        }
        turns = spark.read.parquet(path)
        cnt = turns.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col(self.KEY),
        ).agg(F.count(F.lit(1)).alias("n"))
        scored = cep.score_rate_windows(cnt, self.KEY, self.LOOKBACK).withColumn(
            "is_anomaly",
            F.coalesce(cep.anomaly_predicate(self.MIN_H, z), F.lit(False)),
        )
        exp = {
            (r["window_start"], r[self.KEY]): (
                r["n"], r["n_prev"], r["mean_prev"], r["z_e4"], r["is_anomaly"]
            )
            for r in scored.collect()
        }
        max_emitted = max(k[0] for k in got)
        assert got == {k: v for k, v in exp.items() if k[0] <= max_emitted}
        assert any(v[4] for v in got.values())
        _duck_turns(duck, turns, self.KEY)
        _assert_anomaly_oracle(duck, got, self.KEY, self.LOOKBACK, self.MIN_H, z)


class TestStreamingSilence:
    """Heartbeat / missing-event monitor (start_silence_query): the
    stream's emitted rows are exactly the batch silence_windows kernel's
    rows on the same input (watermark-closed prefix), the planted key's
    disappearance IS detected, and checkpoint replay adds nothing."""

    KEY, BUCKET_S = "role", 3600

    @pytest.fixture()
    def silence_cfg(self, spark, tmp_path):
        path = str(tmp_path / "turns_in")
        t = generate_turns(spark, n_convs=20, turns_per_conv=24)
        b = t.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
        cut = b["lo"] + (b["hi"] - b["lo"]) * 0.4
        # plant: the 'system' role stops emitting 40% into the span
        t.where(
            ~((F.col(self.KEY) == "system") & (F.col("ts") > F.lit(cut)))
        ).write.parquet(path)
        return PipelineConfig(input_path=path, work_dir=str(tmp_path / "work"))

    def test_stream_matches_batch_and_replays_clean(self, spark, duck, silence_cfg):
        q, sink = start_silence_query(
            spark, silence_cfg, key=self.KEY, bucket_s=self.BUCKET_S
        )
        q.awaitTermination(300)
        got = {
            (r["window_start"], r[self.KEY]): (
                r["n"], r["windows_since_seen"], r["is_silent"]
            )
            for r in sink.read_merged(spark).collect()
        }
        assert got, "stream emitted nothing"
        silent_keys = {k[1] for k, v in got.items() if v[2]}
        assert "system" in silent_keys, sorted(got)[:5]

        # batch twin: same kernel over the full parquet
        turns = spark.read.parquet(silence_cfg.input_path)
        cnt = turns.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col(self.KEY),
        ).agg(F.count(F.lit(1)).alias("n"))
        exp = {
            (r["window_start"], r[self.KEY]): (
                r["n"], r["windows_since_seen"], r["is_silent"]
            )
            for r in cep.silence_windows(
                cnt, self.KEY, self.BUCKET_S
            ).collect()
        }
        for k, v in got.items():
            assert exp[k] == v, k
        # prefix completeness: every batch row at or before the last
        # emitted window is present in the stream output
        max_emitted = max(k[0] for k in got)
        missing = {k for k in exp if k[0] <= max_emitted} - set(got)
        assert not missing, sorted(missing)[:5]
        # independent oracle: DuckDB's densify and carry-forward
        _duck_turns(duck, turns, self.KEY)
        oracle = {
            (_local(w), k): (n, since, silent)
            for w, k, n, since, silent in duck.sql(
                cep.sql_silence_windows("turns", self.KEY, "ts", self.BUCKET_S)
            ).fetchall()
            if _local(w) <= max_emitted
        }
        assert got == oracle

        # restart from the same checkpoint: exactly-once, no new rows
        q2, sink2 = start_silence_query(
            spark, silence_cfg, key=self.KEY, bucket_s=self.BUCKET_S
        )
        q2.awaitTermination(300)
        assert sink2.read_merged(spark).count() == len(got)


class TestTriangleCount:
    def _run(self, spark, edges):
        from spamscope_spark.operators.graph import triangle_count

        df = spark.createDataFrame(edges, ["src", "dst"])
        return triangle_count(df).collect()[0]

    def test_k4_has_four_triangles(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        r = self._run(spark, k4)
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)

    def test_star_has_none_and_orientation_tames_the_hub(self, spark):
        # a 1->{2..20} star: no triangles; with degree orientation every
        # edge points INTO the hub, so the hub contributes zero wedges
        star = [(1, i) for i in range(2, 21)]
        r = self._run(spark, star)
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (20, 19, 0)

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        tri = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 3), (1, 1)]
        r = self._run(spark, tri)
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)


class TestSchemaEvolution:
    def test_merged_read_nulls_pre_evolution_rows(self, spark):
        from spamscope_spark.sources import evolve

        path = evolve.ensure_evolved_events(spark, "/root/testdata/sf0.001")
        df = evolve.read_evolved(spark, path)
        assert "quality" in df.columns
        evens = df.where(F.col("event_id") % 2 == 0)
        odds = df.where(F.col("event_id") % 2 == 1)
        assert evens.where(F.col("quality").isNotNull()).count() == 0
        assert odds.where(F.col("quality").isNull()).count() == 0
        raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        assert df.count() == raw.count()


class TestStatsOperators:
    def test_profile_counts_nulls_distinct_minmax(self, spark):
        from spamscope_spark.operators.stats import profile_columns

        df = spark.createDataFrame(
            [(1, "a", 2.0), (2, "a", None), (3, None, 8.0), (3, "b", 4.0)],
            ["k", "s", "v"],
        )
        rows = {
            r["col_name"]: r
            for r in profile_columns(
                df, [("k", F.col("k")), ("s", None), ("v", F.col("v"))]
            ).collect()
        }
        k, s, v = rows["k"], rows["s"], rows["v"]
        assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 0, 3)
        assert (k["min_num"], k["max_num"]) == (1.0, 3.0)
        assert (s["n_nulls"], s["n_distinct"], s["min_num"]) == (1, 2, None)
        assert (v["n_nulls"], v["n_distinct"], v["min_num"], v["max_num"]) == (
            1, 3, 2.0, 8.0,
        )

    def test_chi2_uniform_table_has_zero_statistic(self, spark):
        from spamscope_spark.operators.stats import chi2_independence

        # perfectly independent 2x2 with equal margins: expected == n
        rows = [("A", "x")] * 5 + [("A", "y")] * 5 + [("B", "x")] * 5 + [
            ("B", "y")
        ] * 5
        df = spark.createDataFrame(rows, ["r0", "c0"])
        out = chi2_independence(df, F.col("r0"), F.col("c0")).collect()
        assert len(out) == 4
        for r in out:
            assert r["n"] == 5 and r["expected"] == 5.0
            assert r["contrib_e6"] == 0

    def test_chi2_known_2x2(self, spark):
        from spamscope_spark.operators.stats import chi2_independence

        # cells: (A,x)=10 (A,y)=0 (B,x)=0 (B,y)=10 -> chi2 = N = 20
        rows = [("A", "x")] * 10 + [("B", "y")] * 10
        df = spark.createDataFrame(rows, ["r0", "c0"])
        out = chi2_independence(df, F.col("r0"), F.col("c0")).collect()
        # only populated cells appear (zeros don't exist as rows)
        # 5 + 5 from the 2 cells, in micro-units
        assert sum(r["contrib_e6"] for r in out) == 10_000_000


MONITORS = {
    # monitor: (starter, output name, snapshot rows kept per key)
    "silence": (start_silence_query, "silence", 1),
    "anomaly": (start_anomaly_query, "rate_anomaly", 6),  # its lookback
}


class TestSilenceBoundedState:
    """The anomaly and silence monitors' per-epoch cost must be bounded
    by |keys| + new windows — NOT stream lifetime. The state snapshot
    carries at most `keep` rows per key, at every epoch."""

    KEY, BUCKET_S = "role", 3600

    @pytest.mark.parametrize("monitor", sorted(MONITORS))
    def test_state_rows_equal_keys_across_epochs(self, spark, tmp_path, monitor):
        import glob as globmod

        start, name, keep = MONITORS[monitor]
        path = str(tmp_path / "turns_in")
        t = generate_turns(spark, n_convs=12, turns_per_conv=24)
        # many input files + maxFilesPerTrigger → multiple epochs
        t.repartition(8).write.parquet(path)
        n_keys = t.select(self.KEY).distinct().count()
        cfg = PipelineConfig(
            input_path=path,
            work_dir=str(tmp_path / "work"),
            max_files_per_trigger=2,
        )
        q, sink = start(spark, cfg, key=self.KEY, bucket_s=self.BUCKET_S)
        q.awaitTermination(300)

        state_dir = cfg.output(f"{name}_state")
        epoch_dirs = sorted(
            globmod.glob(f"{state_dir}/data/epoch=*"),
            key=lambda d: int(d.rsplit("=", 1)[1]),
        )
        assert len(epoch_dirs) >= 3, "expected multiple epochs"
        for d in epoch_dirs:
            rows = spark.read.parquet(d).collect()
            # bounded: ≤ keep rows per key, never the emitted-row history
            assert len(rows) <= n_keys * keep, (d, len(rows))
            per_key = [r[self.KEY] for r in rows]
            assert max(map(per_key.count, per_key), default=0) <= keep
        # the last snapshot is each key's `keep` newest observed windows
        last = {tuple(r) for r in spark.read.parquet(epoch_dirs[-1]).collect()}
        out = sink.read_merged(spark)
        observed = {}
        for r in out.select("window_start", self.KEY, "n").where("n > 0").collect():
            observed.setdefault(r[self.KEY], []).append(tuple(r))
        newest = {
            r for rows in observed.values() for r in sorted(rows, reverse=True)[:keep]
        }
        assert last == newest and len(observed) == n_keys
        # the newest snapshot window is the global max emitted window
        out_max = out.agg(F.max("window_start")).collect()[0][0]
        assert max(r[0] for r in last) == out_max

    @pytest.mark.parametrize("monitor", sorted(MONITORS))
    def test_restart_reads_only_the_newest_snapshot(self, spark, tmp_path, monitor):
        """Each state snapshot is complete (untouched keys pass
        through), so a restart needs only the newest one: with every
        older state epoch deleted, the resumed run's output equals an
        uninterrupted run's over the same input."""
        import glob as globmod
        import shutil

        start, name, _ = MONITORS[monitor]
        path = str(tmp_path / "turns_in")
        t = generate_turns(spark, n_convs=12, turns_per_conv=24)
        lo, hi = t.agg(F.min("ts"), F.max("ts")).first()
        cuts = [None] + [lo + (hi - lo) * i / 4 for i in (1, 2, 3)] + [None]

        def append_part(i):
            part = t
            if cuts[i] is not None:
                part = part.where(F.col("ts") >= F.lit(cuts[i]))
            if cuts[i + 1] is not None:
                part = part.where(F.col("ts") < F.lit(cuts[i + 1]))
            part.coalesce(1).write.mode("append").parquet(path)

        def run(work):
            cfg = PipelineConfig(
                input_path=path,
                work_dir=str(tmp_path / work),
                max_files_per_trigger=1,
            )
            q, sink = start(spark, cfg, key=self.KEY, bucket_s=self.BUCKET_S)
            q.awaitTermination(300)
            rows = sink.read_merged(spark).collect()
            return cfg, sorted(map(tuple, rows))

        for i in range(3):
            append_part(i)
        cfg, _ = run("resumed")
        state_dirs = globmod.glob(f"{cfg.output(f'{name}_state')}/data/epoch=*")
        newest = max(state_dirs, key=lambda d: int(d.rsplit("=", 1)[1]))
        assert len(state_dirs) >= 3, "expected multiple epochs"
        for d in state_dirs:
            if d != newest:
                shutil.rmtree(d)
        append_part(3)
        _, resumed = run("resumed")
        _, whole = run("whole")
        assert resumed and resumed == whole
