"""Streaming-layer tests: exactly-once idempotent sink, checkpoint
resume, stateful dedup flag, stateful sessionization, watermarked
tool-call band join — the north-rule requirements.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from spamscope_spark.datagen import generate_turns
from spamscope_spark.operators.enrich import enrich_turns
from spamscope_spark.operators.joins import tool_response_join
from spamscope_spark.schema import TURNS_SCHEMA
from spamscope_spark.streaming.pipeline import (
    PipelineConfig,
    start_enriched_query,
    start_join_query,
    start_session_query,
    start_window_query,
    windowed_rates,
)
from spamscope_spark.streaming.sink import IdempotentSink

N_CONVS = 20
TURNS_PER_CONV = 24


@pytest.fixture(scope="module")
def turns_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("turns_in"))
    turns = generate_turns(spark, n_convs=N_CONVS, turns_per_conv=TURNS_PER_CONV)
    # two files so the stream has multiple input splits
    turns.where(F.col("conv_id") < "conv_000010").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    turns.where(F.col("conv_id") >= "conv_000010").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    return path


@pytest.fixture()
def cfg(turns_input, tmp_path):
    return PipelineConfig(input_path=turns_input, work_dir=str(tmp_path))


class TestIdempotentSink:
    def test_replayed_epoch_writes_once(self, spark, tmp_path):
        sink = IdempotentSink(str(tmp_path / "s"), keys=["conv_id", "turn_idx"])
        df = generate_turns(spark, n_convs=3, turns_per_conv=8)
        sink.process_batch(df, 0)
        n1 = sink.read_merged(spark).count()
        sink.process_batch(df, 0)  # replay of a committed epoch: no-op
        assert sink.read_merged(spark).count() == n1
        assert sink.committed_epochs() == {0}

    def test_merge_last_writer_wins(self, spark, tmp_path):
        sink = IdempotentSink(str(tmp_path / "s2"), keys=["k"])
        sink.process_batch(spark.createDataFrame([(1, "a")], "k int, v string"), 0)
        sink.process_batch(spark.createDataFrame([(1, "b"), (2, "c")], "k int, v string"), 1)
        rows = {r["k"]: r["v"] for r in sink.read_merged(spark).collect()}
        assert rows == {1: "b", 2: "c"}

    def test_compact_preserves_merged_view(self, spark, tmp_path):
        import os

        sink = IdempotentSink(str(tmp_path / "s3"), keys=["k"])
        sink.process_batch(spark.createDataFrame([(1, "a"), (2, "x")], "k int, v string"), 0)
        sink.process_batch(spark.createDataFrame([(1, "b")], "k int, v string"), 1)
        sink.process_batch(spark.createDataFrame([(3, "y")], "k int, v string"), 2)
        sink.process_batch(spark.createDataFrame([(4, "z")], "k int, v string"), 3)
        before = {r["k"]: r["v"] for r in sink.read_merged(spark).collect()}

        # compact all but the newest epoch: 0,1,2 -> epoch=2
        res = sink.compact(spark, keep_last=1)
        assert res["compacted_epochs"] == 3 and res["epoch"] == 2
        after = {r["k"]: r["v"] for r in sink.read_merged(spark).collect()}
        assert after == before == {1: "b", 2: "x", 3: "y", 4: "z"}
        # old epoch dirs gone, compacted + tail remain, manifest rewritten
        dirs = sorted(os.listdir(sink.data_dir))
        assert dirs == ["epoch=2", "epoch=3"]
        assert sink.committed_epochs() == {2, 3}
        # intra-range last-wins applied at write: compacted rows = 3 keys
        assert res["rows"] == 3
        # a second compact folds the remainder into one epoch
        res2 = sink.compact(spark)
        assert res2["compacted_epochs"] == 2 and res2["epoch"] == 3
        assert {r["k"]: r["v"] for r in sink.read_merged(spark).collect()} == before
        # nothing left to compact
        assert sink.compact(spark) == {"compacted_epochs": 0}


    def test_read_asof_time_travel_and_expiry(self, spark, tmp_path):
        sink = IdempotentSink(str(tmp_path / "s4"), keys=["k"])
        sink.process_batch(spark.createDataFrame([(1, "a"), (2, "x")], "k int, v string"), 0)
        sink.process_batch(spark.createDataFrame([(1, "b")], "k int, v string"), 1)
        sink.process_batch(spark.createDataFrame([(3, "y")], "k int, v string"), 2)
        asof = lambda e: {  # noqa: E731
            r["k"]: r["v"] for r in sink.read_asof(spark, e).collect()
        }
        assert asof(0) == {1: "a", 2: "x"}
        assert asof(1) == {1: "b", 2: "x"}
        assert asof(2) == asof(99) == {1: "b", 2: "x", 3: "y"}
        # compaction expires time-travel INTO the folded range but
        # preserves it at/after the compacted epoch
        sink.compact(spark, keep_last=1)  # 0,1 -> epoch=1
        assert asof(1) == {1: "b", 2: "x"}
        assert asof(2) == {1: "b", 2: "x", 3: "y"}
        with pytest.raises(ValueError, match="expired"):
            sink.read_asof(spark, 0)


class TestEnrichedStream:
    def test_end_to_end_matches_batch(self, spark, cfg):
        query, sink = start_enriched_query(spark, cfg)
        query.awaitTermination(300)
        out = sink.read_merged(spark)
        got = {
            (r["conv_id"], r["turn_idx"]): (
                r["phishing_score"], r["sha1"], tuple(r["targets"]), r["with_phishing"]
            )
            for r in out.collect()
        }
        batch = enrich_turns(
            spark.read.parquet(cfg.input_path), dedup_flag=False
        ).collect()
        exp = {
            (r["conv_id"], r["turn_idx"]): (
                r["phishing_score"], r["sha1"], tuple(r["targets"]), r["with_phishing"]
            )
            for r in batch
        }
        assert got == exp  # per-turn equality under (conv_id, turn_idx) keys
        assert "json" in out.columns and out.where(F.col("json").isNull()).count() == 0

    def test_exactly_once_on_restart_and_incremental(self, spark, turns_input, tmp_path):
        # private copy of the input dir — this test appends files
        import shutil

        inp = str(tmp_path / "in")
        shutil.copytree(turns_input, inp)
        cfg = PipelineConfig(input_path=inp, work_dir=str(tmp_path / "w"))
        query, sink = start_enriched_query(spark, cfg)
        query.awaitTermination(300)
        n1 = sink.read_merged(spark).count()
        total_input = spark.read.parquet(cfg.input_path).count()
        assert n1 == total_input

        # restart with same checkpoint, no new data → zero new rows
        query2, sink2 = start_enriched_query(spark, cfg)
        query2.awaitTermination(300)
        assert sink2.read_merged(spark).count() == n1

        # append a new input file with event times AHEAD of the
        # checkpointed watermark → exactly the new rows appear
        extra = generate_turns(spark, n_convs=N_CONVS + 5, turns_per_conv=8).where(
            F.col("conv_id") >= f"conv_{N_CONVS:06d}"
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
        n_extra = extra.count()
        extra.coalesce(1).write.mode("append").parquet(cfg.input_path)
        query3, sink3 = start_enriched_query(spark, cfg)
        query3.awaitTermination(300)
        assert sink3.read_merged(spark).count() == n1 + n_extra

        # a file whose event times are entirely BEHIND the watermark is
        # dropped by the stateful operators (late data, by design)
        stale = generate_turns(spark, n_convs=N_CONVS + 8, turns_per_conv=8).where(
            F.col("conv_id") >= f"conv_{N_CONVS + 5:06d}"
        ).withColumn("ts", F.col("ts") - F.expr("INTERVAL 365 DAYS"))
        stale.coalesce(1).write.mode("append").parquet(cfg.input_path)
        query4, sink4 = start_enriched_query(spark, cfg)
        query4.awaitTermination(300)
        assert sink4.read_merged(spark).count() == n1 + n_extra
        # ... and the drop is counted in that epoch's manifest line
        last = max(sink4.committed_epochs())
        assert sink4.manifest_entries()[last]["late_rows"] == stale.count() > 0

    def test_dedup_flag_matches_batch_oracle(self, spark, cfg):
        """One-epoch drain: the streaming flag equals the batch
        with_dedup_flag window rank on every (conv_id, turn_idx)."""
        from spamscope_spark.operators.enrich import with_dedup_flag

        query, sink = start_enriched_query(spark, cfg)
        query.awaitTermination(300)
        assert sink.committed_epochs() == {0}
        got = {
            (r["conv_id"], r["turn_idx"]): r["is_filtered"]
            for r in sink.read_merged(spark).collect()
        }
        raw = spark.read.parquet(cfg.input_path).withColumn(
            "sha1", F.sha1(F.coalesce(F.col("text"), F.lit("")))
        )
        exp = {
            (r["conv_id"], r["turn_idx"]): r["is_filtered"]
            for r in with_dedup_flag(raw).collect()
        }
        assert got == exp and any(exp.values())

    def test_late_row_boundary_is_the_watermark(self, spark, turns_input, tmp_path):
        """Rows at the carried watermark (max ts - delay) are dropped as
        late; a row one second past it is kept."""
        import shutil

        inp = str(tmp_path / "in")
        shutil.copytree(turns_input, inp)
        cfg = PipelineConfig(input_path=inp, work_dir=str(tmp_path / "w"))
        query, sink = start_enriched_query(spark, cfg)
        query.awaitTermination(300)
        raw = spark.read.parquet(inp)
        wm = raw.agg(F.max("ts")).first()[0] - pd.Timedelta(hours=4)
        edge = (
            raw.limit(3)
            .withColumn("conv_id", F.lit("edge"))
            .withColumn("turn_idx", F.monotonically_increasing_id().cast("int"))
            .withColumn(
                "ts",
                F.when(F.col("turn_idx") == 0, F.lit(wm))
                .when(F.col("turn_idx") == 1, F.lit(wm + pd.Timedelta(seconds=1)))
                .otherwise(F.lit(wm - pd.Timedelta(seconds=1))),
            )
        )
        assert sorted(r["turn_idx"] for r in edge.collect()) == [0, 1, 2]
        edge.coalesce(1).write.mode("append").parquet(inp)
        query, sink = start_enriched_query(spark, cfg)
        query.awaitTermination(300)
        kept = sink.read_merged(spark).where(F.col("conv_id") == "edge")
        assert [r["turn_idx"] for r in kept.collect()] == [1]

    def test_dedup_flag_state_spans_batches(self, spark, cfg):
        cfg.max_files_per_trigger = 1  # force multiple microbatches
        query, sink = start_enriched_query(spark, cfg)
        query.awaitTermination(300)
        out = sink.read_merged(spark)
        # duplicates exist across batches; exactly one row per distinct
        # sha1 must be unflagged (the global first-seen)
        agg = (
            out.groupBy("sha1")
            .agg(
                F.sum((~F.col("is_filtered")).cast("long")).alias("n_first"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        assert all(r["n_first"] == 1 for r in agg)
        assert any(r["n"] > 1 for r in agg)  # fixture has cross-batch dups


def _neardup_counts(turns) -> dict:
    """Per session, in (ts, turn_idx) order: a turn that is not an exact
    sha1 repeat of an earlier turn of its session counts as a near-dup
    when its signature's bigram Jaccard is >= NEARDUP_SIM against any of
    the session's last MAX_SIGS signatures. A plain restatement of the
    rule, independent of session_state's fold."""
    from spamscope_spark.streaming.session_state import MAX_SIGS, NEARDUP_SIM

    def grams(sig):
        return {sig[i : i + 2] for i in range(max(1, len(sig) - 1))}

    by_session: dict = {}
    for r in turns:
        by_session.setdefault(r["session_id"], []).append(r)
    counts = {}
    for sid, rows in by_session.items():
        seen, sigs, n = set(), [], 0
        for r in sorted(rows, key=lambda r: (r["ts"], r["turn_idx"])):
            repeat = bool(r["sha1"]) and r["sha1"] in seen
            if r["sha1"]:
                seen.add(r["sha1"])
            sig = r["shingle_sig"]
            if sig:
                g = grams(sig)
                if not repeat and any(
                    len(g & grams(p)) / len(g | grams(p)) >= NEARDUP_SIM
                    for p in sigs[-MAX_SIGS:]
                ):
                    n += 1
                sigs.append(sig)
        counts[sid] = n
    return counts


class TestStatefulSessions:
    COLS = (
        "session_start", "session_end", "n_turns", "n_user", "n_assistant",
        "n_tool", "n_system", "n_tool_calls", "max_phishing_score",
    )

    def _closed_batch_sessions(self, spark, cfg):
        """Batch oracle: session_features over the same enriched input.
        Streaming emits only *closed* sessions (a later session exists
        in the same conv), so return that subset, and every batch
        session id."""
        from spamscope_spark.operators.sessionize import session_features

        batch = session_features(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            gap_s=cfg.gap_s,
        ).collect()
        last_seq = {}
        for r in batch:
            last_seq[r["conv_id"]] = max(last_seq.get(r["conv_id"], -1), r["session_seq"])
        closed = {
            r["session_id"]: tuple(r[c] for c in self.COLS)
            for r in batch
            if r["session_seq"] < last_seq[r["conv_id"]]
        }
        return closed, {r["session_id"] for r in batch}

    def test_sessions_match_batch_closed_sessions(self, spark, cfg):
        from spamscope_spark.operators.sessionize import with_session_ids

        # the fixture's 8-word texts are too short for near-dup
        # signatures: give conv_000003 a tripled copy of each turn 1 s
        # later and that copy plus " ok" 2 s later, in the same session
        src = spark.read.parquet(cfg.input_path)
        conv3 = src.where(F.col("conv_id") == "conv_000003")
        tripled = F.concat_ws(" ", "text", "text", "text")
        extra = [
            conv3.select(
                "conv_id",
                (F.col("turn_idx") + 1000 * k).alias("turn_idx"),
                "role",
                F.concat(tripled, F.lit(suffix)).alias("text"),
                "tool",
                (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
            )
            for k, suffix in ((1, ""), (2, " ok"))
        ]
        cfg.input_path = os.path.join(cfg.work_dir, "turns_with_neardups")
        src.unionByName(extra[0]).unionByName(extra[1]).write.parquet(cfg.input_path)

        query, sink = start_session_query(spark, cfg)
        query.awaitTermination(300)
        rows = sink.read_merged(spark).collect()
        got = {r["session_id"]: tuple(r[c] for c in self.COLS) for r in rows}
        assert len(got) > 0
        exp, batch_ids = self._closed_batch_sessions(spark, cfg)
        for sid, vals in exp.items():
            assert got.get(sid) == vals, sid
        # streaming may additionally contain nothing beyond batch's sessions
        assert set(got) <= batch_ids

        turns = with_session_ids(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            gap_s=cfg.gap_s,
        ).select("session_id", "ts", "turn_idx", "sha1", "shingle_sig")
        want = _neardup_counts(turns.collect())
        got_neardup = {r["session_id"]: r["n_neardup_turns"] for r in rows}
        assert got_neardup == {sid: want[sid] for sid in got_neardup}
        assert any(got_neardup.values())

    def test_sessions_span_epochs_and_a_restart(self, spark, turns_input, tmp_path):
        """The fixture split by ts into 4 chronological files, one file
        per batch: state carries across epochs and across a restart from
        the same checkpoint. Each split point falls inside a session of
        a hot conversation, so sessions straddle every epoch boundary."""
        src = spark.read.parquet(turns_input)
        hot = sorted(
            (r["turn_idx"], r["ts"])
            for r in src.where(F.col("conv_id") == "conv_000000").collect()
        )
        cuts = [hot[8 * k + 4][1] for k in (2, 40, 80)]
        bounds = [None, *cuts, None]
        parts = []
        for lo, hi in zip(bounds, bounds[1:]):
            part = src
            if lo is not None:
                part = part.where(F.col("ts") >= F.lit(lo))
            if hi is not None:
                part = part.where(F.col("ts") < F.lit(hi))
            parts.append(part)

        def drain(c):
            q, sink = start_session_query(spark, c)
            q.awaitTermination(300)
            return q, sink

        resumed = PipelineConfig(
            input_path=str(tmp_path / "in"),
            work_dir=str(tmp_path / "resumed"),
            max_files_per_trigger=1,
        )
        for part in parts[:2]:
            part.coalesce(1).write.mode("append").parquet(resumed.input_path)
        q, _ = drain(resumed)
        assert sum(p.numInputRows > 0 for p in q.recentProgress) == 2
        for part in parts[2:]:
            part.coalesce(1).write.mode("append").parquet(resumed.input_path)
        q, resumed_sink = drain(resumed)
        # the restart read only the appended files, one batch each
        assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [
            part.count() for part in parts[2:]
        ]

        whole = PipelineConfig(
            input_path=resumed.input_path,
            work_dir=str(tmp_path / "whole"),
            max_files_per_trigger=1,
        )
        _, whole_sink = drain(whole)

        def by_id(sink):
            return {r["session_id"]: r.asDict() for r in sink.read_merged(spark).collect()}

        got = by_id(resumed_sink)
        assert got and got == by_id(whole_sink)
        for cut in cuts:
            assert any(
                r["session_start"] < cut <= r["session_end"] for r in got.values()
            ), cut
        exp, batch_ids = self._closed_batch_sessions(spark, resumed)
        assert {sid: tuple(got[sid][c] for c in self.COLS) for sid in exp} == exp
        assert set(got) <= batch_ids

    def test_within_conv_dup_counting(self, spark, cfg):
        """n_duplicate_turns is the session's rows minus its distinct
        texts (sha1): exact while a session holds fewer than MAX_SEEN
        distinct texts, which every session here does."""
        from spamscope_spark.operators.sessionize import with_session_ids
        from spamscope_spark.streaming.session_state import MAX_SEEN

        # repeat conv_000003's texts 1 s after each of its turns, inside
        # the same session
        src = spark.read.parquet(cfg.input_path)
        rep = src.where(F.col("conv_id") == "conv_000003").select(
            "conv_id",
            (F.col("turn_idx") + 1000).alias("turn_idx"),
            "role",
            "text",
            "tool",
            (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("ts"),
        )
        cfg.input_path = os.path.join(cfg.work_dir, "turns_with_repeats")
        src.unionByName(rep).write.parquet(cfg.input_path)

        query, sink = start_session_query(spark, cfg)
        query.awaitTermination(300)
        got = {
            r["session_id"]: r["n_duplicate_turns"]
            for r in sink.read_merged(spark).collect()
        }
        assert got
        sessions = with_session_ids(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            gap_s=cfg.gap_s,
        )
        exp = {
            r["session_id"]: (r["n"] - r["n_sha1"], r["n_sha1"])
            for r in sessions.groupBy("session_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("sha1").alias("n_sha1"),
            )
            .collect()
        }
        assert all(exp[sid][1] < MAX_SEEN for sid in got)
        assert {sid: exp[sid][0] for sid in got} == got
        assert any(got.values())

    @staticmethod
    def _drain_epochs(spark, tmp_path, epochs):
        """Drain one input file per epoch, each a list of user turns
        (conv_id, turn_idx, text, ts); returns the sessions sink."""
        cfg = PipelineConfig(
            input_path=str(tmp_path / "in"),
            work_dir=str(tmp_path / "w"),
            max_files_per_trigger=1,
        )
        for rows in epochs:
            spark.createDataFrame(
                [(c, i, "user", text, None, ts) for c, i, text, ts in rows],
                TURNS_SCHEMA,
            ).coalesce(1).write.mode("append").parquet(cfg.input_path)
        q, sink = start_session_query(spark, cfg)
        q.awaitTermination(300)
        assert len(q.recentProgress) == len(epochs)
        return sink

    def test_close_boundary_is_the_next_watermark(self, spark, tmp_path):
        """A session with session_end + gap == the epoch's next watermark
        (max ts - delay) is emitted in that epoch; one ending 1 µs later
        stays open."""
        gap = dt.timedelta(seconds=PipelineConfig("", "").gap_s)
        t0 = dt.datetime(2024, 1, 1)
        sink = self._drain_epochs(spark, tmp_path, [
            [("a", 0, "x", t0), ("b", 0, "y", t0 + dt.timedelta(microseconds=1))],
            [("z", 0, "z", t0 + gap + dt.timedelta(hours=4))],
        ])
        assert [sink.manifest_entries()[e]["rows"] for e in (0, 1)] == [0, 1]
        assert [r["session_id"] for r in sink.read_merged(spark).collect()] == ["a#0"]

    def test_duplicates_past_max_seen(self, spark, tmp_path):
        """One session crosses MAX_SEEN distinct texts in its first epoch
        and repeats old and new texts in its second. The count follows
        session_state's rule: exact within an epoch, and across epochs
        against the session's MAX_SEEN newest distinct texts."""
        from spamscope_spark.streaming.session_state import MAX_SEEN

        n = MAX_SEEN + 88
        first = [f"text {i}" for i in range(n)] + ["text 0"]
        second = ["text 0", f"text {n - 1}", "text 100", "text 50", "text 0"]

        def expected(epochs):
            carried, dups = [], 0
            for texts in epochs:
                known, firsts = set(carried), []
                for t in texts:
                    if t in known:
                        dups += 1
                    else:
                        known.add(t)
                        firsts.append(t)
                carried = (carried + firsts)[-MAX_SEEN:]
            return dups

        t0 = dt.datetime(2024, 1, 1)
        texts = first + second
        rows = [("c", i, t, t0 + dt.timedelta(seconds=i)) for i, t in enumerate(texts)]
        # a turn a day later opens a second session, closing the first
        rows.append(("c", len(texts), "later", t0 + dt.timedelta(days=1)))
        sink = self._drain_epochs(spark, tmp_path, [rows[: len(first)], rows[len(first) :]])
        (got,) = sink.read_merged(spark).collect()
        assert (got["session_seq"], got["n_turns"]) == (0, len(texts))
        assert got["n_duplicate_turns"] == expected([first, second]) == 4


class TestWindowedRates:
    def test_windows_match_batch_and_replay_idempotent(self, spark, cfg):
        query, sink = start_window_query(spark, cfg)
        query.awaitTermination(300)
        got = {
            (r["window_start"], r["conv_id"]): (
                r["n_turns"], r["n_tool_calls"], r["n_user"], r["max_phishing_score"]
            )
            for r in sink.read_merged(spark).collect()
        }
        assert len(got) > 0
        # batch oracle over the same input; streaming append-mode emits
        # only windows the watermark has closed → subset with equal values
        batch = windowed_rates(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            window_s=cfg.window_s,
        ).collect()
        exp = {
            (r["window_start"], r["conv_id"]): (
                r["n_turns"], r["n_tool_calls"], r["n_user"], r["max_phishing_score"]
            )
            for r in batch
        }
        for k, v in got.items():
            assert exp[k] == v, k
        # every window older than (max ts - watermark) must have been emitted
        max_ts = max(r["window_start"] for r in batch)
        import datetime

        closed_before = max_ts - datetime.timedelta(hours=5)
        for k in exp:
            if k[0] < closed_before:
                assert k in got, k
        # restart with the same checkpoint: no duplicates
        query2, sink2 = start_window_query(spark, cfg)
        query2.awaitTermination(300)
        assert sink2.read_merged(spark).count() == len(got)

    def test_sliding_windows_match_batch(self, spark, cfg):
        """Sliding variant: each turn belongs to window/slide windows;
        emitted closed-window values must equal the batch computation."""
        cfg.slide_s = cfg.window_s // 2
        query, sink = start_window_query(spark, cfg)
        query.awaitTermination(300)
        got = {
            (r["window_start"], r["conv_id"]): (
                r["n_turns"], r["n_tool_calls"], r["n_user"], r["max_phishing_score"]
            )
            for r in sink.read_merged(spark).collect()
        }
        assert len(got) > 0
        batch = windowed_rates(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            window_s=cfg.window_s,
            slide_s=cfg.slide_s,
        ).collect()
        exp = {
            (r["window_start"], r["conv_id"]): (
                r["n_turns"], r["n_tool_calls"], r["n_user"], r["max_phishing_score"]
            )
            for r in batch
        }
        for k, v in got.items():
            assert exp[k] == v, k
        # overlapping windows: strictly more window rows than turns/window
        tumbling = windowed_rates(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            window_s=cfg.window_s,
        ).count()
        assert len(exp) > tumbling


class TestStreamStreamJoin:
    def test_pairs_match_batch_join(self, spark, cfg):
        query, sink = start_join_query(spark, cfg)
        query.awaitTermination(300)
        cols = ("conv_id", "turn_idx", "resp_turn_idx", "resp_ts", "resp_text")
        got = {
            tuple(r[c] for c in cols) for r in sink.read_merged(spark).collect()
        }
        batch = tool_response_join(
            spark.read.parquet(cfg.input_path), band_s=cfg.band_s
        ).where(F.col("resp_turn_idx").isNotNull())
        exp = {tuple(r[c] for c in cols) for r in batch.collect()}
        assert got == exp
        # replay idempotence
        query2, sink2 = start_join_query(spark, cfg)
        query2.awaitTermination(300)
        assert len(got) == sink2.read_merged(spark).count()


    @pytest.mark.parametrize(
        "epochs",
        [[[0, 1], [2]], [[0, 1, 2]], [[0, 2], [1]]],
        ids=["earlier_first", "one_epoch", "later_first"],
    )
    def test_two_answers_keep_the_earliest(self, spark, tmp_path, epochs):
        """One invocation answered twice inside its band (turn 1 at +60 s,
        turn 2 at +120 s), delivered one input file per epoch: the merged
        sink holds the earliest answer, as the batch join does."""
        t0 = dt.datetime(2024, 1, 1)
        turns = {
            0: ("c", 0, "assistant", "call", "search", t0),
            1: ("c", 1, "tool", "first", "search", t0 + dt.timedelta(seconds=60)),
            2: ("c", 2, "tool", "second", "search", t0 + dt.timedelta(seconds=120)),
        }
        cfg = PipelineConfig(
            input_path=str(tmp_path / "in"),
            work_dir=str(tmp_path / "w"),
            max_files_per_trigger=1,
        )
        for idxs in epochs:
            spark.createDataFrame([turns[i] for i in idxs], TURNS_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(cfg.input_path)
        query, sink = start_join_query(spark, cfg)
        query.awaitTermination(300)
        cols = ("conv_id", "turn_idx", "resp_turn_idx", "resp_ts", "resp_text")
        got = [tuple(r[c] for c in cols) for r in sink.read_merged(spark).collect()]
        batch = tool_response_join(spark.read.parquet(cfg.input_path), band_s=cfg.band_s)
        exp = [tuple(r[c] for c in cols) for r in batch.collect()]
        assert got == exp == [("c", 0, 1, turns[1][5], "first")]


class TestToolTimeoutJoin:
    def test_unanswered_calls_emitted_after_watermark(self, spark, cfg):
        """Timeouts of the tool-pair fold: an invocation with no response
        in (ts, ts+band] is emitted once the watermark passes ts + band
        — 'no response' becomes an event instead of a leaked buffer (the
        reference's JsonMaker failure mode)."""
        import datetime as dt

        from spamscope_spark.streaming.pipeline import start_timeout_query

        query, sink = start_timeout_query(spark, cfg)
        query.awaitTermination(300)
        got = {
            (r["conv_id"], r["turn_idx"])
            for r in sink.read_merged(spark).collect()
        }
        raw = spark.read.parquet(cfg.input_path)
        unmatched = tool_response_join(raw, band_s=cfg.band_s).where(
            F.col("resp_turn_idx").isNull()
        )
        exp_all = {(r["conv_id"], r["turn_idx"]) for r in unmatched.collect()}
        assert exp_all, "fixture must contain unanswered tool calls"
        # soundness: every emitted timeout is truly unanswered
        assert got <= exp_all
        # completeness: every unanswered call that the final watermark
        # could have closed (ts + band + watermark safely before the
        # stream's max event time on BOTH sides) must have been emitted
        wm_txt = cfg.watermark.split()
        assert wm_txt[1].startswith("hour")
        wm_s = int(wm_txt[0]) * 3600
        inv_max = (
            raw.where((F.col("role") == "assistant") & F.col("tool").isNotNull())
            .agg(F.max("ts"))
            .first()[0]
        )
        resp_max = (
            raw.where((F.col("role") == "tool") & F.col("tool").isNotNull())
            .agg(F.max("ts"))
            .first()[0]
        )
        horizon = min(inv_max, resp_max) - dt.timedelta(
            seconds=wm_s + cfg.band_s + 60
        )
        must = {
            (r["conv_id"], r["turn_idx"])
            for r in unmatched.where(F.col("ts") < F.lit(horizon)).collect()
        }
        assert must, "fixture must contain watermark-closable timeouts"
        assert must <= got
        # exactly-once: a restart from the same checkpoint adds nothing
        query2, sink2 = start_timeout_query(spark, cfg)
        query2.awaitTermination(300)
        assert {
            (r["conv_id"], r["turn_idx"])
            for r in sink2.read_merged(spark).collect()
        } == got


# The snapshot folds over one turns schema: each case makes (fold, output
# sink, state sink).
_FOLD_ROWS = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, phishing_score int, sha1 string, shingle_sig string"
)
_FOLD_T0 = pd.Timestamp("2026-03-01 00:00:00")


def _make_fold(kind, tmp_path, watermark="4 hours"):
    from spamscope_spark.streaming.cep_state import match_sequence_fold
    from spamscope_spark.streaming.dedup_state import dedup_fold
    from spamscope_spark.streaming.pair_state import tool_pair_fold
    from spamscope_spark.streaming.session_state import session_fold

    sink = IdempotentSink(str(tmp_path / "out"), keys=["conv_id", "turn_idx"])
    state = IdempotentSink(str(tmp_path / "state"), keys=["conv_id"])
    role = F.col("role")
    fold = {
        "dedup": lambda: dedup_fold(sink, state, watermark, 6 * 3600 * 1000),
        "sessions": lambda: session_fold(sink, state, watermark, 1800),
        "tool_pairs": lambda: tool_pair_fold(sink, state, watermark, 600),
        "tool_timeouts": lambda: tool_pair_fold(sink, state, watermark, 600, True),
        "cep": lambda: match_sequence_fold(
            sink, state, watermark, key="conv_id", ts="ts", id_col="turn_idx",
            start_pred=role == "assistant", mid_pred=role == "user",
            end_pred=role == "tool", within_s=600,
        ),
    }[kind]()
    return fold, sink, state


def _fold_batch(spark, rows):
    """rows: (conv_id, turn_idx, role, offset after _FOLD_T0 as a Timedelta)"""
    return spark.createDataFrame(
        [
            (c, i, role, f"{c}{i}", None if role == "user" else "t",
             (_FOLD_T0 + off).to_pydatetime(), 0, f"{c}{i}", None)
            for c, i, role, off in rows
        ],
        _FOLD_ROWS,
    )


def _fold_keys(spark, sinks, epoch):
    """The conv_ids in `epoch` of each sink in `sinks`."""
    return {
        r["conv_id"]
        for sink in sinks
        for r in sink.read_epoch(spark, epoch).select("conv_id").collect()
    }


class TestToolPairFold:
    """The tool-pair fold (pair_state.tool_pair_fold) behind the join and
    timeout queries."""

    def test_pairs_and_timeouts_span_epochs_and_a_restart(
        self, spark, turns_input, tmp_path
    ):
        """The fixture split by ts into 4 chronological files, one file
        per batch. Each cut falls between a hot conversation's invocation
        and its response, so pairs straddle every epoch boundary. Pairs
        and timeouts drained in two runs from one checkpoint equal an
        uninterrupted drain and the batch join."""
        from spamscope_spark.streaming.pipeline import start_timeout_query

        src = spark.read.parquet(turns_input)
        hot = sorted(
            (r["turn_idx"], r["ts"])
            for r in src.where(F.col("conv_id") == "conv_000000").collect()
        )
        # turn 8k+1 invokes a tool, turn 8k+2 answers it 30 s later
        cuts = [hot[8 * k + 2][1] for k in (2, 40, 80)]
        bounds = [None, *cuts, None]
        parts = []
        for lo, hi in zip(bounds, bounds[1:]):
            part = src
            if lo is not None:
                part = part.where(F.col("ts") >= F.lit(lo))
            if hi is not None:
                part = part.where(F.col("ts") < F.lit(hi))
            parts.append(part)

        def drain(c):
            out = []
            for start in (start_join_query, start_timeout_query):
                q, sink = start(spark, c)
                q.awaitTermination(300)
                out.append((q, sink))
            return out

        resumed = PipelineConfig(
            input_path=str(tmp_path / "in"),
            work_dir=str(tmp_path / "resumed"),
            max_files_per_trigger=1,
        )
        for part in parts[:2]:
            part.coalesce(1).write.mode("append").parquet(resumed.input_path)
        for q, _ in drain(resumed):
            assert [p.numInputRows > 0 for p in q.recentProgress] == [True, True]
        for part in parts[2:]:
            part.coalesce(1).write.mode("append").parquet(resumed.input_path)
        (qp, pairs), (qt, timeouts) = drain(resumed)
        # the restart read only the appended files, one batch each
        for q in (qp, qt):
            assert [p.numInputRows for p in q.recentProgress] == [
                part.count() for part in parts[2:]
            ]

        whole = PipelineConfig(
            input_path=resumed.input_path,
            work_dir=str(tmp_path / "whole"),
            max_files_per_trigger=1,
        )
        (_, whole_pairs), (_, whole_timeouts) = drain(whole)

        def rows(sink):
            return {tuple(r) for r in sink.read_merged(spark).collect()}

        got_pairs, got_timeouts = rows(pairs), rows(timeouts)
        assert got_pairs == rows(whole_pairs)
        assert got_timeouts == rows(whole_timeouts)

        raw = spark.read.parquet(resumed.input_path)
        batch = tool_response_join(raw, band_s=resumed.band_s)
        pair_cols = [
            "conv_id", "tool", "turn_idx", "ts", "resp_turn_idx", "resp_ts", "resp_text",
        ]
        exp_pairs = {
            tuple(r)
            for r in batch.where(F.col("resp_turn_idx").isNotNull())
            .select(*pair_cols).collect()
        }
        assert got_pairs == exp_pairs
        for cut in cuts:
            assert any(r[3] < cut <= r[5] for r in got_pairs), cut
        # timed out: unanswered, and ts + band at or below the final
        # watermark (max ts - delay)
        final_wm = raw.agg(F.max("ts")).first()[0] - dt.timedelta(hours=4)
        exp_timeouts = {
            tuple(r)
            for r in batch.where(
                F.col("resp_turn_idx").isNull()
                & (F.col("ts") <= F.lit(final_wm - dt.timedelta(seconds=resumed.band_s)))
            )
            .select("conv_id", "tool", "turn_idx", "ts").collect()
        }
        assert exp_timeouts and got_timeouts == exp_timeouts

    @staticmethod
    def _keys(spark, sink, epoch, *cols):
        df = spark.read.parquet(os.path.join(sink.data_dir, f"epoch={epoch}"))
        return sorted(tuple(r[c] for c in ("conv_id", "turn_idx", *cols))
                      for r in df.collect())

    def test_snapshot_bounds(self, spark, tmp_path):
        """With the next watermark at T0 + band, an invocation at T0
        (ts + band == watermark) leaves the snapshot and, unanswered,
        times out; one at T0 + 1 µs stays and is answered in the next
        epoch. A response at the watermark leaves, one 1 µs past it
        stays."""
        us, band = pd.Timedelta(microseconds=1), pd.Timedelta(seconds=600)
        epoch0 = _fold_batch(spark, [
            ("i", 0, "assistant", pd.Timedelta(0)),
            ("j", 0, "assistant", us),
            ("r", 1, "tool", band),
            ("s", 1, "tool", band + us),
            ("z", 0, "user", band + pd.Timedelta(hours=4)),
        ])
        epoch1 = _fold_batch(spark, [("j", 1, "tool", band + us)])
        fold, sink, open_sink = _make_fold("tool_pairs", tmp_path / "pairs")
        tfold, tsink, _ = _make_fold("tool_timeouts", tmp_path / "timeouts")
        for f in (fold, tfold):
            f(epoch0, 0)
        assert self._keys(spark, open_sink, 0) == [("j", 0), ("s", 1)]
        assert self._keys(spark, sink, 0) == []
        assert self._keys(spark, tsink, 0) == [("i", 0)]
        for f in (fold, tfold):
            f(epoch1, 1)
        assert self._keys(spark, sink, 1, "resp_turn_idx") == [("j", 0, 1)]
        assert self._keys(spark, tsink, 1) == []


_FOLDS = ["dedup", "sessions", "tool_pairs", "cep"]


@pytest.mark.parametrize(
    "kind, rows_out, rows_kept",
    [("dedup", 2, 2), ("sessions", 0, 1), ("tool_pairs", 1, 2), ("cep", 0, 2)],
    ids=_FOLDS,
)
def test_empty_epoch_before_the_first_snapshot(spark, tmp_path, kind, rows_out, rows_kept):
    """An epoch with no rows and no snapshot below it (an empty first
    input file) commits an empty epoch and the 0 watermark; the next
    epoch folds from it."""
    fold, sink, state = _make_fold(kind, tmp_path)
    fold(_fold_batch(spark, []), 0)
    assert sink.manifest_entries()[0] == {"epoch": 0, "rows": 0, "late_rows": 0}
    assert state.manifest_entries()[0]["watermark_ms"] == 0
    s = pd.Timedelta(seconds=1)
    fold(_fold_batch(spark, [("a", 0, "assistant", s), ("a", 1, "tool", 2 * s)]), 1)
    assert sink.manifest_entries()[1] == {"epoch": 1, "rows": rows_out, "late_rows": 0}
    assert _fold_keys(spark, [sink], 1) == ({"a"} if rows_out else set())
    assert state.manifest_entries()[1]["rows"] == rows_kept
    assert state.manifest_entries()[1]["watermark_ms"] == int(
        (_FOLD_T0 + 2 * s - pd.Timedelta(hours=4)).timestamp() * 1000
    )


@pytest.mark.parametrize("kind", _FOLDS)
def test_late_row_boundary_is_the_watermark(spark, tmp_path, kind):
    """A row at the snapshot's watermark is dropped and counted once in
    late_rows; a row 1 s past it is kept."""
    h, s = pd.Timedelta(hours=1), pd.Timedelta(seconds=1)
    fold, sink, state = _make_fold(kind, tmp_path)
    fold(_fold_batch(spark, [("a", 0, "assistant", 10 * h)]), 0)
    wm = _FOLD_T0 + 6 * h
    assert state.manifest_entries()[0]["watermark_ms"] == int(wm.timestamp() * 1000)
    # b's invocation sits at the watermark, c's one second past it
    fold(_fold_batch(spark, [
        ("b", 0, "assistant", 6 * h), ("c", 0, "assistant", 6 * h + s),
    ]), 1)
    assert sink.manifest_entries()[1]["late_rows"] == 1
    assert _fold_keys(spark, [sink, state], 1) == {"a", "c"}


class TestConfigHotReload:
    def test_whitelist_change_between_microbatches(self, spark, tmp_path):
        """The reference re-reads keyword/whitelist YAML every tick
        tuple (abstracts.py:83-85); here editing the whitelist file
        between microbatches must change the NEXT batch's scoring
        without restarting the stream (urls_body bit = 1<<1)."""
        import datetime as dt

        from spamscope_spark.configload import HotReloadConfig
        from spamscope_spark.datagen import SUBJECT_KEYS, TARGET_KEYS
        from spamscope_spark.streaming.pipeline import start_enriched_query

        wl_file = tmp_path / "whitelist.yml"
        wl_file.write_text("[]\n")
        src = HotReloadConfig(
            target_sources={"t": TARGET_KEYS},
            subject_sources={"s": list(SUBJECT_KEYS)},
            whitelist_sources={"w": {"path": str(wl_file)}},
        )
        in_dir = tmp_path / "in"
        text = "see http://secure-hampton.info/payment for the payment"
        ts = dt.datetime(2024, 3, 1, 0, 0, 0)
        rows1 = [("c1", 0, "user", text, None, ts)]
        rows2 = [("c1", 1, "user", text, None, ts + dt.timedelta(seconds=30))]
        schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(str(in_dir))

        cfg = PipelineConfig(input_path=str(in_dir), work_dir=str(tmp_path / "wd"))
        q, sink = start_enriched_query(spark, cfg, config_source=src)
        q.awaitTermination(300)

        # batch 2: whitelist now covers the domain; new input file
        wl_file.write_text("- secure-hampton.info\n")
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(str(in_dir))
        q, sink = start_enriched_query(spark, cfg, config_source=src)
        q.awaitTermination(300)

        rows = sink.read_merged(spark).collect()
        scores = {r["turn_idx"]: r["phishing_score"] for r in rows}
        assert scores[0] & 2, scores  # urls_body bit set pre-change
        assert not (scores[1] & 2), scores  # dropped by the reloaded whitelist
        assert scores[0] & 1 and scores[1] & 1  # mail_body bit unaffected
        # same text twice: the second turn is flagged in the same output
        assert {r["turn_idx"]: r["is_filtered"] for r in rows} == {0: False, 1: True}


class TestPriorityIngestion:
    def test_epoch_rows_ordered_within_batch(self, spark, cfg, tmp_path):
        """priority_order=True approximates the spout's (priority,
        ctime) queue: each epoch's parquet holds rows sorted by
        (ts, conv_id, turn_idx); cross-batch ordering is the documented
        gap (SURVEY §7 risk 6)."""
        import glob

        import pyarrow.parquet as pq

        cfg.priority_order = True
        q, sink = start_enriched_query(spark, cfg)
        q.awaitTermination(300)
        epochs = sorted(glob.glob(os.path.join(sink.data_dir, "epoch=*")))
        assert epochs
        for ep in epochs:
            rows = []
            for f in sorted(glob.glob(os.path.join(ep, "part-*.parquet"))):
                t = pq.read_table(f, columns=["ts", "conv_id", "turn_idx"])
                rows.extend(zip(
                    t.column("ts").to_pylist(),
                    t.column("conv_id").to_pylist(),
                    t.column("turn_idx").to_pylist(),
                ))
            assert rows == sorted(rows), ep


class TestQueueSink:
    def test_split_and_exactly_once(self, spark, cfg):
        """OutputRedis analog: turns queue carries every enriched row
        as a JSON string; tool invocations are promoted to tool_calls
        with parent keys (the mail/attachment split); a replayed run
        adds nothing."""
        import json as _json

        from spamscope_spark.streaming.pipeline import start_queue_query

        q, sink = start_queue_query(spark, cfg)
        q.awaitTermination(300)
        turns_q = sink.read_queue(spark, "turns")
        calls_q = sink.read_queue(spark, "tool_calls")
        n_turns, n_calls = turns_q.count(), calls_q.count()
        src = spark.read.parquet(cfg.input_path)
        assert n_turns == src.count()
        assert n_calls == src.where(F.col("tool").isNotNull()).count()
        rec = _json.loads(calls_q.select("value").first()["value"])
        assert {"parent_conv_id", "parent_turn_idx", "tool", "ts", "role"} <= set(rec)
        # a turns message is the enriched sink's json for the same
        # (conv_id, turn_idx), byte for byte, up to the duplicate flag:
        # the queue query carries enriched_stream's is_filtered
        # placeholder (false), the enriched query folds the real flag
        qe, esink = start_enriched_query(spark, cfg)
        qe.awaitTermination(300)
        msgs = turns_q.select(
            F.from_json("value", "conv_id string, turn_idx int").alias("k"), "value"
        )
        got = {
            (r["k"]["conv_id"], r["k"]["turn_idx"]): r["value"]
            for r in msgs.collect()
        }
        enriched = {
            (r["conv_id"], r["turn_idx"]): (r["json"], r["is_filtered"])
            for r in esink.read_merged(spark).collect()
        }
        assert got.keys() == enriched.keys()
        assert any(flag for _, flag in enriched.values())
        for k, (js, flag) in enriched.items():
            if flag:
                js = js.replace('"is_filtered":true', '"is_filtered":false')
            assert got[k] == js, k
        # replay with same checkpoint: no new entries
        q2, sink2 = start_queue_query(spark, cfg)
        q2.awaitTermination(300)
        assert sink2.read_queue(spark, "turns").count() == n_turns
        assert sink2.read_queue(spark, "tool_calls").count() == n_calls

    def test_consumer_stream_round_trip(self, spark, cfg, tmp_path):
        """RabbitMQ-client analog: a consumer STREAM over the committed
        queue segments parses every produced message (JSON → columns),
        and its checkpoint acts as the ack — a second run with the same
        checkpoint consumes nothing new."""
        from spamscope_spark.streaming.pipeline import start_queue_query
        from spamscope_spark.streaming.queue_sink import (
            TOOL_CALLS_SCHEMA,
            read_queue_stream,
        )

        q, sink = start_queue_query(spark, cfg)
        q.awaitTermination(300)

        out_dir = str(tmp_path / "consumed")
        ckpt = str(tmp_path / "consumer_ckpt")
        consumer = read_queue_stream(
            spark, sink.path, "tool_calls",
            schema=TOOL_CALLS_SCHEMA, max_files_per_trigger=2,
        )
        (consumer.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start().awaitTermination(300))

        got = spark.read.parquet(out_dir)
        src = spark.read.parquet(cfg.input_path).where(F.col("tool").isNotNull())
        assert got.count() == src.count()
        # parsed columns, not raw strings — and keys round-trip exactly
        want = {
            (r["conv_id"], r["turn_idx"], r["tool"])
            for r in src.select("conv_id", "turn_idx", "tool").collect()
        }
        have = {
            (r["parent_conv_id"], r["parent_turn_idx"], r["tool"])
            for r in got.collect()
        }
        assert have == want

        # ack semantics: same checkpoint, nothing redelivered
        (read_queue_stream(spark, sink.path, "tool_calls", schema=TOOL_CALLS_SCHEMA)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start().awaitTermination(300))
        assert spark.read.parquet(out_dir).count() == src.count()


class TestCrashBetweenRenames:
    """A write killed between its two renames leaves the old epoch
    directory in trash and the new one in staging. Replaying the epoch
    must give the uncrashed reads and leave no staging or trash dir."""

    @staticmethod
    def _crash_then_replay(monkeypatch, path, write):
        real = os.rename

        def rename(src, dst):
            if os.path.basename(src).startswith("_staging"):
                raise OSError("killed between renames")
            real(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", rename)
            with pytest.raises(OSError, match="killed between renames"):
                write()
        assert any(
            d.startswith("_trash") for _, dirs, _ in os.walk(path) for d in dirs
        )
        write()
        left = [
            os.path.join(root, d)
            for root, dirs, _ in os.walk(path)
            for d in dirs
            if d.startswith(("_staging", "_trash"))
        ]
        assert not left, left

    def test_idempotent_sink(self, spark, tmp_path, monkeypatch):
        sink = IdempotentSink(str(tmp_path / "s"), keys=["k"])
        b1 = spark.createDataFrame([(1, "b"), (3, "c")], "k int, v string")
        sink.process_batch(spark.createDataFrame([(1, "a"), (2, "x")], "k int, v string"), 0)
        sink.process_batch(b1, 1)
        before = sorted(sink.read_merged(spark).collect())
        self._crash_then_replay(
            monkeypatch, sink.path, lambda: sink.process_batch(b1, 1)
        )
        assert sorted(sink.read_merged(spark).collect()) == before
        assert sink.committed_epochs() == {0, 1}

    def test_scd2_dim_sink(self, spark, tmp_path, monkeypatch):
        import datetime as dt

        from spamscope_spark.streaming.scd2_sink import Scd2DimSink

        sink = Scd2DimSink(str(tmp_path / "dim"))
        schema = "conv_id string, risk_tier string, ts timestamp, seq long"
        t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
        b1 = spark.createDataFrame([("c1", "high", t(5), 1)], schema)
        sink.process_batch(
            spark.createDataFrame([("c1", "low", t(0), 0), ("c2", "low", t(1), 0)], schema), 0
        )
        sink.process_batch(b1, 1)
        before = sorted(sink.read_dim(spark).collect())
        self._crash_then_replay(
            monkeypatch, sink.path, lambda: sink.process_batch(b1, 1)
        )
        assert sorted(sink.read_dim(spark).collect()) == before
        assert sink.committed_epochs() == {0, 1}

    def test_queue_sink(self, spark, tmp_path, monkeypatch):
        from spamscope_spark.streaming.queue_sink import QueueSink

        sink = QueueSink(str(tmp_path / "queues"))
        turns = generate_turns(spark, n_convs=2, turns_per_conv=8)
        b1 = turns.where(F.col("conv_id") == "conv_000001")
        sink.process_batch(turns.where(F.col("conv_id") == "conv_000000"), 0)
        sink.process_batch(b1, 1)

        def read():
            return {
                q: sorted(sink.read_queue(spark, q).collect()) for q in sink.queues
            }

        before = read()
        assert all(before.values())
        self._crash_then_replay(
            monkeypatch, sink.path, lambda: sink.process_batch(b1, 1)
        )
        assert read() == before


@pytest.mark.parametrize(
    "start",
    [start_enriched_query, start_session_query, start_join_query],
    ids=["enriched", "sessions", "tool_pairs"],
)
def test_query_is_stateless_with_no_empty_batch(spark, cfg, start):
    """The three queries app.py drains fold their state per epoch in
    foreachBatch (dedup, session and tool-pair folds): none has a state
    operator or runs a no-data batch."""
    cfg.max_files_per_trigger = 1  # several data batches
    query, _sink = start(spark, cfg)
    query.awaitTermination(300)
    progress = query.recentProgress
    assert len(progress) == 2
    assert all(p.stateOperators == [] for p in progress)
    assert all(p.numInputRows > 0 for p in progress)


def _package_sources():
    """(path relative to the package, source text) of every module of
    spamscope_spark."""
    import spamscope_spark

    root = os.path.dirname(spamscope_spark.__file__)
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as f:
                    yield os.path.relpath(path, root), f.read()


def test_epoch_commit_protocol_lives_in_sink_module():
    """Only streaming/sink.py renames or deletes directories and names
    the manifest: every epoch-committed output goes through it."""
    found = [
        (rel, needle)
        for rel, text in _package_sources()
        for needle in ("os.rename(", "shutil.rmtree(", "_manifest.jsonl")
        if needle in text
    ]
    assert {rel for rel, _ in found} == {os.path.join("streaming", "sink.py")}, found


def test_prior_state_is_read_only_through_read_prior():
    """Only streaming/sink.py calls the merged, as-of and below-epoch
    reads: every per-epoch state is found through `read_prior`, and no
    query reads its own output back."""
    found = [
        (rel, needle)
        for rel, text in _package_sources()
        for needle in (".read_merged(", ".read_asof(", ".last_committed(before=")
        if needle in text
    ]
    assert {rel for rel, _ in found} == {os.path.join("streaming", "sink.py")}, found


def test_snapshot_fold_protocol_lives_in_one_module():
    """Only streaming/fold.py observes late rows and watermarks and names
    them in a manifest: every snapshot fold runs through it. No module
    keeps Python keyed state (applyInPandasWithState, GroupState, pickled
    blobs)."""
    found = [
        (rel, needle)
        for rel, text in _package_sources()
        for needle in (
            "Observation(", '"watermark_ms"', '"late_rows"',
            "applyInPandasWithState", "GroupState", "pickle.",
        )
        if needle in text
    ]
    assert sorted(found) == [
        (os.path.join("streaming", "fold.py"), needle)
        for needle in ('"late_rows"', '"watermark_ms"', "Observation(")
    ], found


def test_stream_sources_live_in_two_readers():
    """Only pipeline.read_turns_stream and queue_sink.read_queue_stream
    open a stream: every query reads the turns source, and none tails
    another query's sink."""
    import ast

    found = set()
    for rel, text in _package_sources():
        tree = ast.parse(text)
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "readStream":
                inner = min(
                    (f for f in funcs if f.lineno <= node.lineno <= f.end_lineno),
                    key=lambda f: f.end_lineno - f.lineno,
                    default=None,
                )
                found.add((rel, inner and inner.name))
    assert found == {
        (os.path.join("streaming", "pipeline.py"), "read_turns_stream"),
        (os.path.join("streaming", "queue_sink.py"), "read_queue_stream"),
    }, found


def test_enrichment_lives_in_one_streaming_function():
    """Only one function under streaming/ calls enrich_turns: every
    enriched stream and the enriched query's per-epoch reload build
    enrichment + lineage through it."""
    import ast

    found = []
    for rel, text in _package_sources():
        if not rel.startswith("streaming" + os.sep):
            continue
        tree = ast.parse(text)
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
                isinstance(n, ast.Call)
                and getattr(n.func, "id", getattr(n.func, "attr", None)) == "enrich_turns"
                for n in ast.walk(fn)
            ):
                found.append((rel, fn.name))
    assert len(found) == 1, found


def test_no_module_sets_the_state_store_conf():
    """The state-store provider is the deployment's Spark conf: no
    module, nor app.py or tools/scaling_pair.py, names a
    spark.sql.streaming.stateStore.* key."""
    import ast

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sources = list(_package_sources())
    for name in ("app.py", os.path.join("tools", "scaling_pair.py")):
        with open(os.path.join(repo, name)) as f:
            sources.append((name, f.read()))
    found = [
        (rel, node.value)
        for rel, text in sources
        for node in ast.walk(ast.parse(text))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("spark.sql.streaming.stateStore")
    ]
    assert found == [], found


class TestBuiltinDropDuplicates:
    def test_drop_duplicates_within_watermark_matches_custom_state(
        self, spark, cfg, tmp_path
    ):
        """Spark's built-in dropDuplicatesWithinWatermark across
        microbatches: DROP semantics (vs the enriched query's
        flag-not-drop) — the surviving fingerprints must equal the
        batch `distinct` fingerprints of the same input. The built-in
        bounds state by watermark (fingerprints older than the delay
        are evicted — the bounded-LRU analog of the reference's
        `check_list`), as the flag fold bounds its seen-set by a
        per-bucket cap and TTL; the fixture fits inside the watermark,
        so nothing is evicted here."""
        from spamscope_spark.streaming.pipeline import read_turns_stream

        cfg.max_files_per_trigger = 1  # dedup must span microbatches
        fp = F.sha1(F.coalesce(F.col("text"), F.lit("")))
        survivors = (
            read_turns_stream(spark, cfg)
            .withColumn("fp", fp)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["fp"])
        )
        out_dir = str(tmp_path / "dd_out")
        q = (
            survivors.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "dd_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            r["fp"]
            for r in spark.read.parquet(out_dir).select("fp").collect()
        }

        batch = generate_turns(
            spark, n_convs=N_CONVS, turns_per_conv=TURNS_PER_CONV
        ).withColumn("fp", fp)
        want = {r["fp"] for r in batch.select("fp").distinct().collect()}
        assert got == want
        # and it DROPPED (fewer output rows than input when dups exist)
        n_out = spark.read.parquet(out_dir).count()
        assert n_out == len(want) < batch.count()


ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


@pytest.fixture()
def use_rocksdb(spark):
    """Call it to make the queries started afterwards keep their state
    in RocksDB with changelog checkpointing: it sets the session conf, as
    a deployment's `--conf` does. The old values come back afterwards."""
    old = {k: spark.conf.get(k, None) for k in ROCKSDB_CONF}

    def enable() -> None:
        for k, v in ROCKSDB_CONF.items():
            spark.conf.set(k, v)

    yield enable
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


class TestRocksDBStateStore:
    def test_rocksdb_windows_match_default_provider(
        self, spark, turns_input, tmp_path, use_rocksdb
    ):
        """RocksDB (the 10^12-turn backend: state on local disk,
        changelog checkpointing) must be a pure backend swap —
        byte-identical window rows vs the default heap provider. The
        windowed-rates aggregate keeps its open windows in keyed state."""
        from spamscope_spark.streaming.pipeline import start_window_query

        base = PipelineConfig(
            input_path=turns_input, work_dir=str(tmp_path / "heap")
        )
        q, heap_sink = start_window_query(spark, base)
        q.awaitTermination(300)
        use_rocksdb()
        rocks = PipelineConfig(
            input_path=turns_input, work_dir=str(tmp_path / "rocks")
        )
        q, rocks_sink = start_window_query(spark, rocks)
        q.awaitTermination(300)
        key = lambda r: (r["window_start"], r["conv_id"])
        a = {key(r): r for r in heap_sink.read_merged(spark).collect()}
        b = {key(r): r for r in rocks_sink.read_merged(spark).collect()}
        assert a and a == b

    def test_session_conf_names_the_provider(
        self, spark, turns_input, tmp_path, use_rocksdb
    ):
        """The pipeline leaves the provider to Spark's conf: with the
        session naming RocksDB, a query under a default PipelineConfig
        keeps its state in RocksDB."""
        from spamscope_spark.streaming.pipeline import start_window_query

        use_rocksdb()
        cfg = PipelineConfig(input_path=turns_input, work_dir=str(tmp_path))
        q, _ = start_window_query(spark, cfg)
        q.awaitTermination(300)
        ops = [s for p in q.recentProgress for s in p.stateOperators]
        assert ops and all(
            any(k.startswith("rocksdb") for k in s.customMetrics) for s in ops
        )

    def test_rocksdb_checkpoint_resume_is_incremental(
        self, spark, turns_input, tmp_path, use_rocksdb
    ):
        """A restart over a RocksDB checkpoint must resume (not recount):
        appending new input and re-running adds only the new rows. The
        built-in dedup keeps the seen sha1s in keyed state, so the
        restart reloads a RocksDB state store."""
        from spamscope_spark.streaming.pipeline import start_dedup_builtin_query

        use_rocksdb()
        cfg = PipelineConfig(
            input_path=str(tmp_path / "in"), work_dir=str(tmp_path / "wd")
        )
        first = spark.read.parquet(turns_input)
        first.coalesce(1).write.mode("append").parquet(cfg.input_path)
        q, sink = start_dedup_builtin_query(spark, cfg)
        q.awaitTermination(300)
        n1 = sink.read_merged(spark).count()
        assert n1 > 0
        # event times AHEAD of the checkpointed watermark (behind-the-
        # watermark rows are dropped as late by design — see
        # test_exactly_once_on_restart_and_incremental): the same
        # conversations shifted 30 days, each text given a suffix, so
        # exactly n1 new distinct texts
        extra = (
            first.withColumn("conv_id", F.concat(F.lit("late_"), F.col("conv_id")))
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
            .withColumn(
                "text", F.concat(F.coalesce("text", F.lit("")), F.lit(" later"))
            )
        )
        sha1 = F.sha1(F.coalesce(F.col("text"), F.lit("")))
        assert first.select(sha1).intersect(extra.select(sha1)).count() == 0
        extra.coalesce(1).write.mode("append").parquet(cfg.input_path)
        q, sink = start_dedup_builtin_query(spark, cfg)
        q.awaitTermination(300)
        assert sink.read_merged(spark).count() == 2 * n1
        # the restart read only the appended file (one scan of the
        # turns source)
        assert sum(p.numInputRows for p in q.recentProgress) == extra.count()
        ops = [s for p in q.recentProgress for s in p.stateOperators]
        assert ops and all(
            any(k.startswith("rocksdb") for k in s.customMetrics) for s in ops
        )


class TestDedupBuiltin:
    def test_drop_duplicates_within_watermark_matches_batch_distinct(
        self, spark, cfg
    ):
        """The built-in all-JVM dedup path: output keys = one turn per
        distinct sha1 (first arrival wins within the watermark)."""
        from spamscope_spark.streaming.pipeline import start_dedup_builtin_query

        query, sink = start_dedup_builtin_query(spark, cfg)
        query.awaitTermination(300)
        out = sink.read_merged(spark)
        raw = spark.read.parquet(cfg.input_path).withColumn(
            "sha1", F.sha1(F.coalesce(F.col("text"), F.lit("")))
        )
        n_distinct = raw.select("sha1").distinct().count()
        assert out.count() == n_distinct
        # exactly one output row per content hash, all enriched
        assert (
            out.groupBy("sha1").count().where(F.col("count") > 1).count() == 0
        )
        assert "phishing_score" in out.columns

    def test_replay_is_exactly_once(self, spark, cfg):
        from spamscope_spark.streaming.pipeline import start_dedup_builtin_query

        q1, sink = start_dedup_builtin_query(spark, cfg)
        q1.awaitTermination(300)
        n1 = sink.read_merged(spark).count()
        q2, sink2 = start_dedup_builtin_query(spark, cfg)
        q2.awaitTermination(300)
        assert sink2.read_merged(spark).count() == n1


class TestIncrementalConsumer:
    def test_read_since_returns_only_new_epochs(self, spark, tmp_path):
        sink = IdempotentSink(str(tmp_path / "cdc"), keys=["k"])
        df0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        df1 = spark.createDataFrame([(3, "c")], "k long, v string")
        df2 = spark.createDataFrame([(4, "d"), (5, "e")], "k long, v string")
        sink.process_batch(df0, 0)
        sink.process_batch(df1, 1)
        cursor = max(sink.committed_epochs())  # consumer checkpoint
        sink.process_batch(df2, 2)
        delta = sink.read_since(spark, cursor)
        assert sorted(r["k"] for r in delta.collect()) == [4, 5]
        # caught-up consumer sees an empty (but well-formed) delta
        assert sink.read_since(spark, 2).count() == 0
        # from the beginning = everything
        assert sink.read_since(spark, -1).count() == 5


class TestCepStream:
    """The streaming CEP fold (cep_state.match_sequence_fold) emits
    exactly the batch operator's matches for every end event at or below
    the final watermark — same pattern, same input, multi-epoch
    arrival."""

    WITHIN_S = 24 * 3600
    DELAY = "1 hour"
    SCHEMA = "user_id string, event_id long, event_type string, ts timestamp"
    T0 = pd.Timestamp("2024-01-01")

    def _preds(self):
        return dict(
            start_pred=F.col("event_type") == "purchase",
            mid_pred=F.col("event_type").isin("click", "view"),
            end_pred=F.col("event_type") == "error",
        )

    def _fold(self, work, delay=DELAY, within_s=WITHIN_S):
        from spamscope_spark.streaming.cep_state import match_sequence_fold

        sink = IdempotentSink(os.path.join(work, "out"), keys=["user_id", "end_id"])
        state = IdempotentSink(os.path.join(work, "state"), keys=["user_id"])
        fold = match_sequence_fold(
            sink, state, delay, key="user_id", ts="ts", id_col="event_id",
            within_s=within_s, **self._preds(),
        )
        return fold, sink, state

    def _drain(self, spark, schema, inp, work):
        """Drain the files under `inp` one per epoch through the fold,
        checkpointed under `work`."""
        fold, sink, _ = self._fold(work)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q, sink

    @staticmethod
    def _matches(df):
        return {
            (r.user_id, r.start_id, r.end_id, r.n_mid, r.duration_ms)
            for r in df.collect()
        }

    def test_matches_batch_below_watermark(self, spark, tmp_path):
        """Four time-ordered files, one epoch each. Drained in two runs
        from one checkpoint (2 files, then 2 appended), the merged output
        equals an uninterrupted drain and the batch matches."""
        from spamscope_spark.operators import cep

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        inp = str(tmp_path / "ev_in")
        n = ev.count()
        ranked = ev.orderBy("ts", "event_id").withColumn(
            "_q", F.floor(F.row_number().over(
                Window.orderBy("ts", "event_id")) * 4 / (n + 1))
        )

        def append(q):
            ranked.where(F.col("_q") == q).drop("_q").coalesce(1).write.mode(
                "append"
            ).parquet(inp)

        resumed = str(tmp_path / "resumed")
        for q in range(2):
            append(q)
        first, _ = self._drain(spark, ev.schema, inp, resumed)
        assert len(first.recentProgress) == 2
        for q in range(2, 4):
            append(q)
        again, sink = self._drain(spark, ev.schema, inp, resumed)
        assert len(again.recentProgress) == 2
        _, whole = self._drain(spark, ev.schema, inp, str(tmp_path / "whole"))
        got = self._matches(sink.read_merged(spark))
        assert got == self._matches(whole.read_merged(spark))

        batch = cep.match_sequence(
            ev, key="user_id", ts="ts", id_col="event_id",
            within_s=self.WITHIN_S, **self._preds(),
        )
        # final watermark: global max event time minus delay, ms-truncated
        max_us = ev.agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        ).first()[0]
        wm_us = (max_us - 3600 * 1_000_000) // 1000 * 1000
        ends = ev.select(
            F.col("event_id").alias("end_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("_end_us"),
        )
        exp = self._matches(
            batch.join(ends, "end_id").where(F.col("_end_us") <= wm_us)
        )
        assert len(exp) > 0
        assert got == exp

    def _fold_epochs(self, spark, tmp_path, delay, epochs, within_s=600):
        """Fold one static epoch per list of (user_id, event_id,
        event_type, seconds after T0); returns the matches of each epoch
        and the state sink."""
        fold, sink, state = self._fold(str(tmp_path), delay, within_s)
        out = []
        for k, rows in enumerate(epochs):
            fold(spark.createDataFrame(
                [(u, i, e, (self.T0 + pd.Timedelta(seconds=t)).to_pydatetime())
                 for u, i, e, t in rows],
                self.SCHEMA,
            ), k)
            out.append(sorted(
                tuple(r)[1:] for r in sink.read_epoch(spark, k).collect()
            ))
        return out, state

    def test_open_start_is_evicted_past_the_horizon(self, spark, tmp_path):
        """A key whose last event is a START leaves the snapshot once the
        watermark passes START + within, though no later row of its key
        arrives."""
        h, within = 3600, self.WITHIN_S
        # a: one START; b and c: other-class events that move the
        # watermark (delay 1 h) past a's START (epoch 1), then past a's
        # START + within (epoch 2)
        _, state = self._fold_epochs(spark, tmp_path, self.DELAY, [
            [("a", 1, "purchase", 0)],
            [("b", 2, "login", 2 * h)],
            [("c", 3, "login", within + 3 * h)],
            [("tick", 4, "login", within + 5 * h)],
        ], within_s=within)

        def keys(epoch):
            return {r.user_id for r in state.read_epoch(spark, epoch).collect()}

        assert keys(1) == {"a", "b"}
        assert keys(3) == {"tick"}

    def test_kernel_positions_persist_across_batches(self, spark, tmp_path):
        # epoch 0: S at 0 s and M at 60 s, processed (delay 0); epoch 1:
        # E at 120 s matches, n_mid counting the M of epoch 0; epoch 2:
        # the chain is broken by that E, so a later E alone cannot match
        out, _ = self._fold_epochs(spark, tmp_path, "0 seconds", [
            [("k", 1, "purchase", 0), ("k", 2, "click", 60)],
            [("k", 3, "error", 120)],
            [("k", 4, "error", 180)],
        ])
        assert out == [[], [(1, 3, 1, 120_000)], []]

    def test_kernel_rows_above_watermark_stay_buffered(self, spark, tmp_path):
        # epoch 0's next watermark is 20 s: S is processed, E buffered;
        # epoch 1's row of another key moves it to 60 s, past E
        out, state = self._fold_epochs(spark, tmp_path, "30 seconds", [
            [("k", 1, "purchase", 10), ("k", 2, "error", 50)],
            [("z", 3, "login", 90)],
        ])
        snap = state.read_epoch(spark, 0).orderBy("cls").collect()
        assert [(r.user_id, r.event_id, r.cls, r.start_id) for r in snap] == [
            ("k", None, None, 1), ("k", 2, "E", None),
        ]
        assert out == [[], [(1, 2, 0, 40_000)]]

    def test_all_late_epoch_after_the_snapshot_emptied(self, spark, tmp_path):
        """With delay 0 an epoch's rows are all processed at once, and a
        key with no open START leaves: the snapshot empties. An all-late
        epoch then writes nothing, counts its drops and keeps the
        watermark."""
        out, state = self._fold_epochs(spark, tmp_path, "0 seconds", [
            [("k", 1, "click", 3600)],
            [("m", 2, "purchase", 1800), ("k", 3, "error", 3600)],
        ])
        assert out == [[], []]
        entries = state.manifest_entries()
        assert [entries[e]["rows"] for e in (0, 1)] == [0, 0]
        assert entries[1]["watermark_ms"] == entries[0]["watermark_ms"] == int(
            (self.T0 + pd.Timedelta(hours=1)).timestamp() * 1000
        )
        sink = IdempotentSink(str(tmp_path / "out"), keys=["user_id", "end_id"])
        assert sink.manifest_entries()[1]["late_rows"] == 2


class TestWindowedCmSketch:
    def test_stream_cells_match_batch_and_merge_law(self, spark, cfg):
        from spamscope_spark.streaming.pipeline import (
            start_cm_sketch_query,
            windowed_cm_sketch,
        )

        query, sink = start_cm_sketch_query(spark, cfg)
        query.awaitTermination(300)
        got = {
            (r["window_start"], r["row_j"], r["cell"]): r["cnt"]
            for r in sink.read_merged(spark).collect()
        }
        assert len(got) > 0
        batch = windowed_cm_sketch(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            window_s=cfg.window_s,
        ).collect()
        exp = {
            (r["window_start"], r["row_j"], r["cell"]): r["cnt"] for r in batch
        }
        # append mode emits only watermark-closed windows: subset, equal
        for k, v in got.items():
            assert exp[k] == v, k
        # merge law: summing every window's cells == the sketch of the
        # whole (windowless) stream — epochs combine without replay
        from spamscope_spark.operators.sketch import cm_sketch

        whole = cm_sketch(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False)
            .where(F.col("tool").isNotNull())
            .select(F.col("tool").cast("string").alias("v")),
            "v",
            depth=4,
            width=64,
        )
        merged: dict = {}
        for (_, j, c), v in exp.items():
            merged[(j, c)] = merged.get((j, c), 0) + v
        assert merged == {
            (r["row_j"], r["cell"]): r["cnt"] for r in whole.collect()
        }
        # restart with same checkpoint: no duplicate cells
        q2, sink2 = start_cm_sketch_query(spark, cfg)
        q2.awaitTermination(300)
        assert sink2.read_merged(spark).count() == len(got)


class TestScd2DimSink:
    def test_multibatch_fold_matches_batch_build_and_replay(self, spark, cfg):
        from spamscope_spark.operators.scd import scd2_from_changes
        from spamscope_spark.streaming.pipeline import start_scd2_query
        from spamscope_spark.streaming.scd2_sink import risk_tier

        cfg.max_files_per_trigger = 1  # force >= 2 microbatches
        query, sink = start_scd2_query(spark, cfg)
        query.awaitTermination(300)
        assert len(sink.committed_epochs()) >= 2
        got = {
            (r["conv_id"], r["version"]): (
                r["risk_tier"], str(r["valid_from"]), str(r["valid_to"]),
                r["is_current"],
            )
            for r in sink.read_dim(spark).collect()
        }
        # batch oracle: SCD2 build over the whole input at once
        batch_changes = (
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False)
            .select(
                "conv_id",
                risk_tier().alias("risk_tier"),
                "ts",
                F.col("turn_idx").cast("long").alias("seq"),
            )
        )
        want = {
            (r["conv_id"], r["version"]): (
                r["risk_tier"], str(r["valid_from"]), str(r["valid_to"]),
                r["is_current"],
            )
            for r in scd2_from_changes(
                batch_changes, entity_col="conv_id", attr_col="risk_tier",
                seq_col="seq",
            ).collect()
        }
        assert got == want and len(got) > 0
        # restart with same checkpoint: no new epochs, dim unchanged
        n_epochs = len(sink.committed_epochs())
        q2, sink2 = start_scd2_query(spark, cfg)
        q2.awaitTermination(300)
        assert len(sink2.committed_epochs()) == n_epochs
        got2 = {
            (r["conv_id"], r["version"]) for r in sink2.read_dim(spark).collect()
        }
        assert got2 == set(got)

    def test_replayed_epoch_is_idempotent(self, spark, tmp_path):
        """Manually re-deliver epoch 1's batch: the snapshot rebuilds
        from snapshot 0 and converges to identical content."""
        import datetime as dt

        from spamscope_spark.streaming.scd2_sink import Scd2DimSink

        sink = Scd2DimSink(str(tmp_path / "dim"))
        t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
        b0 = spark.createDataFrame(
            [("c1", "low", t(0), 0), ("c2", "low", t(1), 0)],
            "conv_id string, risk_tier string, ts timestamp, seq long",
        )
        b1 = spark.createDataFrame(
            [("c1", "high", t(5), 1)],
            "conv_id string, risk_tier string, ts timestamp, seq long",
        )
        sink.process_batch(b0, 0)
        sink.process_batch(b1, 1)
        snap = lambda: sorted(  # noqa: E731
            (r["conv_id"], r["version"], r["risk_tier"], r["is_current"])
            for r in sink.read_dim(spark).collect()
        )
        first = snap()
        sink.process_batch(b1, 1)  # replay
        assert snap() == first
        assert [x for x in first if x[0] == "c1"] == [
            ("c1", 1, "low", False), ("c1", 2, "high", True)
        ]


class TestWindowedLinreg:
    def test_stream_fits_match_batch(self, spark, cfg):
        from spamscope_spark.streaming.pipeline import (
            start_linreg_query,
            windowed_linreg,
        )

        query, sink = start_linreg_query(spark, cfg)
        query.awaitTermination(300)
        got = {
            r["window_start"]: (r["n"], r["slope_e6"], r["r2_e6"])
            for r in sink.read_merged(spark).collect()
        }
        assert len(got) > 0
        batch = windowed_linreg(
            enrich_turns(spark.read.parquet(cfg.input_path), dedup_flag=False),
            window_s=cfg.window_s,
        ).collect()
        exp = {
            r["window_start"]: (r["n"], r["slope_e6"], r["r2_e6"]) for r in batch
        }
        # append mode emits only watermark-closed windows: subset, equal
        for k, v in got.items():
            assert exp[k] == v, k


class TestDedupFold:
    """The enriched query's per-epoch dedup fold (dedup_state.dedup_fold)
    called directly on static DataFrames, one call per epoch, with the
    output and seen-set sinks under tmp_path."""

    T0 = pd.Timestamp("2026-03-01 00:00:00")

    def _fold(self, tmp_path, watermark="4 hours", ttl_ms=6 * 3600 * 1000, **kw):
        from spamscope_spark.streaming.dedup_state import dedup_fold

        sink = IdempotentSink(str(tmp_path / "out"), keys=["conv_id", "turn_idx"])
        seen = IdempotentSink(str(tmp_path / "seen"), keys=["sha1"])
        return dedup_fold(sink, seen, watermark, ttl_ms, **kw), sink, seen

    def _batch(self, spark, rows):
        """rows: (conv_id, turn_idx, hours after T0, sha1)"""
        return spark.createDataFrame(
            [
                (c, i, (self.T0 + pd.Timedelta(hours=h)).to_pydatetime(), s, False)
                for c, i, h, s in rows
            ],
            "conv_id string, turn_idx int, ts timestamp, sha1 string, "
            "is_filtered boolean",
        )

    def _flags(self, spark, sink, epoch):
        df = spark.read.parquet(os.path.join(sink.data_dir, f"epoch={epoch}"))
        return {(r["conv_id"], r["turn_idx"]): r["is_filtered"] for r in df.collect()}

    def _snapshot(self, spark, seen, epoch):
        df = spark.read.parquet(os.path.join(seen.data_dir, f"epoch={epoch}"))
        return sorted(tuple(r) for r in df.collect())

    def test_first_occurrence_in_epoch_by_event_order(self, spark, tmp_path):
        fold, sink, _ = self._fold(tmp_path)
        # the later "h" is delivered first: the EARLIER ts keeps the
        # flag clear; equal ts falls back to conv_id, then turn_idx
        fold(self._batch(spark, [
            ("a", 0, 2, "h"), ("b", 0, 1, "h"), ("a", 1, 1, "g"),
            ("c", 1, 3, "k"), ("c", 0, 3, "k"), ("d", 0, 3, "k"),
        ]), 0)
        assert self._flags(spark, sink, 0) == {
            ("a", 0): True, ("b", 0): False, ("a", 1): False,
            ("c", 0): False, ("c", 1): True, ("d", 0): True,
        }

    def test_seen_set_carries_to_later_epoch(self, spark, tmp_path):
        fold, sink, seen = self._fold(tmp_path)
        fold(self._batch(spark, [("a", 0, 0, "h1"), ("a", 1, 1, "h2")]), 0)
        fold(self._batch(spark, [("b", 0, 2, "h1"), ("b", 1, 2, "h3")]), 1)
        assert self._flags(spark, sink, 1) == {("b", 0): True, ("b", 1): False}
        # h1 keeps the row that added it (epoch 0), h3 joins at epoch 1
        snap = {r[1]: (r[2], r[4], r[5]) for r in self._snapshot(spark, seen, 1)}
        assert snap == {"h1": (0, "a", 0), "h2": (0, "a", 1), "h3": (1, "b", 1)}

    def test_replayed_epoch_gives_same_flags_and_snapshot(self, spark, tmp_path):
        fold, sink, seen = self._fold(tmp_path)
        b0 = self._batch(spark, [("a", 0, 0, "h1"), ("a", 1, 1, "h2")])
        b1 = self._batch(spark, [("b", 0, 2, "h1"), ("b", 1, 2, "h3"),
                                 ("b", 2, 3, "h3")])
        fold(b0, 0)
        fold(b1, 1)
        flags, snap = self._flags(spark, sink, 1), self._snapshot(spark, seen, 1)
        manifests = (sink.manifest_entries(), seen.manifest_entries())
        # a replay of epoch 1 must fold into snapshot 0, not its own
        # snapshot 1 (which already holds h3)
        fold(b1, 1)
        assert self._flags(spark, sink, 1) == flags == {
            ("b", 0): True, ("b", 1): False, ("b", 2): True,
        }
        assert self._snapshot(spark, seen, 1) == snap
        assert (sink.manifest_entries(), seen.manifest_entries()) == manifests

    def test_bucket_cap_evicts_oldest_first(self, spark, tmp_path):
        fold, sink, seen = self._fold(tmp_path, n_buckets=1, max_per_bucket=2)
        # epoch 0 adds hb (older ts) and ha; epoch 1 adds hc, which
        # evicts the oldest entry by (epoch, ts): hb
        fold(self._batch(spark, [("a", 0, 2, "ha"), ("b", 0, 1, "hb")]), 0)
        fold(self._batch(spark, [("c", 0, 3, "hc")]), 1)
        assert [r[1] for r in self._snapshot(spark, seen, 1)] == ["ha", "hc"]
        fold(self._batch(spark, [("d", 0, 4, "hb"), ("d", 1, 4, "ha")]), 2)
        assert self._flags(spark, sink, 2) == {("d", 0): False, ("d", 1): True}

    def test_bucket_ttl_expires_idle_bucket(self, spark, tmp_path):
        buckets = {
            r["b"]: r["s"]
            for r in spark.range(20)
            .select(F.concat(F.lit("h"), F.col("id").cast("string")).alias("s"))
            .select("s", F.pmod(F.xxhash64("s"), F.lit(2)).alias("b"))
            .collect()
        }
        idle, busy = buckets[0], buckets[1]
        fold, sink, _ = self._fold(
            tmp_path, watermark="1 hour", ttl_ms=3600 * 1000, n_buckets=2
        )
        # idle's bucket expires at T0+1h; busy's is refreshed at T0+5h
        # (to T0+6h). Epoch 2 runs at watermark T0+4h.
        fold(self._batch(spark, [("a", 0, 0, idle)]), 0)
        fold(self._batch(spark, [("b", 0, 5, busy)]), 1)
        fold(self._batch(spark, [("c", 0, 5, idle), ("c", 1, 5, busy)]), 2)
        assert self._flags(spark, sink, 2) == {("c", 0): False, ("c", 1): True}

    def test_late_rows_dropped_and_counted(self, spark, tmp_path):
        fold, sink, seen = self._fold(tmp_path, watermark="4 hours")
        fold(self._batch(spark, [("a", 0, 10, "h1")]), 0)
        assert seen.manifest_entries()[0]["watermark_ms"] == int(
            (self.T0 + pd.Timedelta(hours=6)).timestamp() * 1000
        )
        # at the watermark (T0+6h) is late, one second past it is not
        fold(self._batch(spark, [
            ("b", 0, 6, "h2"), ("b", 1, 6 + 1 / 3600, "h3"), ("b", 2, 1, "h1"),
        ]), 1)
        assert self._flags(spark, sink, 1) == {("b", 1): False}
        assert sink.manifest_entries()[1]["late_rows"] == 2
        # an all-late epoch writes nothing and still counts its drops
        fold(self._batch(spark, [("c", 0, 1, "h4"), ("c", 1, 2, "h5")]), 2)
        assert self._flags(spark, sink, 2) == {}
        assert sink.manifest_entries()[2]["late_rows"] == 2

    def test_late_rows_counted_once_when_prepare_sorts(self, spark, tmp_path):
        # a global sort samples its input in a job of its own
        fold, sink, _ = self._fold(tmp_path, prepare=lambda df: df.orderBy("ts"))
        fold(self._batch(spark, [("a", i, 10 + i, f"h{i}") for i in range(3)]), 0)
        fold(self._batch(spark, [("b", i, i, f"h{i}") for i in range(5)]
                         + [("c", 0, 20, "h9")]), 1)
        assert self._flags(spark, sink, 1) == {("c", 0): False}
        assert sink.manifest_entries()[1]["late_rows"] == 5


