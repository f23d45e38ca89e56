"""Round-3 additions: BM25 search, rate-burst anomaly, image resize.

Each operator's cross-engine hash parity is covered by the DuckDB
oracle (tools/check_correctness.py); these tests pin the SEMANTICS on
hand-built inputs where the right answer is computable by inspection.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

from spamscope_spark.operators import cep
from spamscope_spark.operators.multimodal import (
    encode_bmp,
    encode_ppm,
    resize_images,
    synthesize_gradient_payloads,
)
from spamscope_spark.operators.search import bm25_topk

TS0 = dt.datetime(2024, 3, 1, 0, 0, 0)


class TestBM25:
    def test_scores_match_hand_formula(self, spark):
        docs = [
            (0, "spark spark window join"),
            (1, "spark table"),
            (2, "window window window"),
            (3, "filter scan agg"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = bm25_topk(
            spark, df, [("q1", "spark"), ("q1", "window")], k=10
        ).collect()
        got = {r["doc_id"]: r["score_e4"] for r in out}

        # hand formula: N=4, total_toks=12, avgdl=3; df(spark)=2, df(window)=2
        def s(tf, dl, dfreq, n=4, avgdl=3.0, k1=1.2, b=0.75):
            idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
            return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        e4 = lambda x: math.floor(x * 1e4 + 0.5)
        assert got[0] == e4(s(2, 4, 2) + s(1, 4, 2))
        assert got[1] == e4(s(1, 2, 2))
        assert got[2] == e4(s(3, 3, 2))
        assert 3 not in got  # no query term → no row

    def test_rank_order_and_k(self, spark):
        docs = [(i, "payment" if i % 2 == 0 else "other") for i in range(30)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = bm25_topk(spark, df, [("q", "payment")], k=5).collect()
        assert len(out) == 5
        # identical docs → tie broken by doc_id asc
        assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] == [
            0, 2, 4, 6, 8,
        ]

    def test_postings_filter_is_broadcast(self, spark):
        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        plan = bm25_topk(spark, df, [("q", "a")])._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestRateAnomaly:
    def _events(self, spark, counts, key="t1"):
        """One event row per unit; hour i gets counts[i] events."""
        rows = []
        for i, c in enumerate(counts):
            for j in range(c):
                rows.append((key, TS0 + dt.timedelta(hours=i, minutes=j % 60)))
        return spark.createDataFrame(rows, "event_type string, ts timestamp")

    def test_burst_flagged_steady_not(self, spark):
        # 6 near-steady hours then a 10x burst
        df = self._events(spark, [5, 5, 5, 5, 6, 4, 50])
        out = cep.rate_anomaly(df, "event_type", "ts").collect()
        assert len(out) == 1
        r = out[0]
        assert r["n"] == 50 and r["n_prev"] == 6 and r["mean_prev"] == 5.0
        assert r["z_e4"] is not None and r["z_e4"] > 20_000

    def test_zero_variance_history_yields_no_row(self, spark):
        # constant rate: z is null (var=0) everywhere → no anomalies
        df = self._events(spark, [5] * 8)
        assert cep.rate_anomaly(df, "event_type", "ts").count() == 0

    def test_short_history_gated(self, spark):
        # burst at hour 3 has only 3 prior windows < min_history=4
        df = self._events(spark, [5, 6, 5, 50])
        assert cep.rate_anomaly(df, "event_type", "ts").count() == 0

    def test_z_matches_hand_computation(self, spark):
        counts = [4, 6, 5, 7, 5, 6, 30]
        df = self._events(spark, counts)
        out = cep.rate_anomaly(df, "event_type", "ts").collect()
        assert len(out) == 1
        hist = counts[:6]
        mean = sum(hist) / 6
        var = (sum(c * c for c in hist) - sum(hist) ** 2 / 6) / 5
        z = (30 - mean) / math.sqrt(var)
        assert out[0]["z_e4"] == math.floor(z * 1e4 + 0.5)
        assert out[0]["mean_prev"] == round(mean, 4)


class TestResize:
    def test_nearest_grid_bmp_and_ppm(self, spark):
        # 4x4 gradient: pixel (x,y) value = 10x + 40y (+channel offset)
        y, x = np.indices((4, 4))
        px = np.stack([10 * x + 40 * y, 10 * x + 40 * y + 1, 10 * x + 40 * y + 2], -1).astype(np.uint8)
        rows = [(0, bytearray(encode_bmp(px))), (1, bytearray(encode_ppm(px)))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = {r["doc_id"]: r for r in resize_images(df, out_w=2, out_h=2).collect()}
        # sampled pixels: (x,y) in {0,2}x{0,2} → values {0,20,80,100} → mean 50
        for i, fmt in ((0, "bmp"), (1, "ppm")):
            r = out[i]
            assert (r["fmt"], r["src_w"], r["src_h"]) == (fmt, 4, 4)
            assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (50.0, 51.0, 52.0)

    def test_flip_sensitivity(self, spark):
        # asymmetric vertical gradient: wrong bottom-up handling in the
        # BMP path would sample the wrong rows and change the mean
        y, _ = np.indices((3, 2))
        px = np.stack([60 * y] * 3, -1).astype(np.uint8)  # rows 0,60,120
        df = spark.createDataFrame(
            [(0, bytearray(encode_bmp(px)))], "doc_id long, payload binary"
        )
        r = resize_images(df, out_w=1, out_h=2).collect()[0]
        # sampled rows: floor(0*3/2)=0, floor(1*3/2)=1 → values 0, 60
        assert r["mean_r"] == 30.0

    def test_corrupt_payload_yields_nulls(self, spark):
        df = spark.createDataFrame(
            [(0, bytearray(b"notanimage"))], "doc_id long, payload binary"
        )
        r = resize_images(df).collect()[0]
        assert r["fmt"] is None and r["mean_r"] is None

    def test_gradient_fixture_roundtrip(self, spark):
        base = spark.range(20).withColumnRenamed("id", "doc_id")
        d = synthesize_gradient_payloads(base, "doc_id")
        out = resize_images(d, out_w=2, out_h=2).collect()
        assert len(out) == 20
        for r in out:
            d_id = r["doc_id"]
            w, h = 4 + d_id % 5, 3 + d_id % 4
            assert (r["src_w"], r["src_h"]) == (w, h)
            assert r["fmt"] == ("bmp" if d_id % 2 == 0 else "ppm")
            sx = [(xo * w) // 2 for xo in (0, 1)]
            sy = [(yo * h) // 2 for yo in (0, 1)]
            exp_r = np.mean([(d_id + 3 * x + 5 * y) % 256 for x in sx for y in sy])
            assert r["mean_r"] == exp_r


class TestPhraseSearch:
    """Round-4: exact phrase matching (match_phrase analog) — window
    scan semantics on inputs where occurrence counts are countable by
    eye."""

    def _run(self, spark, docs, phrases, k=10):
        from spamscope_spark.operators.search import phrase_search_topk

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return phrase_search_topk(spark, df, phrases, k=k).collect()

    def test_counts_and_overlap(self, spark):
        docs = [
            (0, "a b a b a b"),      # "a b" x3, overlapping windows scanned
            (1, "a b c"),            # "a b" x1
            (2, "b a"),              # 0
            (3, "a a a"),            # "a a" x2 (overlap counted per window)
        ]
        out = self._run(spark, docs, [("p_ab", "a b"), ("p_aa", "a a")])
        got = {(r["query_id"], r["doc_id"]): r["n_occurrences"] for r in out}
        assert got == {("p_ab", 0): 3, ("p_ab", 1): 1, ("p_aa", 3): 2}

    def test_case_fold_and_single_term(self, spark):
        docs = [(0, "Pay NOW pay now"), (1, "paynow")]
        out = self._run(spark, docs, [("p1", "pay now"), ("p2", "pay")])
        got = {(r["query_id"], r["doc_id"]): r["n_occurrences"] for r in out}
        assert got == {("p1", 0): 2, ("p2", 0): 2}  # doc 1: no token match

    def test_phrase_longer_than_doc_and_no_match(self, spark):
        docs = [(0, "x y"), (1, "")]
        out = self._run(spark, docs, [("p", "x y z")])
        assert out == []

    def test_rank_tiebreak_and_k(self, spark):
        docs = [(i, "hit me hit me") for i in range(7)]
        out = self._run(spark, docs, [("p", "hit me")], k=3)
        assert [(r["doc_id"], r["rank"]) for r in
                sorted(out, key=lambda r: r["rank"])] == [(0, 1), (1, 2), (2, 3)]


class TestContainmentDecon:
    """Round-4: n-gram containment decontamination — the asymmetric
    leak statistic |A∩B| / |B|."""

    def _run(self, spark, train, bench, n=2, threshold=0.8):
        from spamscope_spark.operators.corpus import containment_decontaminate

        t = spark.createDataFrame(train, "doc_id long, text string")
        b = spark.createDataFrame(bench, "bench_id long, text string")
        return containment_decontaminate(t, b, n=n, threshold=threshold).collect()

    def test_substring_item_fully_contained(self, spark):
        # bench item = a 4-word span of the train doc → containment 1.0
        train = [(0, "alpha beta gamma delta epsilon zeta eta theta")]
        bench = [(100, "gamma delta epsilon zeta")]
        rows = self._run(spark, train, bench)
        assert len(rows) == 1
        r = rows[0]
        assert (r["doc_id"], r["bench_id"]) == (0, 100)
        assert r["n_shared"] == r["n_bench"] == 3  # 4 words → 3 bigrams
        assert r["containment"] == 1.0

    def test_jaccard_dilution_does_not_hide_leak(self, spark):
        # long train doc: Jaccard(train, bench) is tiny, containment is 1.0
        filler = " ".join(f"w{i}" for i in range(200))
        train = [(0, filler + " needle one two three end")]
        bench = [(5, "needle one two three")]
        rows = self._run(spark, train, bench)
        assert rows and rows[0]["containment"] == 1.0

    def test_threshold_excludes_partial_overlap(self, spark):
        train = [(0, "a b c x y z")]
        bench = [(9, "a b c q")]  # bigrams: ab bc cq → 2/3 shared
        assert self._run(spark, train, bench, threshold=0.8) == []
        rows = self._run(spark, train, bench, threshold=0.6)
        assert rows and rows[0]["n_shared"] == 2 and rows[0]["n_bench"] == 3

    def test_distinct_grams_not_multiplicity(self, spark):
        # repeated gram in train counts once (distinct-set containment)
        train = [(0, "p q p q p q")]
        bench = [(1, "p q")]
        rows = self._run(spark, train, bench)
        assert rows[0]["n_shared"] == 1 and rows[0]["n_bench"] == 1


class TestBuildPostings:
    """Round-5: positional inverted-index construction."""

    def test_positions_docs_and_bounds(self, spark):
        from spamscope_spark.operators.search import build_postings

        df = spark.createDataFrame(
            [(2, "a b a"), (1, "b c"), (3, "c")],
            "doc_id long, text string",
        )
        out = {
            r["term"]: (r["df_docs"], r["n_occurrences"], r["postings"])
            for r in build_postings(df).collect()
        }
        # 0-based positions, positions ascending, docs ascending
        assert out["a"] == (1, 2, "2:0,2")
        assert out["b"] == (2, 2, "1:0 2:1")
        assert out["c"] == (2, 2, "1:1 3:0")
        # min_df elides hapax; max_df elides corpus-wide terms — loudly
        kept = {
            r["term"]
            for r in build_postings(df, min_df=2, max_df=1).collect()
        }
        assert kept == set()
        kept2 = {
            r["term"] for r in build_postings(df, min_df=2).collect()
        }
        assert kept2 == {"b", "c"}

    def test_one_entry_per_term_and_doc(self, spark):
        """Rows sharing a doc id fold into ONE entry per (term, doc).
        Cross-engine byte equality depends on it: with a repeated doc,
        entries would tie on the doc sort key, and Spark's struct sort
        and DuckDB's ORDER BY doc could order the tie differently."""
        from spamscope_spark.operators.search import build_postings

        df = spark.createDataFrame(
            [(5, "x y x"), (4, "x"), (5, "y x")],
            "doc_id long, text string",
        )
        out = {
            r["term"]: (r["df_docs"], r["n_occurrences"], r["postings"])
            for r in build_postings(df).collect()
        }
        assert out["x"] == (2, 4, "4:0 5:0,1,2")
        assert out["y"] == (1, 2, "5:0,1")
        for df_docs, _, postings in out.values():
            docs = [int(e.split(":")[0]) for e in postings.split(" ")]
            assert docs == sorted(set(docs)) and len(docs) == df_docs


class TestPhraseViaPostings:
    """Round-5: the positional-postings phrase strategy must equal the
    array-scan strategy row-for-row (the graded query pins this vs the
    DuckDB oracle; here the two SPARK plans are pinned directly)."""

    def test_overlaps_repeats_and_misses(self, spark):
        from spamscope_spark.operators.search import (
            phrase_search_topk,
            phrase_search_via_postings,
        )

        docs = [
            (0, "a a a"),          # overlapping "a a" occurrences: 2
            (1, "x a a y a a"),    # two disjoint occurrences
            (2, "a b a b a"),      # "a b a" twice (overlap), "b a b" once
            (3, "nothing here"),
        ]
        phrases = [
            ("p_aa", "a a"),
            ("p_aba", "a b a"),
            ("p_single", "a"),
            ("p_miss", "zz qq"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        scan = {
            (r["query_id"], r["doc_id"]): (r["n_occurrences"], r["rank"])
            for r in phrase_search_topk(spark, df, phrases, k=10).collect()
        }
        via = {
            (r["query_id"], r["doc_id"]): (r["n_occurrences"], r["rank"])
            for r in phrase_search_via_postings(
                spark, df, phrases, k=10
            ).collect()
        }
        assert via == scan
        assert scan[("p_aa", 0)] == (2, 1)
        assert scan[("p_aba", 2)] == (2, 1)
        assert not any(q == "p_miss" for q, _ in scan)
