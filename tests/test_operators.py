"""Operator-level tests: sessionization, temporal joins, skew-safe
aggregation, dedup suite, similarity search, multimodal plumbing.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from spamscope_spark.datagen import generate_turns
from spamscope_spark.operators import (
    corpus,
    dedup,
    joins,
    sessionize,
    similarity,
    skew,
)
from spamscope_spark.functions import textstats
from spamscope_spark.plans import explain
from spamscope_spark.operators.multimodal import (
    decode_stub,
    extract_media_features,
    with_binary_payload,
)

TS0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return TS0 + dt.timedelta(minutes=minutes)


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        rows = [
            ("a", _ts(0)), ("a", _ts(5)), ("a", _ts(10)),   # session 0
            ("a", _ts(100)), ("a", _ts(101)),               # session 1 (gap 90m > 30m)
            ("b", _ts(0)),                                   # session 0 of b
        ]
        df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
        out = sessionize.with_session_ids(df, gap_s=30 * 60).collect()
        sess = {(r["conv_id"], r["ts"].minute + r["ts"].hour * 60): r["session_seq"] for r in out}
        assert sess[("a", 0)] == 0 and sess[("a", 5)] == 0 and sess[("a", 10)] == 0
        assert sess[("a", 100)] == 1 and sess[("a", 101)] == 1
        assert sess[("b", 0)] == 0

    def test_session_features_on_turns(self, spark):
        turns = generate_turns(spark, n_convs=6, turns_per_conv=24)
        feats = sessionize.session_features(turns, gap_s=30 * 60).collect()
        # datagen: 8-turn bursts separated by 2h ⇒ sessions of exactly 8
        # turns (except possibly the last partial one per conv)
        by_conv = {}
        for r in feats:
            by_conv.setdefault(r["conv_id"], []).append(r)
        for conv, sessions in by_conv.items():
            sizes = sorted(s["n_turns"] for s in sessions)
            assert all(s <= 8 for s in sizes)
            assert sum(sizes) >= 24
            for s in sessions:
                assert s["n_user"] + s["n_assistant"] + s["n_tool"] + s["n_system"] == s["n_turns"]


class TestJoins:
    def test_time_band_inner(self, spark):
        left = spark.createDataFrame(
            [("u1", _ts(10), "L1"), ("u1", _ts(50), "L2")],
            "user string, ts timestamp, lid string",
        )
        right = spark.createDataFrame(
            [("u1", _ts(9), "R1"), ("u1", _ts(11), "R2"), ("u1", _ts(30), "R3"),
             ("u2", _ts(10), "R4")],
            "user string, ts timestamp, rid string",
        )
        out = joins.time_band_join(
            left, right, on=["user"], lower_s=-120, upper_s=120
        ).select("lid", "r_rid").collect()
        pairs = {(r["lid"], r["r_rid"]) for r in out}
        assert pairs == {("L1", "R1"), ("L1", "R2")}

    def test_asof_backward(self, spark):
        left = spark.createDataFrame(
            [("u1", _ts(10), "P1"), ("u1", _ts(40), "P2"), ("u2", _ts(10), "P3")],
            "user string, ts timestamp, pid string",
        )
        right = spark.createDataFrame(
            [("u1", _ts(5), "C1"), ("u1", _ts(9), "C2"), ("u1", _ts(39), "C3")],
            "user string, ts timestamp, cid string",
        )
        out = joins.asof_join(left, right, on=["user"], tiebreak=["cid"]).select(
            "pid", "r_cid"
        ).collect()
        got = {r["pid"]: r["r_cid"] for r in out}
        assert got == {"P1": "C2", "P2": "C3", "P3": None}

    def test_asof_backward_horizon(self, spark):
        left = spark.createDataFrame(
            [("u1", _ts(10), "P1"), ("u1", _ts(40), "P2")],
            "user string, ts timestamp, pid string",
        )
        right = spark.createDataFrame(
            [("u1", _ts(9), "C2"), ("u1", _ts(5), "C1")],
            "user string, ts timestamp, cid string",
        )
        out = joins.asof_join(
            left, right, on=["user"], horizon_s=90, tiebreak=["cid"]
        ).select("pid", "r_cid").collect()
        got = {r["pid"]: r["r_cid"] for r in out}
        # P1's nearest click (t=9m) is 1min back — inside the 90s horizon;
        # P2's nearest (t=9m) is 31min back — nulled by the horizon.
        assert got == {"P1": "C2", "P2": None}

    def test_asof_forward(self, spark):
        left = spark.createDataFrame(
            [("u1", _ts(10), "P1")], "user string, ts timestamp, pid string"
        )
        right = spark.createDataFrame(
            [("u1", _ts(10), "C1"), ("u1", _ts(10), "C2"), ("u1", _ts(8), "C0")],
            "user string, ts timestamp, cid string",
        )
        out = joins.asof_join(
            left, right, on=["user"], direction="forward", tiebreak=["cid"]
        ).select("pid", "r_cid").collect()
        # inclusive >=; equal-ts tie broken by max tiebreak
        assert {r["pid"]: r["r_cid"] for r in out} == {"P1": "C2"}

    def test_asof_plan_has_no_join(self, spark):
        """The sort-merge form must compile to union + window — zero
        join operators, hence structurally no O(L×R) pair expansion on
        a hot key (VERDICT r1 'what's wrong' #1)."""
        left = spark.createDataFrame(
            [("u1", _ts(10), "P1")], "user string, ts timestamp, pid string"
        )
        right = spark.createDataFrame(
            [("u1", _ts(5), "C1")], "user string, ts timestamp, cid string"
        )
        out = joins.asof_join(left, right, on=["user"])
        txt = explain.plan_text(out)
        assert "Join" not in txt
        assert "Union" in txt and "Window" in txt

    def test_tool_response_join_on_datagen(self, spark):
        turns = generate_turns(spark, n_convs=8, turns_per_conv=24)
        out = joins.tool_response_join(turns, band_s=600)
        rows = out.collect()
        # datagen: every slot-1 assistant tool call has its slot-2
        # response 30s later — except when either side carries the
        # late-data ts jitter (1/41 of turns shifted -3h), which pushes
        # the pair outside the band. Matched pairs must be adjacent;
        # most invocations must match; exactly one row per invocation.
        assert len(rows) > 0
        matched = [r for r in rows if r["resp_turn_idx"] is not None]
        for r in matched:
            assert r["resp_turn_idx"] == r["turn_idx"] + 1
        assert len(matched) >= 0.85 * len(rows)
        inv_count = turns.where(
            (F.col("role") == "assistant") & F.col("tool").isNotNull()
        ).count()
        assert len(rows) == inv_count


class TestSkew:
    def test_salted_agg_equals_plain(self, spark):
        turns = generate_turns(spark, n_convs=10, turns_per_conv=16, n_hot=2, hot_factor=20)
        plain = {
            r["conv_id"]: (r["n"], round(r["s"], 6))
            for r in turns.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("turn_idx").alias("s"))
            .collect()
        }
        salted = {
            r["conv_id"]: (r["n"], round(r["s"], 6))
            for r in skew.salted_agg(
                turns,
                key=["conv_id"],
                aggs=[skew.salted("n", "count"), skew.salted("s", "sum", "turn_idx")],
                salt_source=F.col("turn_idx"),
                n_salts=8,
            ).collect()
        }
        assert plain == salted


class TestDedup:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # exact dup of 1
            (3, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # near dup
            (4, "one two three four five six seven eight nine ten"),
            (5, "totally different words entirely unrelated content here now"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_groups(self, spark, docs):
        out = dedup.exact_dup_groups(docs, "doc_id").collect()
        assert len(out) == 1
        assert out[0]["canonical_id"] == 1 and out[0]["n_dups"] == 2

    def test_ngram_jaccard(self, spark, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.3).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
        assert (4, 5) not in pairs and (1, 4) not in pairs

    def test_minhash_lsh_finds_dups(self, spark, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in dedup.minhash_lsh_pairs(
                docs, "doc_id", k=8, rows_per_band=2, n=3, threshold=0.4
            ).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert all(a < b for a, b in pairs)

    @pytest.fixture(scope="class")
    def skewed_docs(self, spark):
        """60 of 200 docs share one boilerplate sentence (the hot-key
        candidate-blowup shape from VERDICT r1 'what's wrong' #2), plus
        one planted near-dup pair with distinctive text."""
        hot = "this message was scanned by the corporate gateway and found clean"
        rows = []
        for i in range(200):
            if i < 60:
                rows.append((i, f"{hot} tag{i} marker{i * 7} suffix{i * 13}"))
            else:
                rows.append((i, f"doc {i} body {i * 3} words {i * 11} tail {i * 17}"))
        rows.append((1000, "alpha beta gamma delta epsilon zeta eta theta iota"))
        rows.append((1001, "alpha beta gamma delta epsilon zeta eta theta kappa"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_ngram_jaccard_doc_freq_cap(self, spark, skewed_docs):
        capped = dedup.ngram_jaccard_pairs(
            skewed_docs, "doc_id", n=3, threshold=0.3, max_doc_freq=10
        ).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in capped}
        # the planted pair survives (its shingles are below the cap)...
        assert (1000, 1001) in pairs
        # ...while the 60 boilerplate docs — whose ONLY shared shingles
        # are the hot sentence — generate no candidate blowup
        # (uncapped they'd emit up to C(60,2)=1770 pairs).
        hot_pairs = [p for p in pairs if p[0] < 60 and p[1] < 60]
        assert not hot_pairs
        assert len(pairs) < 50
        # hot_keys reports what the cap dropped — the no-silent-cap hook
        flat = skewed_docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(dedup.word_shingles(F.col("text"), 3)).alias("shingle"),
        )
        hot = dedup.hot_keys(flat, "shingle", 10).collect()
        assert all(r["key_df"] == 60 for r in hot) and len(hot) > 0

    def test_minhash_lsh_bucket_cap(self, spark, skewed_docs):
        capped = dedup.minhash_lsh_pairs(
            skewed_docs, "doc_id", k=8, rows_per_band=2, n=3,
            threshold=0.4, max_bucket_size=10,
        ).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in capped}
        assert (1000, 1001) in pairs
        hot_pairs = [p for p in pairs if p[0] < 60 and p[1] < 60]
        # overfull boilerplate buckets are dropped; stragglers that pair
        # through sparse bands are fine — no quadratic set
        assert len(hot_pairs) < 100

    def test_simhash_identical_for_dups(self, spark, docs):
        sh = {
            r["doc_id"]: r["sh"]
            for r in docs.select("doc_id", dedup.simhash(F.col("text")).alias("sh")).collect()
        }
        assert sh[1] == sh[2]
        assert sh[1] != sh[4]
        # near-dup differs in few bits
        ham = bin(sh[1] ^ sh[3]).count("1")
        assert ham <= 8


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        vecs = rng.standard_normal((60, 16)).astype("float32")
        vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16).astype("float32")
        rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_bruteforce_topk(self, spark, emb):
        out = similarity.cosine_topk(emb, [0], k=3).collect()
        assert [r["neighbor_id"] for r in out if r["rank"] == 1] == [1]
        assert len(out) == 3

    def test_ann_recall(self, spark, emb):
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(emb, list(range(10)), k=3).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ann_lsh_topk(emb, list(range(10)), k=3, n_planes=2).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5  # 2 planes / 4 buckets on 60 vecs

    def test_neardup_pairs(self, spark, emb):
        out = similarity.embedding_neardup_pairs(emb, threshold=0.95, n_planes=2).collect()
        assert {(r["id_a"], r["id_b"]) for r in out} >= {(0, 1)}

    def test_multiprobe_recall_dominates_single_probe(self, spark, emb):
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(emb, list(range(10)), k=3).collect()
        }

        def recall(n_probe):
            approx = {
                (r["query_id"], r["neighbor_id"])
                for r in similarity.ann_lsh_topk(
                    emb, list(range(10)), k=3, n_planes=4, n_probe=n_probe
                ).collect()
            }
            return len(exact & approx) / len(exact)

        r1, r5 = recall(1), recall(5)
        assert r5 >= r1  # extra probes can only add candidates
        assert r5 >= max(r1, 0.3)  # 16 buckets on 60 vecs is coarse

    def test_multi_table_candidates_superset_and_deduped(self, spark, emb):
        one = similarity.embedding_neardup_pairs(
            emb, threshold=0.9, n_planes=4, n_tables=1
        ).collect()
        three = similarity.embedding_neardup_pairs(
            emb, threshold=0.9, n_planes=4, n_tables=3
        ).collect()
        p1 = {(r["id_a"], r["id_b"]) for r in one}
        p3 = [(r["id_a"], r["id_b"]) for r in three]
        assert set(p3) >= p1  # any-table collision ⊇ table-0 collision
        assert len(p3) == len(set(p3))  # cross-table dedup: each pair once

    def test_bucket_cap_drops_degenerate_bucket(self, spark, emb):
        # 40 copies of one vector — without a cap, that bucket alone
        # yields C(41,2)=820 pairs; cap 20 must drop the bucket and
        # report it via the audit twin
        import numpy as np

        base = emb.where(F.col("vec_id") == 0).first()["embedding"]
        clones = spark.createDataFrame(
            [(1000 + i, list(base)) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        crowded = emb.unionByName(clones)
        capped = similarity.embedding_neardup_pairs(
            crowded, threshold=0.99, n_planes=2, bucket_cap=20
        ).collect()
        clone_pairs = [
            r for r in capped if r["id_a"] >= 1000 and r["id_b"] >= 1000
        ]
        assert clone_pairs == []  # the degenerate bucket was excluded
        dropped = similarity.neardup_dropped_buckets(
            crowded, n_planes=2, bucket_cap=20
        ).collect()
        assert len(dropped) >= 1 and all(r["count"] > 20 for r in dropped)

    def test_ivf_recall_and_planted_pair(self, spark, emb):
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(emb, list(range(10)), k=3).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(
                emb, list(range(10)), k=3, n_list=4, n_probe=2, n_iter=2
            ).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.6
        # the planted near-copy (vec 1 ≈ vec 0) must rank first for query 0
        out = similarity.ivf_topk(emb, [0], k=1, n_list=4, n_probe=2).collect()
        assert out and out[0]["neighbor_id"] == 1

    def test_ivf_centroids_deterministic(self, spark, emb):
        c1 = similarity.train_ivf_centroids(emb, n_list=4, n_iter=1, seed=9)
        c2 = similarity.train_ivf_centroids(emb, n_list=4, n_iter=1, seed=9)
        assert c1 == c2 and len(c1) == 4 and len(c1[0]) == 16


class TestMultimodal:
    def test_decode_stub_contract(self):
        with pytest.raises(NotImplementedError):
            decode_stub(b"abc", "image/png")
        f = decode_stub(b"abc", "image/png", fake=True)
        assert f.shape == (8,) and (f == decode_stub(b"abc", "x", fake=True)).all()

    def test_media_pipeline(self, spark):
        docs = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, None)], "doc_id long, text string"
        )
        out = extract_media_features(with_binary_payload(docs), "doc_id").collect()
        import hashlib

        by_id = {r["doc_id"]: r for r in out}
        assert by_id[1]["byte_size"] == 11
        assert by_id[1]["payload_md5"] == hashlib.md5(b"hello world").hexdigest()
        assert by_id[3]["byte_size"] == 0
        assert len(by_id[1]["features"]) == 8

    def test_bmp_roundtrip_gradient(self):
        """Non-solid pixels: encode→decode recovers dims and exact means
        through BGR ordering, bottom-up rows, and width-3 row padding."""
        import numpy as np

        from spamscope_spark.operators.multimodal import decode_image, encode_bmp

        px = np.arange(3 * 5 * 3, dtype=np.uint8).reshape(5, 3, 3)  # w=3 pads rows
        m = decode_image(encode_bmp(px))
        assert (m["fmt"], m["width"], m["height"]) == ("bmp", 3, 5)
        want = px.reshape(-1, 3).astype(float).mean(axis=0)
        assert [m["mean_r"], m["mean_g"], m["mean_b"]] == pytest.approx(list(want))

    def test_ppm_roundtrip_with_comment(self):
        import numpy as np

        from spamscope_spark.operators.multimodal import decode_image, encode_ppm

        px = (np.arange(4 * 2 * 3, dtype=np.uint8) * 9 % 256).astype(np.uint8)
        px = px.reshape(2, 4, 3)
        m = decode_image(encode_ppm(px, comment="hello # nested"))
        assert (m["fmt"], m["width"], m["height"]) == ("ppm", 4, 2)
        want = px.reshape(-1, 3).astype(float).mean(axis=0)
        assert [m["mean_r"], m["mean_g"], m["mean_b"]] == pytest.approx(list(want))

    def test_decode_image_malformed(self):
        import numpy as np

        from spamscope_spark.operators.multimodal import decode_image, encode_bmp, encode_ppm

        px = np.zeros((2, 2, 3), np.uint8)
        for bad in (b"", b"GIF89a....", encode_bmp(px)[:-3], encode_ppm(px)[:-3], b"P6\n# only comment"):
            with pytest.raises(ValueError):
                decode_image(bad)

    def test_decode_images_dataframe(self, spark):
        """The q_media_decode path end-to-end: synthesized format bytes
        parse back to the arithmetically-predicted colors; corrupt
        payloads yield null features, not task failure."""
        from spamscope_spark.operators.multimodal import (
            decode_images,
            synthesize_image_payloads,
        )

        docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
        out = decode_images(synthesize_image_payloads(docs)).collect()
        by_id = {r["doc_id"]: r for r in out}
        for i in range(8):
            r = by_id[i]
            assert r["fmt"] == ("bmp" if i % 2 == 0 else "ppm")
            assert (r["width"], r["height"]) == (3 + i % 3, 2 + i % 4)
            assert r["mean_r"] == float(i % 256)
            assert r["mean_g"] == float((i * 7 + 13) % 256)
            assert r["mean_b"] == float((i * 31 + 101) % 256)
        corrupt = spark.createDataFrame(
            [(1, bytearray(b"notanimage")), (2, None)], "doc_id long, payload binary"
        )
        rows = {r["doc_id"]: r for r in decode_images(corrupt).collect()}
        assert rows[1]["fmt"] is None and rows[2]["width"] is None

    def test_wav_roundtrip(self):
        import numpy as np

        from spamscope_spark.operators.multimodal import decode_wav, encode_wav

        s = (np.arange(24, dtype=np.int64).reshape(12, 2) * 997 - 5000).astype("<i2")
        m = decode_wav(encode_wav(s, 16000))
        assert (m["fmt"], m["n_channels"], m["sample_rate"]) == ("wav", 2, 16000)
        assert (m["n_frames"], m["bits"]) == (12, 16)
        assert m["duration_ms"] == pytest.approx(0.75)  # 12 frames / 16 kHz
        assert m["mean_ch0"] == pytest.approx(s[:, 0].astype(float).mean())

    def test_wav_chunk_walk_and_malformed(self):
        """A LIST chunk (with odd-length word-alignment padding) before
        `data` must not break parsing; non-PCM / truncated / non-RIFF
        payloads must raise."""
        import struct

        import numpy as np

        from spamscope_spark.operators.multimodal import decode_wav, encode_wav

        s = np.ones((5, 1), dtype="<i2") * 7
        wav = encode_wav(s, 8000)
        # splice an odd-sized LIST chunk between fmt and data
        fmt_end = 12 + 8 + 16
        extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # pad byte
        spliced = wav[:fmt_end] + extra + wav[fmt_end:]
        m = decode_wav(spliced)
        assert m["n_frames"] == 5 and m["mean_ch0"] == 7.0
        for bad in (b"", b"RIFFxxxxWAVE", wav[:-3], b"OggS" + wav[4:]):
            with pytest.raises(ValueError):
                decode_wav(bad)
        # non-PCM format code
        ieee = bytearray(wav)
        ieee[20] = 3  # fmt chunk audio_format field
        with pytest.raises(ValueError):
            decode_wav(bytes(ieee))

    def test_decode_audio_dataframe(self, spark):
        """The q_audio_decode path end-to-end: synthesized RIFF bytes
        parse back to the arithmetically-predicted stats; corrupt
        payloads yield null columns, not task failure."""
        from spamscope_spark.operators.multimodal import (
            decode_audio,
            synthesize_wav_payloads,
        )

        docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
        out = decode_audio(synthesize_wav_payloads(docs)).collect()
        by_id = {r["doc_id"]: r for r in out}
        for d in range(7):
            r = by_id[d]
            n = 40 + d % 16
            assert r["n_channels"] == 1 + d % 2
            assert r["sample_rate"] == 8000 + (d % 3) * 4000
            assert r["n_frames"] == n
            want = sum((7 * d + 13 * t) % 65536 - 32768 for t in range(n)) / n
            assert r["mean_ch0"] == pytest.approx(want)
        corrupt = spark.createDataFrame(
            [(1, bytearray(b"notawav")), (2, None)], "doc_id long, payload binary"
        )
        rows = {r["doc_id"]: r for r in decode_audio(corrupt).collect()}
        assert rows[1]["fmt"] is None and rows[2]["n_frames"] is None


class TestY4mVideo:
    def test_roundtrip_and_malformed(self):
        import numpy as np

        from spamscope_spark.operators.multimodal import decode_y4m, encode_y4m

        frames = (np.arange(2 * 4 * 6).reshape(2, 4, 6) * 7 % 256).astype(np.uint8)
        m = decode_y4m(encode_y4m(frames, fps_num=30))
        assert (m["width"], m["height"], m["n_frames"]) == (6, 4, 2)
        assert m["fps"] == 30.0
        assert m["mean_luma_f0"] == pytest.approx(frames[0].astype(float).mean())
        good = encode_y4m(frames)
        for bad in (b"", b"RIFF" + good[4:], good[:-5],
                    good.replace(b"C420", b"C444")):
            with pytest.raises(ValueError):
                decode_y4m(bad)

    def test_decode_video_dataframe(self, spark):
        from spamscope_spark.operators.multimodal import (
            decode_video,
            synthesize_y4m_payloads,
        )

        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        out = {r["doc_id"]: r for r in
               decode_video(synthesize_y4m_payloads(docs)).collect()}
        for d in range(6):
            r = out[d]
            w, h = 8 + (d % 3) * 4, 6 + (d % 2) * 2
            assert (r["width"], r["height"], r["n_frames"]) == (w, h, 3 + d % 4)
            want = sum(
                (11 * d + 5 * rr + 3 * cc) % 256
                for rr in range(h) for cc in range(w)
            ) / (h * w)
            assert r["mean_luma_f0"] == pytest.approx(want)
        corrupt = spark.createDataFrame(
            [(1, bytearray(b"nota video")), (2, None)],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in decode_video(corrupt).collect()}
        assert rows[1]["fmt"] is None and rows[2]["n_frames"] is None


class TestKmvSketch:
    def test_estimate_accuracy_and_exact_small_groups(self, spark):
        from spamscope_spark.operators.sketch import kmv_distinct

        rows = [("big", f"v{i}") for i in range(5000)]
        rows += [("small", f"s{i}") for i in range(10)]
        df = spark.createDataFrame(rows, "grp string, val string")
        out = {r["grp"]: r for r in kmv_distinct(df, "grp", "val", k=64).collect()}
        # a group under k distinct values is represented exactly
        assert out["small"]["kmv_estimate_e4"] == 100_000
        assert out["small"]["rel_err_e6"] == 0
        # k=64 → expected rel error ~1/sqrt(64)=12.5%; 50% is a safe bound
        assert out["big"]["n_exact"] == 5000
        assert out["big"]["rel_err_e6"] < 500_000

    def test_prefilter_preserves_result(self, spark):
        """The scale-path hash prefilter (keep h < k*2^48/N_lower) must
        not change the estimate when N_lower is a true lower bound."""
        from spamscope_spark.operators.sketch import HASH_SPACE, kmv_distinct

        df = spark.createDataFrame(
            [("g", f"v{i}") for i in range(2000)], "grp string, val string"
        )
        full = kmv_distinct(df, "grp", "val", k=32).collect()[0]
        # N_lower = 500 (true distinct is 2000): threshold keeps ~4x the
        # sketch's need, guaranteed to include the 32 minima w.h.p. by
        # construction (uniform hashing, margin 4x)
        thr = int(32 * HASH_SPACE / 500)
        pre = kmv_distinct(
            df, "grp", "val", k=32, prefilter_max_hash=thr
        ).collect()[0]
        assert pre["kmv_estimate_e4"] == full["kmv_estimate_e4"]
        assert pre["n_exact"] == full["n_exact"]


class TestCountMinSketch:
    def test_one_sided_error_and_exactness_when_wide(self, spark):
        from spamscope_spark.operators.sketch import cm_estimates

        rows = [(f"v{i % 40}",) for i in range(4000)]  # 40 values, 100 each
        df = spark.createDataFrame(rows, "val string")
        out = cm_estimates(df, "val", depth=4, width=1024, top_n=40).collect()
        assert len(out) == 40
        for r in out:
            # CM never undercounts (min of upper-bound cells)
            assert r["overcount"] >= 0
            assert r["cm_estimate"] >= r["n_exact"] == 100
        # 40 values in 1024 cells x 4 rows: some row is collision-free
        # for most values; estimates stay tight
        assert sum(r["overcount"] for r in out) == 0

    def test_sketch_merge_is_cellwise_sum(self, spark):
        """bottom-line mergeability law: sketch(A ∪ B) == cell-wise sum
        of sketch(A) + sketch(B) — what lets shards combine without
        reshuffling raw values."""
        from spamscope_spark.operators.sketch import cm_sketch

        a = spark.createDataFrame([(f"a{i % 7}",) for i in range(300)], "val string")
        b = spark.createDataFrame([(f"b{i % 11}",) for i in range(500)], "val string")
        merged = (
            cm_sketch(a, "val", 4, 64)
            .unionByName(cm_sketch(b, "val", 4, 64))
            .groupBy("row_j", "cell")
            .agg(F.sum("cnt").alias("cnt"))
        )
        whole = cm_sketch(a.unionByName(b), "val", 4, 64)
        key = lambda r: (r["row_j"], r["cell"])  # noqa: E731
        assert {key(r): r["cnt"] for r in merged.collect()} == {
            key(r): r["cnt"] for r in whole.collect()
        }


class TestSubstringDedup:
    def test_planted_shared_span_and_null_semantics(self, spark):
        from spamscope_spark.operators.dedup import substring_dup_stats

        span = " ".join(f"w{i}" for i in range(6))  # 6-word shared span
        docs = [
            (1, f"alpha beta {span} gamma delta"),          # 10 words
            (2, f"one two three {span} four"),              # 10 words
            (3, "totally unrelated text with enough words here ok"),  # 8 words
            (4, "short doc"),                               # < window -> null
            (5, None),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r["doc_id"]: r for r in substring_dup_stats(df, window=6).collect()}
        # doc1: 5 windows; exactly the one aligned on the span is shared
        assert out[1]["n_windows"] == 5 and out[1]["n_shared"] == 1
        assert out[1]["dup_substring_frac"] == pytest.approx(0.2)
        assert out[2]["n_shared"] == 1
        assert out[3]["n_shared"] == 0 and out[3]["dup_substring_frac"] == 0.0
        for d in (4, 5):
            assert out[d]["n_windows"] == 0
            assert out[d]["n_shared"] is None
            assert out[d]["dup_substring_frac"] is None

    def test_repeated_window_within_one_doc_not_cross_doc(self, spark):
        """A window repeated inside a single doc is NOT cross-doc
        duplication (sharedness counts distinct docs, not occurrences)."""
        from spamscope_spark.operators.dedup import substring_dup_stats

        rep = " ".join(["a b c"] * 4)  # 'a b c a b c ...' repeats 3-grams
        df = spark.createDataFrame(
            [(1, rep), (2, "x y z p q r s t")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in substring_dup_stats(df, window=3).collect()}
        assert out[1]["n_shared"] == 0


class TestScd2:
    def _feed(self, spark, rows):
        return spark.createDataFrame(
            [(u, a, __import__("datetime").datetime(2026, 1, 1, 0, 0, s), i)
             for i, (u, a, s) in enumerate(rows)],
            "user_id long, event_type string, ts timestamp, event_id long",
        )

    def test_run_collapse_versions_and_intervals(self, spark):
        from spamscope_spark.operators.scd import scd2_from_changes

        feed = self._feed(
            spark,
            [(1, "a", 0), (1, "a", 1), (1, "b", 2), (1, "a", 3), (2, "x", 0)],
        )
        out = sorted(
            scd2_from_changes(feed).collect(),
            key=lambda r: (r["user_id"], r["version"]),
        )
        u1 = [r for r in out if r["user_id"] == 1]
        assert [r["event_type"] for r in u1] == ["a", "b", "a"]
        assert [r["version"] for r in u1] == [1, 2, 3]
        # intervals tile: each valid_to == next valid_from; only last open
        assert u1[0]["valid_to"] == u1[1]["valid_from"]
        assert u1[1]["valid_to"] == u1[2]["valid_from"]
        assert [r["is_current"] for r in u1] == [False, False, True]
        assert len([r for r in out if r["user_id"] == 2]) == 1

    def test_randomized_feeds_match_python_model(self, spark):
        """200 random entity change feeds (duplicate timestamps, no-op
        changes, varying lengths) in ONE Spark job vs a pure-Python
        run-collapse model."""
        import datetime as dt
        import random

        from spamscope_spark.operators.scd import scd2_from_changes

        rng = random.Random(7)
        rows, eid = [], 0
        for u in range(200):
            t = 0
            for _ in range(rng.randint(1, 12)):
                t += rng.randint(0, 3)  # duplicate ts possible
                rows.append((u, rng.choice("abc"), t, eid))
                eid += 1
        feed = spark.createDataFrame(
            [(u, a, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=t), e)
             for u, a, t, e in rows],
            "user_id long, event_type string, ts timestamp, event_id long",
        )
        got = {
            (r["user_id"], r["version"]): (
                r["event_type"], str(r["valid_from"]), str(r["valid_to"]),
                r["is_current"],
            )
            for r in scd2_from_changes(feed).collect()
        }
        # python model: sort by (ts, seq), collapse runs, tile intervals
        want = {}
        by_u: dict = {}
        for u, a, t, e in rows:
            by_u.setdefault(u, []).append((t, e, a))
        for u, evs in by_u.items():
            evs.sort()
            runs = [
                (t, a) for i, (t, e, a) in enumerate(evs)
                if i == 0 or a != evs[i - 1][2]
            ]
            for v, (t, a) in enumerate(runs, 1):
                vt = runs[v][0] if v < len(runs) else None
                ts = lambda x: str(dt.datetime(2026, 1, 1) + dt.timedelta(seconds=x))  # noqa: E731
                want[(u, v)] = (a, ts(t), ts(vt) if vt is not None else "None",
                                vt is None)
        assert got == want

    def test_point_in_time_never_leaks_future_values(self, spark):
        import datetime as dt

        from spamscope_spark.operators.scd import (
            scd2_from_changes,
            scd2_point_in_time,
        )

        feed = self._feed(spark, [(1, "old", 10), (1, "new", 20)])
        dim = scd2_from_changes(feed)
        t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
        facts = spark.createDataFrame(
            [(1, t(19), 100), (1, t(20), 101), (1, t(25), 102)],
            "user_id long, ts timestamp, fact_id long",
        )
        out = {r["fact_id"]: r for r in scd2_point_in_time(facts, dim).collect()}
        assert out[100]["attr_asof"] == "old"      # 1s before the change
        assert out[101]["attr_asof"] == "new"      # boundary: inclusive start
        assert out[102]["attr_asof"] == "new"
        assert (out[100]["version_asof"], out[101]["version_asof"]) == (1, 2)

    def test_incremental_apply_equals_batch_build(self, spark):
        """Fold law: init(b1) |> apply(b2) |> apply(b3) == build(b1+b2+b3),
        including a batch row equal to the entity's current value (no
        new version) and untouched entities passing through."""
        from spamscope_spark.operators.scd import (
            init_scd2_dim,
            scd2_apply,
            scd2_from_changes,
        )

        rows = [
            (1, "a", 0), (1, "b", 2), (2, "x", 1), (3, "q", 0),   # batch 1
            (1, "b", 4), (2, "y", 5),                             # batch 2: 1 is no-op
            (1, "c", 6), (4, "new", 7),                           # batch 3
        ]
        b1, b2, b3 = rows[:4], rows[4:6], rows[6:]
        dim = init_scd2_dim(self._feed(spark, b1))
        # event_id must keep the global arrival order across batches
        all_feed = self._feed(spark, rows)
        n1 = len(b1)
        f2 = all_feed.where(F.col("event_id").isin(*range(n1, n1 + len(b2))))
        f3 = all_feed.where(F.col("event_id") >= n1 + len(b2))
        dim = scd2_apply(scd2_apply(dim, f2), f3)
        want = scd2_from_changes(all_feed, with_seq=True)
        key = lambda r: tuple(str(r[c]) for c in sorted(r.asDict()))  # noqa: E731
        assert sorted(map(key, dim.collect())) == sorted(map(key, want.collect()))
        # the no-op row for user 1 opened no version at ts=4
        u1 = [r for r in dim.collect() if r["user_id"] == 1]
        assert sorted(r["event_type"] for r in u1) == ["a", "b", "c"]


class TestWeightedSample:
    def test_matches_bruteforce_and_is_weight_monotone(self, spark):
        import hashlib
        import math

        from spamscope_spark.operators.sketch import HASH_SPACE
        from spamscope_spark.operators.corpus import weighted_sample

        rows = [(i, (i * 37) % 100 + 1) for i in range(500)]
        rows += [(900, 0), (901, None)]  # excluded: non-positive / null weight
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        got = {r["doc_id"] for r in weighted_sample(df, 25).collect()}

        def key(i, w):
            h = int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16)
            return math.log((h + 0.5) / HASH_SPACE) / w

        want = {
            i for i, _ in sorted(
                ((i, key(i, w)) for i, w in rows if w), key=lambda t: (-t[1], t[0])
            )[:25]
        }
        assert got == want and 900 not in got and 901 not in got

    def test_huge_weight_always_sampled(self, spark):
        from spamscope_spark.operators.corpus import weighted_sample

        rows = [(i, 1) for i in range(1000)] + [(5000, 10**9)]
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        got = {r["doc_id"] for r in weighted_sample(df, 5).collect()}
        # ln(u)/w -> 0- as w -> inf: the giant-weight row dominates
        assert 5000 in got


class TestApproxDistinct:
    def test_hll_within_tolerance(self, spark):
        """approx_count_distinct (rsd=0.02) stays within 5% of exact —
        the cardinality path that replaces exact distinct at 100TB."""
        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rows = (
            e.groupBy("event_type")
            .agg(
                F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
                F.countDistinct("user_id").alias("exact"),
            )
            .collect()
        )
        assert rows
        for r in rows:
            assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), r


class TestPlantedNeardups:
    def test_scaled_copies_pair_with_originals(self, spark):
        """Plant scaled copies of the first 25 corpus vectors — every
        copy must surface as a near-dup pair with its original (cosine
        == 1, LSH bucket identical under positive scaling). The
        planting lives HERE, not in the registered query, which runs
        pure on the corpus."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        copies = emb.orderBy("vec_id").limit(25).select(
            (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.01))
            .cast("array<float>")
            .alias("embedding"),
            "label",
        )
        pairs = similarity.embedding_neardup_pairs(
            emb.unionByName(copies), threshold=0.9, n_planes=4
        ).collect()
        found = {
            (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in pairs
        }
        for vid in range(25):
            assert (vid, vid + 1_000_000_000) in found, vid

    def test_semantic_dedup_finds_scaled_copies(self, spark):
        """Same planting through the k-means candidate path: a scaled
        copy normalizes to the identical unit vector, so it must share
        its source's cluster and surface with cosine 1.0."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        copies = emb.orderBy("vec_id").limit(25).select(
            (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(3.0))
            .cast("array<float>")
            .alias("embedding"),
            "label",
        )
        pairs = similarity.semantic_dedup_pairs(
            emb.unionByName(copies), threshold=0.9, n_clusters=6, n_iter=2
        ).collect()
        found = {(r["id_a"], r["id_b"]): r["cos_e6"] for r in pairs}
        for vid in range(25):
            assert found.get((vid, vid + 1_000_000_000)) == 1_000_000, vid

    def test_semantic_dedup_cluster_cap_drops_explicitly(self, spark):
        """cluster_cap=0 empties every cluster -> zero pairs (the cap
        is a hard, auditable drop, not a silent truncation)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        assert (
            similarity.semantic_dedup_pairs(
                emb, threshold=0.0, n_clusters=4, n_iter=1, cluster_cap=0
            ).count()
            == 0
        )


class TestCorpus:
    def test_dup_clusters_transitive_chain(self, spark):
        # chain a-b-c-d-e (diameter 4) + disjoint pair (x, y): transitivity
        # must close the chain even though ends never pair directly, and
        # pointer doubling must converge well under max_iter.
        pairs = spark.createDataFrame(
            [(10, 20), (20, 30), (30, 40), (40, 50), (70, 80)],
            "id_a long, id_b long",
        )
        out = {r["node"]: r["cluster_id"] for r in corpus.dup_clusters(pairs).collect()}
        assert out == {10: 10, 20: 10, 30: 10, 40: 10, 50: 10, 70: 70, 80: 70}

    def test_dup_clusters_matches_recursive_oracle(self, spark, duck):
        import random

        rng = random.Random(7)
        edges = sorted({tuple(sorted(rng.sample(range(40), 2))) for _ in range(45)})
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
        got = {
            (r["node"], r["cluster_id"])
            for r in corpus.dup_clusters(pairs).collect()
        }
        duck.execute("CREATE OR REPLACE TABLE p (id_a BIGINT, id_b BIGINT)")
        duck.executemany("INSERT INTO p VALUES (?, ?)", edges)
        want = set(
            duck.execute(
                corpus.sql_dup_clusters("SELECT id_a, id_b FROM p")
            ).fetchall()
        )
        assert got == want

    def test_apply_dedup_keeps_cluster_canonicals(self, spark):
        # clusters {1,2,3} (via chain) and {7,8}; 5 untouched → keep
        # min-id per cluster plus the unpaired doc.
        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in (1, 2, 3, 5, 7, 8)],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
        )
        kept = sorted(
            r["doc_id"] for r in corpus.apply_dedup(docs, pairs).collect()
        )
        assert kept == [1, 5, 7]

    def test_bigram_logprob_hand_computed(self, spark):
        import math

        # corpus: "a b a b" and "a b c". model: after 'a' → b:3/3;
        # after 'b' → a:1/3, c:1/3... wait counts: bigrams d1: (a,b),
        # (b,a),(a,b); d2: (a,b)? no: "a b c" → (a,b),(b,c).
        # pair counts: (a,b)=3, (b,a)=1, (b,c)=1; ctx a=3, b=2.
        # d1 mean = (ln(3/3)+ln(1/2)+ln(3/3))/3 = ln(0.5)/3
        # d2 mean = (ln(3/3)+ln(1/2))/2 = ln(0.5)/2
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "solo")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["bigram_logprob_e6"], r["n_bigrams"])
            for r in corpus.bigram_logprob(df).collect()
        }
        assert out[1] == (math.floor(math.log(0.5) / 3 * 1e6 + 0.5), 3)
        assert out[2] == (math.floor(math.log(0.5) / 2 * 1e6 + 0.5), 2)
        assert 3 not in out  # single-word doc: no bigrams

    def test_repetition_stats_hand_computed(self, spark):
        # doc 1: lines [x, x, y] -> dup_line 1/3; words [x,x,y] ->
        # 3-grams with padding rule: size-2 array -> one gram "x x y";
        # top word x: 2/3.
        # doc 2: "a b a b a" -> 3-grams: [a b a, b a b, a b a] ->
        # dup 1/3; top word a: 3/5; single line -> dup_line 0.
        # doc 3: empty -> null fracs, no words row (left join nulls).
        df = spark.createDataFrame(
            [(1, "x\nx\ny"), (2, "a b a b a"), (3, "")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in corpus.repetition_stats(df).collect()}
        assert round(out[1]["dup_line_frac"], 6) == round(1 / 3, 6)
        assert out[1]["dup_ngram_frac"] == 0.0
        assert round(out[1]["top_word_frac"], 6) == round(2 / 3, 6)
        assert out[2]["dup_line_frac"] == 0.0
        assert round(out[2]["dup_ngram_frac"], 6) == round(1 / 3, 6)
        assert out[2]["top_word_frac"] == 0.6 and out[2]["n_words"] == 5
        assert out[3]["dup_line_frac"] is None
        assert out[3]["top_word_frac"] is None

    def test_paragraph_dedup_hand_computed(self, spark):
        # chunk_words=3: doc1 = [a b c][d e f], doc2 = [a b c][x y z],
        # doc3 = [q r s], doc4 empty. Span "a b c" has df=2 -> dup in
        # both docs 1 and 2; everything else df=1.
        df = spark.createDataFrame(
            [
                (1, "a b c d e f"),
                (2, "a b c x y z"),
                (3, "q r s"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in corpus.paragraph_dedup(df, chunk_words=3).collect()
        }
        assert (out[1]["n_paras"], out[1]["n_dup_paras"]) == (2, 1)
        assert out[1]["dup_para_frac"] == 0.5
        assert out[2]["dup_para_frac"] == 0.5
        assert (out[3]["n_paras"], out[3]["n_dup_paras"]) == (1, 0)
        assert 4 not in out  # empty doc: no spans, no row
        # intra-doc repetition alone is NOT boilerplate: df counts
        # DISTINCT docs, so a span repeated inside one doc stays df=1
        solo = spark.createDataFrame(
            [(9, "a b c a b c")], "doc_id long, text string"
        )
        r = corpus.paragraph_dedup(solo, chunk_words=3).collect()[0]
        assert (r["n_paras"], r["n_dup_paras"]) == (2, 0)

    def test_redact_masks_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "mail bob@x.org and 1.2.3.4 card 4111 1111 1111 1111 end"),
             (2, "clean text")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id",
                corpus.redact_text(F.col("text")).alias("red"),
                *corpus.pii_counts(F.col("text")),
            ).collect()
        }
        assert rows[1]["red"] == "mail <EMAIL> and <IP> card <NUM> end"
        assert (rows[1]["n_email"], rows[1]["n_ip"], rows[1]["n_num"]) == (1, 1, 1)
        assert rows[2]["red"] == "clean text"
        assert (rows[2]["n_email"], rows[2]["n_ip"], rows[2]["n_num"]) == (0, 0, 0)

    def test_pack_shards_budget_boundaries(self, spark):
        # tokens: 3,3,3 with budget 6 -> cumsum-before 0,3,6 -> shards 0,0,1
        # (n_buckets=1 isolates the budget math from the skew sub-split)
        df = spark.createDataFrame(
            [(1, "a b c", "s"), (2, "d e f", "s"), (3, "g h i", "s"),
             (4, "j", "t")],
            "doc_id long, text string, source string",
        )
        out = {
            r["doc_id"]: (r["shard_idx"], r["shard_id"], r["n_tokens"])
            for r in corpus.pack_shards(df, budget=6, n_buckets=1).collect()
        }
        assert out[1] == (0, "s/0/0", 3)
        assert out[2] == (0, "s/0/0", 3)
        assert out[3] == (1, "s/0/1", 3)
        assert out[4] == (0, "t/0/0", 1)

    def test_pack_shards_dominant_source_parallelizes(self, spark):
        # one giant stratum must NOT serialize through a single window
        # task: the cumsum partitions on (source, bucket), so a
        # 100%-one-source corpus still spreads over n_buckets windows
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, "w " * (i % 5 + 1), "big") for i in range(64)],
            "doc_id long, text string, source string",
        )
        out = corpus.pack_shards(df, budget=8, n_buckets=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "bucket" in plan  # window partition key includes the bucket
        rows = out.collect()
        assert {r["bucket"] for r in rows} == set(range(8))
        # per-bucket budget math holds independently in every sub-bucket
        for b in range(8):
            got = sorted(
                (r["doc_id"], r["n_tokens"], r["shard_idx"])
                for r in rows
                if r["bucket"] == b
            )
            cum = 0
            for doc_id, n, idx in got:
                assert idx == cum // 8
                cum += n
        # deterministic under a different physical partitioning
        again = {
            (r["doc_id"], r["shard_id"])
            for r in corpus.pack_shards(
                df.repartition(13, F.col("text")), budget=8, n_buckets=8
            ).collect()
        }
        assert again == {(r["doc_id"], r["shard_id"]) for r in rows}

    def test_decontaminate_finds_planted_overlap(self, spark):
        corpus_df = spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "totally unrelated words here")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "quick brown fox runs away")], "bench_id long, text string"
        )
        rows = corpus.decontaminate(corpus_df, bench, n=3).collect()
        assert [(r["doc_id"], r["bench_id"], r["n_shared"]) for r in rows] == [
            (1, 100, 1)  # shared 3-gram: "quick brown fox"
        ]

    def test_bloom_decontaminate_superset_of_exact(self, spark):
        """No false negatives by construction: every doc the exact
        operator flags must be Bloom-flagged; false positives stay
        under the filter's FPR on a clean corpus."""
        docs = [
            (i, f"clean doc {i} alpha beta gamma delta {i * 7} {i * 13}")
            for i in range(200)
        ]
        docs += [(500 + i, f"leak{i} quick brown fox epsilon") for i in range(5)]
        corpus_df = spark.createDataFrame(docs, "doc_id long, text string")
        bench = spark.createDataFrame(
            [(900 + i, f"leak{i} quick brown fox zeta") for i in range(5)],
            "doc_id long, text string",
        )
        exact = {
            r["doc_id"]
            for r in corpus.decontaminate(
                corpus_df,
                bench.select(F.col("doc_id").alias("bench_id"), "text"),
                n=3,
            ).collect()
        }
        bloom = {
            r["doc_id"]: r["n_hit_shingles"]
            for r in corpus.bloom_decontaminate(corpus_df, bench, n=3).collect()
        }
        assert exact == {500, 501, 502, 503, 504}
        assert exact <= set(bloom)
        # 2^18-bit filter, ~15 benchmark shingles: FPR ~ 0 on 200 clean docs
        assert len(set(bloom) - exact) <= 2
        # each leaked doc shares exactly the 'leakN quick brown' + 'quick
        # brown fox' 3-grams with its benchmark twin
        assert all(bloom[d] >= 2 for d in exact)

    def test_stratified_sample_rates(self, spark):
        rows = [(i, "en" if i % 2 == 0 else "de") for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        kept = corpus.stratified_sample(
            df, {"en": 1.0, "de": 0.0}, default_rate=0.0
        ).collect()
        assert {r["lang"] for r in kept} == {"en"}
        assert len(kept) == 200
        # fractional rate lands near its expectation (md5 is uniform)
        frac = corpus.stratified_sample(df, {"en": 0.5, "de": 0.5}).count()
        assert 140 <= frac <= 260

    def test_chunk_documents_boundaries(self, spark):
        # 10 words, size=4, overlap=1 (stride 3): ceil((10-4)/3)+1 = 3
        # chunks covering words [0:4), [3:7), [6:10); 3-word doc -> one
        # chunk; empty doc -> no chunks.
        ten = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, ten), (2, "a b c"), (3, "   "), (4, None)],
            "doc_id long, text string",
        )
        out = corpus.chunk_documents(df, size=4, overlap=1)
        rows = {
            (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["chunk_tokens"])
            for r in out.collect()
        }
        assert rows[(1, 0)] == ("w0 w1 w2 w3", 4)
        assert rows[(1, 1)] == ("w3 w4 w5 w6", 4)
        assert rows[(1, 2)] == ("w6 w7 w8 w9", 4)
        assert rows[(2, 0)] == ("a b c", 3)
        assert {d for d, _ in rows} == {1, 2}

    def test_chunk_documents_exact_stride_end(self, spark):
        # (nw - size) divisible by stride: last chunk must end exactly at
        # the final word, no phantom extra chunk. nw=7, size=4, stride=3.
        df = spark.createDataFrame(
            [(1, "a b c d e f g")], "doc_id long, text string"
        )
        out = corpus.chunk_documents(df, size=4, overlap=1).collect()
        assert [(r["chunk_idx"], r["chunk_text"]) for r in sorted(
            out, key=lambda r: r["chunk_idx"]
        )] == [(0, "a b c d"), (1, "d e f g")]

    def test_tfidf_hand_computed(self, spark):
        import math

        # "rare" appears once in doc 1 only (df=1); "the" in all 3 (df=3,
        # ln(3/3)=0). Top term of doc 1 must be "rare".
        df = spark.createDataFrame(
            [(1, "the rare word"), (2, "the common word"), (3, "the word")],
            "doc_id long, text string",
        )
        out = corpus.tfidf_topk(df, k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        top1 = {d: rs[0]["word"] for d, rs in by_doc.items()
                for rs in [sorted(rs, key=lambda r: r["rank"])]}
        assert top1[1] == "rare"
        assert top1[2] == "common"
        r1 = next(r for r in out if r["doc_id"] == 1 and r["word"] == "rare")
        assert r1["tf"] == 1 and r1["df_docs"] == 1
        assert r1["tfidf_e4"] == math.floor(math.log(3.0) * 1e4 + 0.5)


class TestIncrementalDedup:
    """incremental_lsh_matches — new-batch-vs-corpus near-dup via the
    persisted LSH index join shape (dedup.py)."""

    @pytest.fixture(scope="class")
    def split(self, spark):
        corpus_rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "totally different words entirely unrelated content here now"),
        ]
        new_rows = [
            (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # exact dup of 1
            (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # near dup of 1
            (102, "fresh novel sentence with vocabulary shared by nobody else"),
        ]
        schema = "doc_id long, text string"
        return (
            spark.createDataFrame(corpus_rows, schema),
            spark.createDataFrame(new_rows, schema),
        )

    def test_matches_new_against_corpus_only(self, spark, split):
        corpus_df, new_df = split
        out = dedup.incremental_lsh_matches(
            corpus_df, new_df, "doc_id", n=3, threshold=0.4
        ).collect()
        by_new = {r["new_id"]: r for r in out}
        # the exact dup matches its corpus source at estimate 1.0
        assert by_new[100]["match_id"] == 1
        assert by_new[100]["est_jaccard"] == 1.0
        # the novel doc is not flagged
        assert 102 not in by_new
        # corpus ids never appear on the new side; one row per new doc
        assert all(k >= 100 for k in by_new)
        assert len(out) == len(by_new)

    def test_corpus_docs_never_pair_with_each_other(self, spark, split):
        corpus_df, new_df = split
        # corpus docs 1 and an injected exact dup of 1 must NOT surface:
        # only new-vs-corpus rows come out
        corpus_plus = corpus_df.union(
            corpus_df.where(F.col("doc_id") == 1).select(
                (F.col("doc_id") + 50).alias("doc_id"), "text"
            )
        )
        out = dedup.incremental_lsh_matches(
            corpus_plus, new_df, "doc_id", n=3, threshold=0.4
        ).collect()
        assert {r["new_id"] for r in out} <= {100, 101, 102}

    def test_bucket_cap_drops_boilerplate(self, spark):
        hot = "this message was scanned by the corporate gateway and found clean"
        corpus_df = spark.createDataFrame(
            [(i, f"{hot}") for i in range(60)]
            + [(900, "alpha beta gamma delta epsilon zeta eta theta iota")],
            "doc_id long, text string",
        )
        new_df = spark.createDataFrame(
            [
                (1000, hot),
                (1001, "alpha beta gamma delta epsilon zeta eta theta iota"),
            ],
            "doc_id long, text string",
        )
        out = dedup.incremental_lsh_matches(
            corpus_df, new_df, "doc_id", n=3, threshold=0.4, max_bucket_size=10
        ).collect()
        by_new = {r["new_id"]: r["match_id"] for r in out}
        # the boilerplate bucket (60 corpus docs) is capped away...
        assert 1000 not in by_new
        # ...while the sparse planted pair still matches
        assert by_new.get(1001) == 900


class TestHashClassifier:
    """hashed_linear_scores — hashing-trick linear quality model with a
    broadcast weight table (functions/textstats.py)."""

    def _py_score(self, text: str):
        import hashlib
        import math
        import re

        toks = re.split(r"\s+", text.strip().lower()) or [""]
        if text.strip() == "":
            toks = [""]
        s = 0
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % textstats.HASH_DIM
            h = int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:6], 16)
            s += h % 2001 - 1000
        # micro-unit floor — round(x, 6) is ambiguous exactly at the
        # half boundary (engines disagree; see hashed_linear_scores)
        x = s / (1000.0 * len(toks))
        return x, math.floor(x * 1e6)

    def test_matches_python_reference(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "alpha beta gamma"),
            (3, "payment urgent verify account suspended click here"),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        w = textstats.hash_feature_weights(spark)
        out = {
            r["doc_id"]: r
            for r in textstats.hashed_linear_scores(df, w, "doc_id").collect()
        }
        for doc_id, text in rows:
            x, expect_e6 = self._py_score(text or "")
            assert out[doc_id]["lm_quality_e6"] == expect_e6, doc_id
            assert out[doc_id]["keep"] == (x > 0)

    def test_weight_table_shape(self, spark):
        w = textstats.hash_feature_weights(spark).collect()
        assert len(w) == textstats.HASH_DIM
        assert all(-1000 <= r["w_int"] <= 1000 for r in w)

    def test_weight_join_is_broadcast(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        w = textstats.hash_feature_weights(spark)
        plan = (
            textstats.hashed_linear_scores(df, w, "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestCepMatchSequence:
    """Golden cases for operators/cep.py: chain breaks, most-recent-start
    selection, time bound inclusivity, per-key isolation, tie-break."""

    def _run(self, spark, rows, within_s=600):
        from spamscope_spark.operators import cep

        df = spark.createDataFrame(
            rows, "k string, ts timestamp, id long, et string"
        )
        out = cep.match_sequence(
            df,
            key="k",
            ts="ts",
            id_col="id",
            start_pred=F.col("et") == "S",
            mid_pred=F.col("et") == "M",
            end_pred=F.col("et") == "E",
            within_s=within_s,
        )
        return {
            (r.k, r.start_id, r.end_id): (r.n_mid, r.duration_ms)
            for r in out.collect()
        }

    def test_basic_match_and_mid_count(self, spark):
        rows = [
            ("a", _ts(0), 1, "S"),
            ("a", _ts(1), 2, "M"),
            ("a", _ts(2), 3, "M"),
            ("a", _ts(3), 4, "E"),
        ]
        got = self._run(spark, rows)
        assert got == {("a", 1, 4): (2, 180_000)}

    def test_other_event_breaks_chain(self, spark):
        rows = [
            ("a", _ts(0), 1, "S"),
            ("a", _ts(1), 2, "X"),  # breaker
            ("a", _ts(2), 3, "E"),
        ]
        assert self._run(spark, rows) == {}

    def test_most_recent_start_wins_and_end_breaks(self, spark):
        rows = [
            ("a", _ts(0), 1, "S"),
            ("a", _ts(1), 2, "S"),   # later start supersedes
            ("a", _ts(2), 3, "E"),   # matches id 2; also breaks the chain
            ("a", _ts(3), 4, "E"),   # no start since the break -> no match
        ]
        assert self._run(spark, rows) == {("a", 2, 3): (0, 60_000)}

    def test_within_bound_is_inclusive(self, spark):
        rows = [
            ("a", _ts(0), 1, "S"),
            ("a", _ts(10), 2, "E"),   # exactly 600 s
            ("b", _ts(0), 3, "S"),
            ("b", _ts(10.001), 4, "E"),  # 600.06 s -> out
        ]
        got = self._run(spark, rows, within_s=600)
        assert got == {("a", 1, 2): (0, 600_000)}

    def test_keys_are_isolated(self, spark):
        rows = [
            ("a", _ts(0), 1, "S"),
            ("b", _ts(1), 2, "E"),  # no start on key b
        ]
        assert self._run(spark, rows) == {}

    def test_same_ts_tiebreak_by_id(self, spark):
        # S and E share a timestamp: id order puts S first, so E matches.
        rows = [
            ("a", _ts(0), 1, "S"),
            ("a", _ts(0), 2, "E"),
        ]
        assert self._run(spark, rows) == {("a", 1, 2): (0, 0)}


class TestHeavyHitters:
    def test_matches_naive_groupby_on_skewed_partitions(self, spark):
        from spamscope_spark.operators.corpus import heavy_hitters

        # 8 partitions; token "rare-but-global" sits just above 1/k_inv
        # GLOBALLY while being locally below it in most partitions —
        # the pigeonhole superset must still surface it.
        rows = []
        for p in range(8):
            common = " ".join(["filler%d" % (i % 40) for i in range(200)])
            rows.append((p * 10, common))
            # 5 occurrences per partition = 40 global; pad to make the
            # local share small
            rows.append((p * 10 + 1, " ".join(["needle"] * 5)))
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

        k_inv = 45  # needle: 40 / 1640 tokens = 2.44% >= 1/45
        got = {
            (r.token, r.cnt, r.share)
            for r in heavy_hitters(df, k_inv=k_inv).collect()
        }
        toks = df.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
        )
        total = toks.count()
        exp = {
            (r.token, r.cnt, round(r.cnt / total, 6))
            for r in toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") * k_inv >= total)
            .collect()
        }
        assert ("needle", 40, round(40 / total, 6)) in exp
        assert got == exp

    def test_empty_and_null_text(self, spark):
        from spamscope_spark.operators.corpus import heavy_hitters

        df = spark.createDataFrame(
            [(1, None), (2, "   "), (3, "a a a b")],
            "doc_id long, text string",
        )
        got = {(r.token, r.cnt) for r in heavy_hitters(df, k_inv=2).collect()}
        assert got == {("a", 3)}


class TestSeqPacking:
    def test_offsets_and_spans_hand_computed(self, spark):
        # one stratum, tokens 3,3,3, ctx=4: stream offsets 0,3,6 —
        # doc 2 and doc 3 each span a sequence boundary
        df = spark.createDataFrame(
            [(1, "a b c", "s"), (2, "d e f", "s"), (3, "g h i", "s")],
            "doc_id long, text string, source string",
        )
        out = {
            r["doc_id"]: (
                r["tok_start"], r["first_seq"], r["last_seq"],
                r["n_seqs"], r["offset_in_seq"], r["seq_id"],
            )
            for r in corpus.seq_packing(df, ctx=4, n_buckets=1).collect()
        }
        assert out[1] == (0, 0, 0, 1, 0, "s/0/0")
        assert out[2] == (3, 0, 1, 2, 3, "s/0/0")
        assert out[3] == (6, 1, 2, 2, 2, "s/0/1")

    def test_stream_is_gapless_per_stratum(self, spark):
        # within every (source, bucket) stratum the doc offsets tile the
        # token stream exactly: next start == previous start + n_tokens
        df = spark.createDataFrame(
            [(i, "w " * (i % 7 + 1), "src" + str(i % 2)) for i in range(40)],
            "doc_id long, text string, source string",
        )
        rows = corpus.seq_packing(df, ctx=8, n_buckets=4).collect()
        strata: dict = {}
        for r in rows:
            strata.setdefault((r["source"], r["bucket"]), []).append(r)
        assert len(strata) > 1
        for docs in strata.values():
            docs.sort(key=lambda r: r["doc_id"])
            cum = 0
            for r in docs:
                assert r["tok_start"] == cum
                assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1
                cum += r["n_tokens"]

    def test_deterministic_across_partitionings(self, spark):
        df = spark.createDataFrame(
            [(i, "tok " * (i % 5 + 1), "s") for i in range(30)],
            "doc_id long, text string, source string",
        )
        a = {
            (r["doc_id"], r["seq_id"], r["tok_start"])
            for r in corpus.seq_packing(df, ctx=16).collect()
        }
        b = {
            (r["doc_id"], r["seq_id"], r["tok_start"])
            for r in corpus.seq_packing(
                df.repartition(7, F.col("text")), ctx=16
            ).collect()
        }
        assert a == b


class TestDsirWeights:
    def _py_reference(self, corpus_docs, target_docs):
        """Plain-Python DSIR twin: same md5 bucketing, add-one smoothing."""
        import hashlib
        from collections import Counter

        from spamscope_spark.functions.textstats import HASH_DIM

        def bucket(tok: str) -> int:
            return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % HASH_DIM

        def toks(text: str) -> list[str]:
            return [w for w in text.strip().lower().split() if w]

        n_t: Counter = Counter()
        for t in target_docs:
            n_t.update(bucket(w) for w in toks(t))
        n_s: Counter = Counter()
        for _, t in corpus_docs:
            n_s.update(bucket(w) for w in toks(t))
        import math

        T, S = sum(n_t.values()), sum(n_s.values())
        lr = {
            b: math.log((n_t.get(b, 0) + 1) / (T + HASH_DIM))
            - math.log((n_s.get(b, 0) + 1) / (S + HASH_DIM))
            for b in range(HASH_DIM)
        }
        out = {}
        for doc_id, t in corpus_docs:
            ws = toks(t)
            if ws:
                out[doc_id] = math.floor(
                    sum(lr[bucket(w)] for w in ws) / len(ws) * 1e6 + 0.5
                )
        return out

    def test_matches_python_reference(self, spark):
        corpus_docs = [
            (1, "alpha beta gamma alpha"),
            (2, "delta epsilon zeta"),
            (3, "alpha alpha beta"),
            (4, "eta theta iota kappa"),
        ]
        target_docs = ["alpha beta", "alpha gamma beta"]
        df = spark.createDataFrame(corpus_docs, "doc_id long, text string")
        tgt = spark.createDataFrame([(t,) for t in target_docs], "text string")
        got = {
            r["doc_id"]: r["dsir_logweight_e6"]
            for r in corpus.dsir_weights(df, tgt).collect()
        }
        exp = self._py_reference(corpus_docs, target_docs)
        assert got == exp

    def test_target_like_docs_score_higher(self, spark):
        # docs built from the target's vocabulary must out-score docs
        # from disjoint vocabulary
        corpus_docs = [(i, "alpha beta gamma") for i in range(1, 4)] + [
            (i, "xray yankee zulu") for i in range(4, 7)
        ]
        df = spark.createDataFrame(corpus_docs, "doc_id long, text string")
        tgt = spark.createDataFrame(
            [("alpha beta",), ("beta gamma alpha",)], "text string"
        )
        got = {
            r["doc_id"]: r["dsir_logweight_e6"]
            for r in corpus.dsir_weights(df, tgt).collect()
        }
        assert min(got[i] for i in (1, 2, 3)) > max(got[i] for i in (4, 5, 6))

    def test_model_join_is_broadcast(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, "c d")], "doc_id long, text string"
        )
        tgt = spark.createDataFrame([("a",)], "text string")
        plan = (
            corpus.dsir_weights(df, tgt)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestCcnetBuckets:
    def test_tiers_follow_score_order(self, spark):
        # 9 docs with clearly separated bigram scores: repeated-bigram
        # docs score high (their bigrams dominate the corpus model),
        # unique-word-chain docs score low
        rows = (
            [(i, "good flow " * 8) for i in range(3)]
            + [(i, "mid tier text with some shared flow words") for i in range(3, 6)]
            + [
                (6, "q w e r t y u i o p"),
                (7, "z x c v b n m k j h"),
                (8, "one two three four five six seven"),
            ]
        )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = corpus.ccnet_buckets(df).collect()
        assert len(out) == 9
        by_score = sorted(out, key=lambda r: r["bigram_logprob_e6"])
        tiers = [r["ppl_bucket"] for r in by_score]
        # tiers are monotone in score: tail <= middle <= head
        order = {"tail": 0, "middle": 1, "head": 2}
        assert all(
            order[tiers[i]] <= order[tiers[i + 1]] for i in range(len(tiers) - 1)
        )
        assert {"head", "middle", "tail"} == set(tiers)

    def test_cutoff_join_is_broadcast_not_sort(self, spark):
        df = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2}") for i in range(12)],
            "doc_id long, text string",
        )
        plan = (
            corpus.ccnet_buckets(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        # the corpus itself is never globally sorted for the tier cut
        assert "Sort [bigram_logprob" not in plan  # covers _e6 too


class TestGroupedLinreg:
    def test_exact_line_degenerate_and_noise(self, spark):
        from spamscope_spark.operators.regress import grouped_linreg

        rows = [("line", float(i), 3.0 * i + 2.0) for i in range(10)]
        rows += [("flat_x", 5.0, float(i)) for i in range(4)]   # zero x-var
        rows += [("flat_y", float(i), 7.0) for i in range(4)]   # zero y-var
        rows += [("tiny", 1.0, 1.0)]                            # n < min_n
        rows += [("nulls", None, 1.0), ("nulls", 1.0, None), ("nulls", 2.0, 5.0)]
        df = spark.createDataFrame(rows, "grp string, x double, y double")
        out = {
            r["grp"]: r
            for r in grouped_linreg(df, "grp", F.col("x"), F.col("y")).collect()
        }
        # half-up micro-unit BIGINT outputs (functions/exact.py)
        assert out["line"]["slope_e6"] == 3_000_000
        assert out["line"]["intercept_e6"] == 2_000_000
        assert out["line"]["r2_e6"] == 1_000_000
        assert out["line"]["corr_e6"] == 1_000_000
        assert out["flat_x"]["slope_e6"] is None
        # zero y-variance: slope/intercept defined (0, mean), r2/corr not
        assert out["flat_y"]["slope_e6"] == 0
        assert out["flat_y"]["intercept_e6"] == 7_000_000
        assert out["flat_y"]["r2_e6"] is None and out["flat_y"]["corr_e6"] is None
        assert out["tiny"]["slope_e6"] is None
        # null-pair exclusion: only the complete row counts
        assert out["nulls"]["n"] == 1


class TestFunnelAndCohort:
    def test_funnel_requires_strict_order(self, spark):
        import datetime as dt

        from spamscope_spark.plans.queries import QUERIES

        t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
        rows = [
            # u1: full ordered funnel
            (1, "view", t(1)), (1, "click", t(2)), (1, "purchase", t(3)),
            # u2: clicked BEFORE viewing -> stops at step 1
            (2, "click", t(1)), (2, "view", t(2)), (2, "purchase", t(3)),
            # u3: view+click only
            (3, "view", t(1)), (3, "click", t(5)),
            # u4: never viewed
            (4, "purchase", t(1)),
        ]
        df = spark.createDataFrame(
            [(u, et, ts, i) for i, (u, et, ts) in enumerate(rows)],
            "user_id long, event_type string, ts timestamp, event_id long",
        )
        import os
        import tempfile

        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        r = QUERIES["q_funnel"](spark, d).collect()[0]
        assert (r["n_users"], r["step1_view"]) == (4, 3)
        assert (r["step2_click"], r["step3_purchase"]) == (2, 1)
        assert r["conversion"] == pytest.approx(1 / 3, abs=1e-6)

    def test_cohort_offsets_and_retention(self, spark):
        import datetime as dt
        import os
        import tempfile

        from spamscope_spark.plans.queries import QUERIES

        day = lambda d, h=0: dt.datetime(2026, 1, 1 + d, h)  # noqa: E731
        rows = [
            (1, day(0)), (1, day(0, 5)), (1, day(2)),   # cohort d0, active d0+d2
            (2, day(0)),                                  # cohort d0, d0 only
            (3, day(1)), (3, day(2)),                     # cohort d1, d0+d1 offsets
        ]
        df = spark.createDataFrame(
            [(u, "view", ts, i) for i, (u, ts) in enumerate(rows)],
            "user_id long, event_type string, ts timestamp, event_id long",
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {
            (str(r["cohort_day"]), r["day_offset"]): (r["n_active"], r["retention"])
            for r in QUERIES["q_cohort_retention"](spark, d).collect()
        }
        assert out[("2026-01-01", 0)] == (2, 1.0)
        assert out[("2026-01-01", 2)] == (1, 0.5)
        assert out[("2026-01-02", 0)] == (1, 1.0)
        assert out[("2026-01-02", 1)] == (1, 1.0)
        assert len(out) == 4  # same-day repeat visits dedup to one row


class TestPmiPairs:
    """Round-4: PMI collocation mining — hand-computable fixture."""

    def test_pmi_values_and_support(self, spark):
        import math

        from spamscope_spark.operators.corpus import pmi_pairs

        # 10 docs: "a b" co-occur in 6, "a c" in 2, "d" alone in 2
        rows = (
            [(i, "a b") for i in range(6)]
            + [(i + 6, "a c") for i in range(2)]
            + [(i + 8, "d") for i in range(2)]
        )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pmi_pairs(df, top_vocab=10, min_pair_docs=2, k=10).collect()
        got = {(r["tok_a"], r["tok_b"]): (r["n_ab"], r["pmi_e6"]) for r in out}
        # n(a)=8, n(b)=6, n(c)=2, N=10; score is micro-unit BIGINT
        # floor(ln(ratio)*1e6) per the exact.py doctrine (round-5)
        assert got[("a", "b")][0] == 6
        assert got[("a", "b")][1] == math.floor(
            math.log(6 * 10 / (8 * 6)) * 1e6
        )
        assert got[("a", "c")] == (
            2,
            math.floor(math.log(2 * 10 / (8 * 2)) * 1e6),
        )
        assert ("a", "d") not in got  # never co-occur

    def test_vocab_cap_prunes_pairs(self, spark):
        from spamscope_spark.operators.corpus import pmi_pairs

        # rare tokens outside top-2 vocabulary produce no pairs
        rows = [(i, "x y rare%d" % i) for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pmi_pairs(df, top_vocab=2, min_pair_docs=2, k=10).collect()
        assert {(r["tok_a"], r["tok_b"]) for r in out} == {("x", "y")}

    def test_distinct_per_doc_not_multiplicity(self, spark):
        from spamscope_spark.operators.corpus import pmi_pairs

        rows = [(0, "p q p q p q"), (1, "p q")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pmi_pairs(df, top_vocab=5, min_pair_docs=1, k=5).collect()
        assert [(r["tok_a"], r["tok_b"], r["n_ab"]) for r in out] == [
            ("p", "q", 2)
        ]


class TestSmallSideGuards:
    """Round-5: loud plan-time caps on the 'small side' assumptions
    (operators/guards.py) — a misuse that silently OOMs or amplifies a
    shuffle at 100 TB must fail at plan construction instead."""

    def test_literal_dim_guard_trips_and_passes(self, spark):
        from spamscope_spark.operators import guards
        import pytest as _pt

        guards.check_literal_dim(list(range(10)), "x")  # fine
        with _pt.raises(ValueError, match="broadcast-dimension cap"):
            guards.check_literal_dim(list(range(11)), "x", cap=10)

    def test_cosine_topk_rejects_huge_query_set(self, spark):
        import pytest as _pt

        from spamscope_spark.operators import similarity

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        with _pt.raises(ValueError, match="broadcast-dimension cap"):
            similarity.cosine_topk(
                emb, list(range(guards_cap() + 1)), k=1
            )

    def test_salted_join_rejects_big_replicated_side(self, spark):
        import pytest as _pt

        from spamscope_spark.operators import guards, skew

        big = spark.range(100).withColumnRenamed("id", "k")
        small = spark.range(50).withColumnRenamed("id", "k")
        # normal path: fine under the default cap
        assert (
            skew.salted_join(
                big, small, ["k"], salt_source=F.col("k"), n_salts=4
            ).count()
            == 50
        )
        # the same plan trips a tiny cap loudly, BEFORE any job runs
        est = guards.plan_size_bytes(small)
        assert est > 0
        import unittest.mock as mock

        with mock.patch.object(guards, "MAX_REPLICATED_BYTES", est * 2):
            with _pt.raises(ValueError, match="replicated-shuffle cap"):
                skew.salted_join(
                    big, small, ["k"], salt_source=F.col("k"), n_salts=4
                )

    def test_replicated_size_skips_side_without_statistics(
        self, spark, monkeypatch
    ):
        """A stat-less plan reports spark.sql.defaultSizeInBytes; that is
        no size at all, so the guard must not reject the side for it."""
        from spamscope_spark.operators import guards, skew

        big = spark.range(100).withColumnRenamed("id", "k")
        small = spark.range(50).withColumnRenamed("id", "k")
        default = guards.default_size_bytes(small)
        monkeypatch.setattr(guards, "plan_size_bytes", lambda df: default)
        guards.check_replicated_size(small, 4, "stat-less side")
        assert (
            skew.salted_join(
                big, small, ["k"], salt_source=F.col("k"), n_salts=4
            ).count()
            == 50
        )

    def test_replicated_size_real_over_cap_estimate_still_raises(
        self, spark, monkeypatch
    ):
        import pytest as _pt

        from spamscope_spark.operators import guards

        small = spark.range(50).withColumnRenamed("id", "k")
        # the largest estimate that is still a real one
        below = guards.default_size_bytes(small) - 1
        monkeypatch.setattr(guards, "plan_size_bytes", lambda df: below)
        with _pt.raises(ValueError, match="replicated-shuffle cap"):
            guards.check_replicated_size(small, 1, "huge side")


def guards_cap() -> int:
    from spamscope_spark.operators import guards

    return guards.MAX_LITERAL_DIM


class TestRandomProjection:
    """Round-5: JL random projection — distance preservation and the
    narrow plan contract."""

    def test_scaled_copy_sketches_scale_exactly(self, spark):
        import pandas as pd

        from spamscope_spark.operators import similarity

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", "embedding").limit(20)
        doubled = emb.select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0))
            .cast("array<float>")
            .alias("embedding"),
        )
        out = similarity.random_projection(
            emb.unionByName(doubled), out_dim=4, dim=64
        ).toPandas()
        base = out[out.vec_id < 10_000_000].set_index(["vec_id", "coord"])
        dup = out[out.vec_id >= 10_000_000]
        # projection is linear: sketch(2v) == 2*sketch(v) up to the e6
        # quantization (+/-1 from independent half-up rounding)
        for _, r in dup.iterrows():
            b = base.loc[(r.vec_id - 10_000_000, r.coord), "value_e6"]
            assert abs(int(r.value_e6) - 2 * int(b)) <= 1, (r.vec_id, r.coord)

    def test_distances_preserved_within_jl_bound(self, spark):
        import itertools
        import math

        from spamscope_spark.operators import similarity

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(30)
        vecs = {
            r["vec_id"]: r["embedding"] for r in emb.collect()
        }
        sk = similarity.random_projection(emb, out_dim=16, dim=64).collect()
        sketches: dict = {}
        for r in sk:
            sketches.setdefault(r["vec_id"], {})[r["coord"]] = (
                r["value_e6"] / 1e6
            )

        def dist(a, b):
            return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

        ratios = []
        for i, j in itertools.combinations(sorted(vecs), 2):
            d0 = dist(vecs[i], vecs[j])
            s_i = [sketches[i][c] for c in range(16)]
            s_j = [sketches[j][c] for c in range(16)]
            if d0 > 0:
                ratios.append(dist(s_i, s_j) / d0)
        # k=16 gives a loose eps; the MEAN ratio must sit near 1 and
        # no pair may collapse or blow up pathologically
        mean = sum(ratios) / len(ratios)
        assert 0.8 < mean < 1.2, mean
        assert all(0.3 < r < 2.5 for r in ratios), (min(ratios), max(ratios))

    def test_plan_is_narrow(self, spark):
        from spamscope_spark.operators import similarity
        from spamscope_spark.plans import explain

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        txt = explain.plan_text(
            similarity.random_projection(emb, out_dim=8, dim=64)
        )
        assert "Exchange" not in txt
        assert "BatchEvalPython" not in txt and "ArrowEvalPython" not in txt
